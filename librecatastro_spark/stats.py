"""Document & term statistics — the single shuffle pass of the build.

ES maintains per-shard doc counts, doc lengths, and term document/collection
frequencies to score BM25; we compute them once from the corpus and
broadcast the tiny global part (N, avgdl) as driver constants, and df/cf as
a term-keyed table that is co-partitioned with the postings (same shuffle
key ``term``), so the posting build pays no extra shuffle for stats.

Flow (exactly two wide exchanges end-to-end, SURVEY.md §4):
  docs --tokenize (codegen)--> posexplode --> (doc_id, term)
       --groupBy(doc_id, term)--> tf              [shuffle 1: by (doc_id,term)]
       --window over doc_id partitions--> dl     (reuses shuffle 1 ordering)
       --groupBy(term)--> df, cf                  [shuffle 2: by term]
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .analyzer import Analyzer, tokenize_expr
from .index.codec import encode_positions_bulk


@dataclass(frozen=True)
class CorpusStats:
    n_docs: int
    avgdl: float


def tokens(docs: DataFrame, id_col: str = "doc_id", text_col: str = "content") -> DataFrame:
    """(doc_id, term) — one row per token occurrence."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokenize_expr(text_col)).alias("term"),
    )


def term_freqs(docs: DataFrame, id_col: str = "doc_id", text_col: str = "content") -> DataFrame:
    """Postings with per-document length denormalized in: (doc_id, term, tf, dl).

    dl = size(token array) is computed BEFORE the explode (free, no
    shuffle), so the whole pass costs exactly ONE exchange — the
    groupBy(doc_id, term). This is the only full-corpus shuffle of the
    index build.
    """
    ex = docs.select(
        F.col(id_col).alias("doc_id"), tokenize_expr(text_col).alias("_toks")
    ).select(
        "doc_id",
        F.size("_toks").alias("dl"),
        F.explode("_toks").alias("term"),
    )
    return ex.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )


def term_freqs_arrow(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "content",
    positions: bool = False,
    analyzer: Analyzer | None = None,
) -> DataFrame:
    """(doc_id, term, tf, dl) via ONE fused Arrow pass — the builder's hot
    path. ``analyzer`` is the index's (default ``Analyzer()``); its Arrow
    rendering ``tokenize_arrow`` tokenizes, so stopwords are gone BEFORE
    dl/tf/position assignment (dl counts indexed tokens only; positions
    index the FILTERED sequence) and synonyms change term identity only.
    Semantically identical to term_freqs (equality-tested), but:

      * the whole tokenize→count kernel is pyarrow compute + numpy batch
        math (``mapInArrow``, zero pandas conversion): RE2 split,
        dictionary-encode, then a sort + run-length pass over packed
        (doc, term) keys. No per-token CPython objects exist at any point
        — vs the previous findall/factorize kernel this is ~1.7× faster
        at 32 concurrent workers on this host (interleaved best-of-3
        probe) because Arrow's jemalloc pool RECYCLES buffers instead of
        munmap'ing them, sidestepping the measured kernel-side
        page-fault wall that anti-scales allocation-churning workers
        (BENCH.md "Why"), and satisfies the input_hint's no-per-row-
        Python requirement outright.
      * tf is aggregated per document INSIDE the batch — per-doc
        aggregation is embarrassingly parallel, so the
        groupBy(doc_id, term) shuffle of one row PER TOKEN OCCURRENCE
        disappears entirely. At 100 TB that shuffle is the single
        largest exchange of the whole build; this map-side combine
        removes it, leaving only the (already tiny) per-term stats
        aggregation downstream.
      * the sort + run-length counter touches only real keys — a dense
        np.bincount over the doc×vocab key space was A/B-measured
        strictly worse at every batch shape (32 concurrent
        multi-hundred-MB zero+scan loops saturate memory bandwidth).

    ``positions=True`` (the ES/Lucene ``index_options: positions`` analog)
    additionally emits ``pos_enc``: the occurrence positions (token index
    within the document, ascending) of each (doc, term) row, delta+varbyte
    encoded per row by ``codec.encode_positions_bulk`` — one bulk encode
    per batch, no per-token Python. The only kernel change is a STABLE
    argsort in place of the plain key sort (keeps occurrences in document
    order within each run) plus one arange-minus-offset pass; the default
    path is byte-identical to before.
    """
    cols = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("_text")
    )
    analyzer = analyzer or Analyzer()

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            flat, parent = analyzer.tokenize_arrow(rb.column(1))
            if len(flat) == 0:
                continue
            dv = flat.dictionary_encode()
            codes = dv.indices.to_numpy(zero_copy_only=False)
            uniq = dv.dictionary
            v = len(uniq)
            par = parent.to_numpy(zero_copy_only=False)
            dl = np.bincount(par, minlength=n)
            # pack (doc, term) into ONE key; int32 math when it fits (the
            # 512-row build batches always do: n·v < 2^31) halves the
            # bytes the sort touches and allocates
            if n * v < 2**31:
                key = par.astype(np.int32, copy=False) * np.int32(v) + codes.astype(
                    np.int32, copy=False
                )
            else:
                key = par.astype(np.int64) * v + codes.astype(np.int64)
            spos = None
            if positions:
                # stable argsort keeps each (doc, term) run's occurrences
                # in document order == ascending token position
                order = np.argsort(key, kind="stable")
                sk = key[order]
                doc_off = np.cumsum(dl) - dl  # first token index per doc
                spos = (
                    np.arange(len(par), dtype=np.int64) - doc_off[par]
                )[order]
            else:
                sk = np.sort(key)
            ch = np.empty(len(sk), dtype=bool)
            ch[0] = True
            ch[1:] = sk[1:] != sk[:-1]
            st = np.flatnonzero(ch)
            uk = sk[st]
            tf = np.diff(np.append(st, len(sk))).astype(np.int64)
            d = uk // v
            ids = rb.column(0).to_numpy(zero_copy_only=False)
            term = uniq.take(pa.array(uk % v, type=pa.int64()))
            arrays = [
                pa.array(ids[d], type=pa.int64()),
                pc.cast(term, pa.string()),
                pa.array(tf),
                pa.array(dl[d], type=pa.int64()),
            ]
            names = ["doc_id", "term", "tf", "dl"]
            if positions:
                arrays.append(
                    pa.array(encode_positions_bulk(spos, st), type=pa.binary())
                )
                names.append("pos_enc")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    schema = "doc_id long, term string, tf long, dl long"
    if positions:
        schema += ", pos_enc binary"
    return cols.mapInArrow(gen, schema=schema)


def doc_lengths(postings: DataFrame) -> DataFrame:
    """(doc_id, dl) — distinct projection of the denormalized postings."""
    return postings.select("doc_id", "dl").distinct()


def term_stats(postings: DataFrame) -> DataFrame:
    """(term, df, cf) — document frequency and collection frequency."""
    return postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
    )


def corpus_stats(postings: DataFrame) -> CorpusStats:
    """Global N and avgdl in one small action over (doc_id, dl)."""
    row = doc_lengths(postings).agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    return CorpusStats(n_docs=int(row["n"]), avgdl=float(row["avgdl"] or 0.0))
