"""ES ``multi_match`` over per-field sub-indexes.

The reference's ES dynamic template analyzes EVERY string field
(reference: src/utils/elasticsearch_utils.py:58-72), so queries can hit
any of them; ES's ``multi_match`` combines per-field BM25 with
``best_fields`` (max + tie_breaker x the rest) or ``most_fields`` (sum)
semantics. This module reproduces both, exactly, on the compressed
index.

Spark-first shape: one CompressedIndex per field under
``out_dir/field=<name>/``, all built over the SAME corpus with the SAME
``n_shards``. The builder splits shards by doc-id RANGE
(index/builder.py shard_expr), so a document's postings for every field
land in the SAME shard number. That co-location is the whole trick:

  * ONE executor seek plan spans the sub-indexes: each shard's task
    reads every field's posting blocks of that shard (tagged with
    ``_field``);
  * the per-shard kernel scores each field with that field's own
    df/dl/avgdl statistics (the single-field scorer, uncut, reused
    verbatim), combines per doc LOCALLY, and keeps only its top-k.

The cross-field combine therefore needs NO extra shuffle and the merge
stays O(shards x k) for BOTH semantics. That matters because a
per-field top-k cut would be wrong for ``most_fields``: a doc mediocre
in every field can still win on the sum — only a post-combine cut is
exact, and it is only shuffle-free if all of a doc's fields are in one
task. (Decode cost is O(query-term postings) either way — the cut
bounds the shuffle, not the scan, same as every query path here.)

Scores: per-field BM25 rounded to ROUND_DECIMALS (identical to the
single-field engines), combined = round(best + tie_breaker * (sum -
best)). ``most_fields`` == tie_breaker 1.0. Twinned in the DuckDB
oracle (__spark_entry__) and rank-identity-tested against the exact
DataFrame twin below.
"""

from __future__ import annotations

import os
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analyzer import analyze_text
from ..bm25 import ROUND_DECIMALS
from ..index.builder import build_index
from .score_queries import _topk
from .wand import (
    _RESULT_SCHEMA,
    CompressedIndex,
    _empty,
    _Seek,
    _ranked,
    _ranked_local,
)


def _tie_breaker(match_type: str, tie_breaker: float) -> float:
    """The tie_breaker a multi_match type combines with: ``most_fields``
    sums (1.0), ``best_fields`` takes the caller's."""
    if match_type == "most_fields":
        return 1.0
    if match_type == "best_fields":
        return float(tie_breaker)
    raise ValueError(f"unsupported multi_match type: {match_type}")


def _combine(results: list[pd.DataFrame], tb: float):
    """Combine (doc_id, score) frames per doc: the best score + tb × the
    others' sum (tb 0: the max), rounded to ROUND_DECIMALS; (doc_ids,
    scores), doc_id ascending."""
    ids = np.concatenate([r["doc_id"].to_numpy(dtype=np.int64) for r in results])
    w = np.concatenate([r["score"].to_numpy(dtype=np.float64) for r in results])
    uids, inv = np.unique(ids, return_inverse=True)
    best = np.zeros(len(uids))  # BM25 > 0, so 0 is below any score
    np.maximum.at(best, inv, w)
    comb = best
    if tb:
        tot = np.bincount(inv, weights=w, minlength=len(uids))
        comb = best + tb * (tot - best)
    return uids, np.round(comb, ROUND_DECIMALS)


class MultiFieldIndex:
    """Per-field compressed indexes sharing one doc-id shard split."""

    def __init__(self, spark: SparkSession, out_dir: str,
                 fields: Iterable[str] | None = None):
        self.spark = spark
        self.out_dir = out_dir
        if fields is None:
            fields = sorted(
                d.split("=", 1)[1]
                for d in os.listdir(out_dir)
                if d.startswith("field=")
            )
        self.fields = list(fields)
        if not self.fields:
            raise ValueError(f"no field=* sub-indexes under {out_dir}")
        self.sub = {
            f: CompressedIndex(spark, os.path.join(out_dir, f"field={f}"))
            for f in self.fields
        }
        shards = {f: s.meta.n_shards for f, s in self.sub.items()}
        if len(set(shards.values())) != 1:
            raise ValueError(
                "sub-indexes disagree on n_shards (doc->shard co-location "
                f"is what makes the local combine exact): {shards}"
            )

    @staticmethod
    def build(spark: SparkSession, docs: DataFrame, out_dir: str,
              fields: Iterable[str],
              analyzers: dict[str, str | dict] | None = None,
              **build_kwargs) -> "MultiFieldIndex":
        """Build one sub-index per field over the same docs frame; every
        build sees the same doc_ids and n_shards, so the range split —
        and hence each doc's shard — is identical across fields.

        ``analyzers`` is the ES per-field analyzer hook: {field: spec}
        where spec is either a split pattern string (the boundary
        pattern, see analyzer.Analyzer) or a dict with any of
        ``split_re`` / ``stopwords`` / ``synonyms`` (the full r5 chain —
        each filter recorded in that sub-index's meta). Fields absent
        from the dict keep the default code analyzer. The query side
        analyzes per field with ITS index's full analyzer chain — ES
        multi_match semantics, where each field analyzes the query its
        own way."""
        fields = list(fields)
        analyzers = analyzers or {}
        unknown = set(analyzers) - set(fields)
        if unknown:
            raise ValueError(f"analyzers for unknown fields: {sorted(unknown)}")
        for f in fields:
            spec = analyzers.get(f)
            if spec is None:
                spec = {}
            elif isinstance(spec, str):
                spec = {"split_re": spec}
            elif not isinstance(spec, dict):
                raise ValueError(
                    f"analyzer spec for {f!r} must be a split pattern "
                    f"string or a dict, got {type(spec).__name__}"
                )
            bad = set(spec) - {"split_re", "stopwords", "synonyms"}
            if bad:
                raise ValueError(
                    f"unknown analyzer spec keys for {f!r}: {sorted(bad)}"
                )
            build_index(
                spark, docs, os.path.join(out_dir, f"field={f}"),
                text_col=f,
                analyzer_re=spec.get("split_re"),
                stopwords=spec.get("stopwords"),
                synonyms=spec.get("synonyms"),
                **build_kwargs,
            )
        return MultiFieldIndex(spark, out_dir, fields)

    def _live_terms(self, text: str):
        """ES multi_match semantics: the query text is analyzed PER FIELD
        with that field's analyzer (each sub-index's full analyzer
        chain — the per-field analyzer hook). Yields (field, sub-index,
        indexed terms, idfs) for each field holding a query term."""
        per_field = {
            f: sorted(set(self.sub[f]._analyze(text))) for f in self.fields
        }
        if not any(per_field.values()):
            raise ValueError("query analyzes to zero terms")
        for f in self.fields:
            s = self.sub[f]
            idfs = s._idfs(per_field[f])
            live = [t for t in per_field[f] if t in idfs]
            if live:  # else no query term exists in this field's vocabulary
                yield f, s, live, idfs

    def _union(self, live: list, combine) -> DataFrame:
        """``combine`` over the ``live`` (field, sub-index, terms) posting
        blocks, once per shard: one executor seek (``_dispatch``) whose
        plan joins every sub-index's seek of its terms, each block
        tagged ``_field``, planned by the Σ df of every field's live
        terms — the sub-indexes share the one-task limit, so any one of
        them runs the stage."""
        ests = [s._df_sum(terms) for _, s, terms in live]
        return self.sub[self.fields[0]]._dispatch(
            [(s, _Seek(terms, field=f)) for f, s, terms in live],
            CompressedIndex._SEEK_COLS, combine,
            None if None in ests else sum(ests),
        )

    def multi_match(
        self,
        text: str,
        k: int = 10,
        offset: int = 0,
        match_type: str = "best_fields",
        tie_breaker: float = 0.0,
    ) -> DataFrame:
        tb = _tie_breaker(match_type, tie_breaker)
        local_k = k + offset
        fns, live_fields = {}, []
        for f, s, live, idfs in self._live_terms(text):
            fns[f] = s._match_kernel(live, idfs)
            live_fields.append((f, s, live))
        if not live_fields:
            return self.spark.createDataFrame([], _RESULT_SCHEMA)

        def combine(pdf: pd.DataFrame) -> pd.DataFrame:
            results = []
            for f, fd in fns.items():
                sub = pdf[pdf["_field"] == f]
                if len(sub):
                    results.append(fd(sub.drop(columns=["_field"])))
            if not results:
                return _empty()
            return _topk(*_combine(results, tb), local_k)

        return _ranked(self._union(live_fields, combine), k, offset)

    def multi_match_cross_fields(self, text: str, k: int = 10,
                                 offset: int = 0) -> DataFrame:
        """ES multi_match type=cross_fields, frozen term-centric spec:

            score(doc) = Σ over distinct query terms of
                         max over fields of w_BM25(term, field, doc)

        i.e. each TERM is taken from whichever field scores it best —
        the "treat fields as one big field" intent — where best_fields/
        most_fields combine whole per-field scores. Documented
        divergence: ES blends df across fields before weighting; this
        engine keeps each field's own statistics (simpler, rank-stable,
        exactly twinnable in SQL). Per-(doc, term, field) weights are
        rounded to ROUND_DECIMALS before the max, like every other
        cross-path comparison point.

        Same shard-local combine trick as multi_match (shared doc-id
        shard split), so the shuffle stays O(shards x (k+offset)): the
        per-shard kernel runs the single-field scorer once per (field,
        term) pair — a per-term weight IS that term's single-term score
        — takes the per-term max across fields, and sums per doc.
        """
        local_k = k + offset
        fns: dict[tuple[str, str], object] = {}
        live_fields = []
        for f, s, live, idfs in self._live_terms(text):
            for t in live:
                fns[(f, t)] = s._match_kernel([t], {t: idfs[t]})
            live_fields.append((f, s, live))
        if not live_fields:
            return self.spark.createDataFrame([], _RESULT_SCHEMA)

        def combine(pdf: pd.DataFrame) -> pd.DataFrame:
            per_term: dict[str, list] = {}
            for (f, t), fd in fns.items():
                sub = pdf[(pdf["_field"] == f) & (pdf["term"] == t)]
                if len(sub):
                    per_term.setdefault(t, []).append(
                        fd(sub.drop(columns=["_field"]))
                    )
            if not per_term:
                return _empty()
            # each term from its best field (the weights are already
            # rounded, so the max re-rounds to itself), summed per doc
            best = [_combine(rs, 0.0) for rs in per_term.values()]
            ids = np.concatenate([b[0] for b in best])
            w = np.concatenate([b[1] for b in best])
            uids, inv = np.unique(ids, return_inverse=True)
            tot = np.bincount(inv, weights=w, minlength=len(uids))
            return _topk(uids, tot, local_k)

        return _ranked(self._union(live_fields, combine), k, offset)

    def multi_match_local(
        self,
        text: str,
        k: int = 10,
        offset: int = 0,
        match_type: str = "best_fields",
        tie_breaker: float = 0.0,
    ) -> pd.DataFrame:
        """``multi_match`` run on the coordinator: each field's blocks come
        from its sub-index's term-dictionary seek (+ decoded-postings
        cache) and the same per-field kernel runs once whole-index on the
        driver; no Spark job (rank-identity tested)."""
        tb = _tie_breaker(match_type, tie_breaker)
        results = []
        for f, s, live, idfs in self._live_terms(text):
            blocks = s._seek_blocks(live)
            if not len(blocks):
                continue
            # one whole-index pass per field (see CompressedIndex._execute
            # for why it is bit-identical to the per-shard split)
            results.append(
                s._match_kernel(live, idfs, s._make_decoder(blocks))(blocks)
            )
        if not results:
            return _empty()
        uids, comb = _combine(results, tb)
        return _ranked_local(
            pd.DataFrame({"doc_id": uids, "score": comb}), k, offset
        )


def cross_fields_exact(
    engines: dict[str, "object"],
    text: str,
    k: int = 10,
    offset: int = 0,
) -> DataFrame:
    """DataFrame twin of multi_match_cross_fields over per-field
    ExactBM25 engines: per-(doc, term, field) BM25 weights (each field's
    own df/dl/avgdl statistics, rounded), max per (doc, term) across
    fields, sum per doc."""
    from ..bm25 import bm25_weight_expr

    terms = sorted(set(analyze_text(text)))
    if not terms:
        raise ValueError("query analyzes to zero terms")
    weighted = []
    for f, eng in sorted(engines.items()):
        p = eng.postings.where(F.col("term").isin(terms))
        dfreq = p.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        weighted.append(
            p.join(F.broadcast(dfreq), "term").select(
                "doc_id",
                "term",
                F.round(
                    bm25_weight_expr(
                        F.col("tf").cast("double"),
                        F.col("df").cast("double"),
                        F.col("dl").cast("double"),
                        eng.stats.n_docs,
                        eng.stats.avgdl,
                    ),
                    ROUND_DECIMALS,
                ).alias("w"),
            )
        )
    allw = weighted[0]
    for wdf in weighted[1:]:
        allw = allw.unionByName(wdf)
    ranked = (
        allw.groupBy("doc_id", "term")
        .agg(F.max("w").alias("w"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("w"), ROUND_DECIMALS).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )
    if offset:
        ranked = ranked.offset(offset)
    return ranked.limit(k)


def multi_match_exact(
    engines: dict[str, "object"],
    text: str,
    k: int = 10,
    offset: int = 0,
    match_type: str = "best_fields",
    tie_breaker: float = 0.0,
) -> DataFrame:
    """DataFrame twin over per-field ExactBM25 engines — the exactness
    oracle for MultiFieldIndex.multi_match (rank-identity-tested).
    Per-field rounded scores full-outer-join on doc_id; absent fields
    coalesce to 0 (BM25 > 0, so greatest/sum over coalesced zeros equal
    max/sum over present fields)."""
    tb = _tie_breaker(match_type, tie_breaker)
    scored = []
    for i, (f, eng) in enumerate(sorted(engines.items())):
        s = eng.match_scores(text).select(
            "doc_id", F.round("score", ROUND_DECIMALS).alias(f"_s{i}")
        )
        scored.append(s)
    joined = scored[0]
    for s in scored[1:]:
        joined = joined.join(s, "doc_id", "full_outer")
    cols = [F.coalesce(F.col(f"_s{i}"), F.lit(0.0)) for i in range(len(scored))]
    best = F.greatest(*cols) if len(cols) > 1 else cols[0]
    comb = best
    if tb:
        tot = cols[0]
        for c in cols[1:]:
            tot = tot + c
        comb = best + F.lit(tb) * (tot - best)
    ranked = joined.select(
        "doc_id", F.round(comb, ROUND_DECIMALS).alias("score")
    ).orderBy(F.desc("score"), F.asc("doc_id"))
    if offset:
        ranked = ranked.offset(offset)
    return ranked.limit(k)
