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

  * the per-field posting blocks union (tagged with ``_field``) and
    group by shard ONCE;
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
from .wand import _RESULT_SCHEMA, CompressedIndex, _empty, _shard_topk_fn


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

    def _per_shard(self, blocks: DataFrame, combine, ests: list) -> DataFrame:
        """The fields' unioned posting blocks through the engine's one
        per-shard grouped map (``CompressedIndex._per_shard``), planned
        by the Σ df of every field's live terms — the sub-indexes share
        the one-task limit, so any one of them plans the stage."""
        est = None if None in ests else sum(ests)
        return self.sub[self.fields[0]]._per_shard(
            blocks, combine, _RESULT_SCHEMA, est,
            cols=CompressedIndex._SEEK_COLS + ("_field",),
        )

    def _analyze_per_field(self, text: str) -> dict[str, list[str]]:
        """ES multi_match semantics: the query text is analyzed PER FIELD
        with that field's analyzer (each sub-index's meta.analyzer_re —
        the per-field analyzer hook). With all-default analyzers every
        field sees identical terms, exactly the pre-seam behavior."""
        per_field = {
            f: sorted(set(self.sub[f]._analyze(text))) for f in self.fields
        }
        if not any(per_field.values()):
            raise ValueError("query analyzes to zero terms")
        return per_field

    def multi_match(
        self,
        text: str,
        k: int = 10,
        offset: int = 0,
        match_type: str = "best_fields",
        tie_breaker: float = 0.0,
    ) -> DataFrame:
        if match_type == "most_fields":
            tb = 1.0
        elif match_type == "best_fields":
            tb = float(tie_breaker)
        else:
            raise ValueError(f"unsupported multi_match type: {match_type}")
        per_field = self._analyze_per_field(text)
        local_k = k + offset
        fns, parts, ests = {}, [], []
        for f in self.fields:
            s = self.sub[f]
            terms = per_field[f]
            idfs = s._idfs(terms)
            live = [t for t in terms if t in idfs]
            if not live:
                continue  # no query term exists in this field's vocabulary
            fns[f] = _shard_topk_fn(
                live, idfs, s.meta.avgdl, 1 << 60, filtered=False,
                must_not_terms=[], require_all=False,
                dense_hint=int(s.meta.n_docs),
            )
            parts.append(
                s.postings.where(F.col("term").isin(live))
                .withColumn("_field", F.lit(f))
            )
            ests.append(s._df_sum(live))
        if not parts:
            return self.spark.createDataFrame([], _RESULT_SCHEMA)
        blocks = parts[0]
        for p in parts[1:]:
            blocks = blocks.unionByName(p)

        def combine(pdf: pd.DataFrame) -> pd.DataFrame:
            ids_l, w_l = [], []
            for f, fd in fns.items():
                sub = pdf[pdf["_field"] == f]
                if len(sub) == 0:
                    continue
                r = fd(sub.drop(columns=["_field"]))
                ids_l.append(r["doc_id"].to_numpy(dtype=np.int64))
                w_l.append(r["score"].to_numpy(dtype=np.float64))
            if not ids_l:
                return _empty()
            ids = np.concatenate(ids_l)
            w = np.concatenate(w_l)
            uids, inv = np.unique(ids, return_inverse=True)
            best = np.zeros(len(uids))  # BM25 > 0, so 0 is below any score
            np.maximum.at(best, inv, w)
            comb = best
            if tb:
                tot = np.bincount(inv, weights=w, minlength=len(uids))
                comb = best + tb * (tot - best)
            comb = np.round(comb, ROUND_DECIMALS)
            if len(uids) > local_k:
                order = np.lexsort((uids, -comb))[:local_k]
                uids, comb = uids[order], comb[order]
            return pd.DataFrame({"doc_id": uids, "score": comb})

        partial = self._per_shard(blocks, combine, ests)
        ranked = partial.orderBy(F.desc("score"), F.asc("doc_id"))
        if offset:
            ranked = ranked.offset(offset)
        return ranked.limit(k)


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
        per_field = self._analyze_per_field(text)
        local_k = k + offset
        fns: dict[tuple[str, str], object] = {}
        parts, ests = [], []
        for f in self.fields:
            s = self.sub[f]
            terms = per_field[f]
            idfs = s._idfs(terms)
            live = [t for t in terms if t in idfs]
            if not live:
                continue
            for t in live:
                fns[(f, t)] = _shard_topk_fn(
                    [t], {t: idfs[t]}, s.meta.avgdl, 1 << 60, filtered=False,
                    must_not_terms=[], require_all=False,
                    dense_hint=int(s.meta.n_docs),
                )
            parts.append(
                s.postings.where(F.col("term").isin(live))
                .withColumn("_field", F.lit(f))
            )
            ests.append(s._df_sum(live))
        if not parts:
            return self.spark.createDataFrame([], _RESULT_SCHEMA)
        blocks = parts[0]
        for p in parts[1:]:
            blocks = blocks.unionByName(p)

        def combine(pdf: pd.DataFrame) -> pd.DataFrame:
            per_term: dict[str, list] = {}
            for (f, t), fd in fns.items():
                sub = pdf[(pdf["_field"] == f) & (pdf["term"] == t)]
                if len(sub) == 0:
                    continue
                r = fd(sub.drop(columns=["_field"]))
                if len(r):
                    per_term.setdefault(t, []).append(
                        (r["doc_id"].to_numpy(dtype=np.int64),
                         r["score"].to_numpy(dtype=np.float64))
                    )
            ids_l, w_l = [], []
            for t, chunks in per_term.items():
                ids = np.concatenate([c[0] for c in chunks])
                w = np.concatenate([c[1] for c in chunks])
                uids, inv = np.unique(ids, return_inverse=True)
                best = np.zeros(len(uids))
                np.maximum.at(best, inv, w)
                ids_l.append(uids)
                w_l.append(best)
            if not ids_l:
                return _empty()
            ids = np.concatenate(ids_l)
            w = np.concatenate(w_l)
            uids, inv = np.unique(ids, return_inverse=True)
            tot = np.round(
                np.bincount(inv, weights=w, minlength=len(uids)),
                ROUND_DECIMALS,
            )
            if len(uids) > local_k:
                order = np.lexsort((uids, -tot))[:local_k]
                uids, tot = uids[order], tot[order]
            return pd.DataFrame({"doc_id": uids, "score": tot})

        partial = self._per_shard(blocks, combine, ests)
        ranked = partial.orderBy(F.desc("score"), F.asc("doc_id"))
        if offset:
            ranked = ranked.offset(offset)
        return ranked.limit(k)

    def multi_match_local(
        self,
        text: str,
        k: int = 10,
        offset: int = 0,
        match_type: str = "best_fields",
        tie_breaker: float = 0.0,
    ) -> pd.DataFrame:
        """Coordinator fast path for multi_match — same semantics and the
        SAME per-field numpy kernel as the distributed path (rank-identity
        tested), but each field's posting blocks come from that
        sub-index's term-dictionary seek (+ decoded-postings cache) and
        the whole-index pass runs on the driver. Data read is O(postings
        of the query terms across the fields) regardless of corpus size —
        ES's coordinator serving a multi_match, collapsed onto one node."""
        if match_type == "most_fields":
            tb = 1.0
        elif match_type == "best_fields":
            tb = float(tie_breaker)
        else:
            raise ValueError(f"unsupported multi_match type: {match_type}")
        per_field = self._analyze_per_field(text)
        ids_l, w_l = [], []
        for f in self.fields:
            s = self.sub[f]
            terms = per_field[f]
            idfs = s._idfs(terms)
            live = [t for t in terms if t in idfs]
            if not live:
                continue
            blocks = s._seek_blocks(live)
            if not len(blocks):
                continue
            fd = _shard_topk_fn(
                live, idfs, s.meta.avgdl, 1 << 60, filtered=False,
                must_not_terms=[], require_all=False,
                decoder=s._make_decoder(blocks),
                dense_hint=int(s.meta.n_docs),
            )
            r = fd(blocks)  # one whole-index pass per field (see wand.py
            #               search_local for why this is bit-identical to
            #               the per-shard split)
            ids_l.append(r["doc_id"].to_numpy(dtype=np.int64))
            w_l.append(r["score"].to_numpy(dtype=np.float64))
        if not ids_l:
            return _empty()
        ids = np.concatenate(ids_l)
        w = np.concatenate(w_l)
        uids, inv = np.unique(ids, return_inverse=True)
        best = np.zeros(len(uids))
        np.maximum.at(best, inv, w)
        comb = best
        if tb:
            tot = np.bincount(inv, weights=w, minlength=len(uids))
            comb = best + tb * (tot - best)
        out = pd.DataFrame(
            {"doc_id": uids, "score": np.round(comb, ROUND_DECIMALS)}
        )
        out = out.sort_values(
            ["score", "doc_id"], ascending=[False, True], kind="mergesort"
        ).iloc[offset : offset + k]
        return out.reset_index(drop=True)


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
    if match_type == "most_fields":
        tb = 1.0
    elif match_type == "best_fields":
        tb = float(tie_breaker)
    else:
        raise ValueError(f"unsupported multi_match type: {match_type}")
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
