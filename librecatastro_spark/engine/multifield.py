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

  * ONE seek spans the sub-indexes (``CompressedIndex._dispatch``):
    each shard's task reads every field's posting blocks of that shard
    (tagged with ``_field``);
  * the per-shard kernel scores each field with that field's own
    df/dl/avgdl statistics (the uncut OR sum, wand ``_or_sums``),
    combines per doc LOCALLY, and keeps only its top-k.

The same kernel runs once whole-index on the driver site
(``multi_match_local``), each field decoding through its own
sub-index's cache; a kernel shipped to executor tasks holds no
sub-index.

The cross-field combine therefore needs NO extra shuffle and the merge
stays O(shards x k) for BOTH semantics. That matters because a
per-field top-k cut would be wrong for ``most_fields``: a doc mediocre
in every field can still win on the sum — only a post-combine cut is
exact, and it is only shuffle-free if all of a doc's fields are in one
task. (Decode cost is O(query-term postings) either way — the cut
bounds the shuffle, not the scan, same as every query path here.)

Scores: each field's RAW BM25 sum, combined = best + tie_breaker *
(sum - best) and rounded ONCE to ROUND_DECIMALS — the compound scorers'
protocol (score_queries module docstring). Combining per-field scores
already rounded makes decimal ties (2.9259 + 0.3 × 0.0445 = 2.93925),
which numpy, Spark and DuckDB each round their own way.
``most_fields`` == tie_breaker 1.0; at tie_breaker 0 the max of raw
sums rounds to the max of rounded ones. ``cross_fields`` keeps its
rounded per-(doc, term, field) weights (its docstring). Twinned in the
DuckDB oracle (__spark_entry__) and rank-identity-tested against the
exact DataFrame twins below.
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
from .positions import _RESULT_SCHEMA, _empty, _topk
from .score_queries import _combine
from .wand import (
    CompressedIndex,
    _decoder,
    _or_sums,
    _ranked,
    _ranked_local,
    _Seek,
)


def _tie_breaker(match_type: str, tie_breaker: float) -> float:
    """The tie_breaker a multi_match type combines with: ``most_fields``
    sums (1.0), ``best_fields`` takes the caller's."""
    if match_type == "most_fields":
        return 1.0
    if match_type == "best_fields":
        return float(tie_breaker)
    raise ValueError(f"unsupported multi_match type: {match_type}")


def _fields_combine(match_type: str, tie_breaker: float):
    """The best_fields / most_fields kernel body: each field's raw OR
    sum (``_or_sums``) combined per doc (``_combine``), unrounded."""
    tb = _tie_breaker(match_type, tie_breaker)
    return lambda fields: _combine([_or_sums(*f) for f in fields], tb)


def _cross_fields(fields):
    """The cross_fields kernel body: per (field, term), the term's
    rounded weight; per term, its best field (the max of rounded
    weights is rounded); summed per doc."""
    per_term: dict[str, list] = {}
    for blocks, terms, idfs, decode in fields:
        for t in terms:
            u, w = _or_sums(blocks, [t], idfs, decode)
            if len(u):
                per_term.setdefault(t, []).append((u, np.round(w, ROUND_DECIMALS)))
    best = [_combine(parts, 0.0) for parts in per_term.values()]
    uids, inv = np.unique(np.concatenate([u for u, _ in best]), return_inverse=True)
    w = np.concatenate([w for _, w in best])
    return uids, np.bincount(inv, weights=w, minlength=len(uids))


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

    def _union(self, text: str, k: int, offset: int, score, local: bool = False):
        """One multi-field query on either site of ``_dispatch``: a seek
        whose plan joins every sub-index's seek of its live terms
        (``_live_terms``), each block tagged ``_field``, planned by the
        Σ df of every field's live terms (the sub-indexes share the
        one-task limit, so any one of them runs the stage). Per shard
        (or once whole-index on the driver) the kernel hands ``score``
        one (blocks, terms, idfs, decode) tuple per field holding
        blocks and cuts the (uids, raw scores) it returns to the rounded
        top-(k+offset); ``_ranked`` or ``_ranked_local`` merges. On the
        driver each field decodes through its own sub-index's cache;
        the cluster kernel holds no sub-index (it could not pickle)."""
        live = list(self._live_terms(text))
        if not live:
            return _empty() if local else self.spark.createDataFrame([], _RESULT_SCHEMA)
        fields = {f: (terms, idfs, s.meta.avgdl) for f, s, terms, idfs in live}
        caches = {f: s for f, s, _, _ in live} if local else {}
        n = k + offset

        def combine(pdf: pd.DataFrame, attrs=None, cache=None) -> pd.DataFrame:
            per_field = []
            for f, (terms, idfs, avgdl) in fields.items():
                sub = pdf[pdf["_field"] == f]
                if len(sub):
                    per_field.append(
                        (sub, terms, idfs, _decoder(sub, caches.get(f), avgdl))
                    )
            return _topk(*score(per_field), n)

        ests = [s._df_sum(terms) for _, s, terms, _ in live]
        out = self.sub[self.fields[0]]._dispatch(
            [(s, _Seek(terms, field=f)) for f, s, terms, _ in live],
            CompressedIndex._SEEK_COLS, combine,
            None if None in ests else sum(ests), local=local,
        )
        return _ranked_local(out, k, offset) if local else _ranked(out, k, offset)

    def multi_match(
        self,
        text: str,
        k: int = 10,
        offset: int = 0,
        match_type: str = "best_fields",
        tie_breaker: float = 0.0,
    ) -> DataFrame:
        """ES multi_match type=best_fields (best field + tie_breaker ×
        the others) or most_fields (the sum) over the fields' raw BM25
        sums, rounded once (module docstring)."""
        return self._union(text, k, offset, _fields_combine(match_type, tie_breaker))

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
        per-shard kernel runs the uncut OR sum once per (field, term)
        pair — a per-term weight IS that term's single-term score —
        takes the per-term max across fields, and sums per doc
        (``_cross_fields``).
        """
        return self._union(text, k, offset, _cross_fields)

    def multi_match_local(
        self,
        text: str,
        k: int = 10,
        offset: int = 0,
        match_type: str = "best_fields",
        tie_breaker: float = 0.0,
    ) -> pd.DataFrame:
        """``multi_match`` run on the coordinator: the same kernel once
        whole-index on the driver site (``_union``), each field's
        blocks read and decoded through its sub-index's cache; no Spark
        job (rank-identity tested)."""
        return self._union(
            text, k, offset, _fields_combine(match_type, tie_breaker), local=True
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
    Per-field raw scores full-outer-join on doc_id; absent fields
    coalesce to 0 (BM25 > 0, so greatest/sum over coalesced zeros equal
    max/sum over present fields); the combine rounds once."""
    tb = _tie_breaker(match_type, tie_breaker)
    scored = []
    for i, (f, eng) in enumerate(sorted(engines.items())):
        scored.append(eng.match_scores(text).select(
            "doc_id", F.col("score").alias(f"_s{i}")
        ))
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
