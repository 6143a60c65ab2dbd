"""Compound scoring queries over the compressed index: the ES
``function_score`` / ``dis_max`` / ``boosting`` analogs.

These reshape a match's SCORE rather than its membership, so block-max
pruning by raw BM25 bound does not apply (a low-BM25 doc can out-rank a
high one after a field boost) — each kernel decodes the query terms'
postings fully (the same O(query-term postings) bill the AND branch
always pays), computes per-doc BM25 sums (wand ``_or_sums``, the uncut
OR sum every scorer shares) with the standard rounding protocol,
applies the score transform, and cuts top-k PER SHARD; the global merge
is the usual rounded (score DESC, doc_id ASC) TakeOrderedAndProject.
All numpy batch ops — no per-row Python.

Rounding protocol (shared with the exact-engine twins and the DuckDB
oracles, so all three agree exactly): the transform is applied to the
RAW BM25 sums and the result is rounded ONCE — exactly the plain-search
protocol, whose single rounding absorbs cross-engine summation-order
ulps. Rounding an intermediate and then transforming would be WRONG
here: multiplying an already-rounded 4-decimal score by e.g. 0.5
(boosting's negative_boost) lands exactly on the half-boundary whenever
the 4th decimal is odd, where Spark/DuckDB round half-up but
numpy/Python round half-even — a guaranteed systematic mismatch, not a
measure-zero one (caught by tests/test_score_queries.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..bm25 import ROUND_DECIMALS
from .fscore import combine_np, field_factor_np, try_double_np
from .positions import _decode_ids, _empty, _term_rows, _topk
from .wand import _decoder, _or_sums


def _combine(parts: list, tie_breaker: float):
    """The ES dis_max / best_fields combine over per-clause (uids, raw
    sums) ``parts``: per doc, the best score + ``tie_breaker`` × the
    others' sum (0: the max; 1.0: the sum), unrounded — (uids, scores),
    doc_id ascending. A doc absent from a part scores 0 there (BM25 >
    0, so 0 is below any score)."""
    ids = np.concatenate([u for u, _ in parts])
    w = np.concatenate([s for _, s in parts])
    uids, inv = np.unique(ids, return_inverse=True)
    best = np.zeros(len(uids))
    np.maximum.at(best, inv, w)
    if not tie_breaker:
        return uids, best
    tot = np.bincount(inv, weights=w, minlength=len(uids))
    return uids, best + tie_breaker * (tot - best)


def function_score_fn(
    terms: list[str],
    idfs: dict[str, float],
    avgdl: float,
    k: int,
    modifier: str,
    factor: float,
    boost_mode: str,
    field: str,
):
    """fn(blocks, attrs, cache) — attrs carries (doc_id, ``field``) for
    this shard's docs (read by the shard's own task, so the field never
    leaves its shard). score' = round(combine(raw BM25 sum,
    factor_fn(field as a double, the Spark try_cast)))."""

    def fn(blocks: pd.DataFrame, attrs: pd.DataFrame | None = None,
           cache=None) -> pd.DataFrame:
        if len(blocks) == 0 or attrs is None or len(attrs) == 0:
            return _empty()
        uids, sums = _or_sums(blocks, terms, idfs, _decoder(blocks, cache, avgdl))
        if len(uids) == 0:
            return _empty()
        a_ids = attrs["doc_id"].to_numpy(dtype=np.int64)
        order = np.argsort(a_ids, kind="stable")
        a_ids = a_ids[order]
        pos = np.searchsorted(a_ids, uids)
        ok = (pos < len(a_ids)) & (a_ids[np.minimum(pos, len(a_ids) - 1)] == uids)
        fv = np.zeros(len(uids), dtype=np.float64)
        fv[ok] = try_double_np(attrs[field].to_numpy()[order[pos[ok]]])
        fac = field_factor_np(fv, modifier, factor)
        return _topk(uids, combine_np(sums, fac, boost_mode), k)

    return fn


def dis_max_fn(
    clause_terms: list[list[str]],
    idfs: dict[str, float],
    avgdl: float,
    k: int,
    tie_breaker: float,
):
    """fn(blocks, attrs, cache) — ES dis_max over match clauses on the
    same field: score = best clause + tie_breaker * (sum of the others)
    (``_combine``). A doc matches if ANY clause matches. Raw clause sums
    combine, one final round (the cross-engine protocol — module
    docstring)."""

    def fn(blocks: pd.DataFrame, attrs=None, cache=None) -> pd.DataFrame:
        decode = _decoder(blocks, cache, avgdl)
        return _topk(*_combine(
            [_or_sums(blocks, ct, idfs, decode) for ct in clause_terms],
            tie_breaker,
        ), k)

    return fn


def boosting_fn(
    pos_terms: list[str],
    neg_terms: list[str],
    idfs: dict[str, float],
    avgdl: float,
    k: int,
    negative_boost: float,
):
    """fn(blocks, attrs, cache) — ES boosting query: the positive
    match's score is multiplied by ``negative_boost`` for docs that ALSO
    match the negative clause (demotion, not exclusion — the must_not
    contrast)."""

    def fn(blocks: pd.DataFrame, attrs=None, cache=None) -> pd.DataFrame:
        if len(blocks) == 0:
            return _empty()
        uids, sums = _or_sums(blocks, pos_terms, idfs, _decoder(blocks, cache, avgdl))
        if len(uids) == 0:
            return _empty()
        neg_ids = [
            _decode_ids(sub)
            for t in sorted(set(neg_terms)) if len(sub := _term_rows(blocks, t))
        ]
        if neg_ids:
            demoted = np.isin(uids, np.concatenate(neg_ids))
            sums = np.where(demoted, sums * float(negative_boost), sums)
        return _topk(uids, sums, k)

    return fn


def rescore_compose(engine, text: str, rescore_text: str, k: int = 10,
                    window_size: int = 50, query_weight: float = 1.0,
                    rescore_query_weight: float = 1.0,
                    score_mode: str = "total"):
    """ES ``rescore`` (query rescorer), one frozen composition shared by
    BOTH engines (each passes itself — anything with ``.search(text, k,
    ids=…)`` and ``.attrs`` works, so exact↔compressed rank identity is
    structural):

      1. window = top ``window_size`` hits of the primary query (the
         engine's own rounded ranking);
      2. secondary BM25 computed for the WINDOW docs only (an ids
         filter — the secondary query's cost is O(window), never a
         second corpus-wide match; the window ids transit the driver,
         O(window_size) like any ES coordinator);
      3. final = round(qw·p + rw·s, ROUND_DECIMALS) for
         ``score_mode="total"`` (missing secondary → 0), or
         round((qw·p)·(rw·s)) with missing secondary leaving the
         weighted primary unchanged (factor 1) for ``"multiply"`` —
         the frozen contract, mirrored in the DuckDB twin.

    Docs below the primary window NEVER enter the result regardless of
    their secondary score — the ES window semantics (k ≤ window_size
    enforced). Primary and secondary scores are the engines' rounded
    outputs; combining rounded terms and rounding once more is
    deterministic and identical across engines by construction."""
    from pyspark.sql import functions as F

    if score_mode not in ("total", "multiply"):
        raise ValueError("score_mode must be 'total' or 'multiply'")
    if k > window_size:
        raise ValueError("k must not exceed window_size")
    win = engine.search(text, k=window_size)
    win_ids = [int(r["doc_id"]) for r in win.select("doc_id").collect()]
    if not win_ids:
        # .sparkSession off the attrs frame, like pinned_compose: the
        # exact engine holds no .spark handle of its own
        return engine.attrs.sparkSession.createDataFrame(
            [], "doc_id long, score double"
        )
    sec = engine.search(rescore_text, k=window_size, ids=win_ids)
    j = win.select("doc_id", F.col("score").alias("_p")).join(
        sec.select("doc_id", F.col("score").alias("_s")), "doc_id", "left"
    )
    qw, rw = float(query_weight), float(rescore_query_weight)
    if score_mode == "total":
        comb = F.lit(qw) * F.col("_p") + F.lit(rw) * F.coalesce(
            F.col("_s"), F.lit(0.0)
        )
    else:
        comb = (F.lit(qw) * F.col("_p")) * F.coalesce(
            F.lit(rw) * F.col("_s"), F.lit(1.0)
        )
    return (
        j.select("doc_id", F.round(comb, ROUND_DECIMALS).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


#: pinned ranks sit far above any BM25 sum (corpus-independent: BM25
#: sums are bounded by terms × idf_max × (k1+1) — orders of magnitude
#: below 1e9 for any real query)
PINNED_BASE = 1.0e9


def pinned_compose(engine, ids: list[int], text: str, k: int = 10):
    """ES ``pinned`` query, one frozen composition shared by both
    engines: the given ids rank FIRST in list order (doc i scores
    ``PINNED_BASE - i`` — deterministic and far above any BM25 sum,
    where ES uses descending floats from FLOAT_MAX), then the organic
    hits of ``text`` with the pinned ids excluded. Pinned ids absent
    from the corpus are skipped (the ES behavior); the result still
    holds at most ``k`` rows overall. The pinned list transits the
    driver by construction (it is caller input); its existence check is
    an In(doc_id) pushed to the attrs scan."""
    from pyspark.sql import functions as F

    if not ids:
        return engine.search(text, k=k)
    if len(set(ids)) != len(ids):
        raise ValueError("duplicate ids in pinned list")
    # .sparkSession off the attrs frame: works for both engines (the
    # exact engine holds no session handle of its own)
    pin = engine.attrs.sparkSession.createDataFrame(
        [(int(d), float(PINNED_BASE - i)) for i, d in enumerate(ids)],
        "doc_id long, score double",
    ).join(
        engine.attrs.where(F.col("doc_id").isin([int(i) for i in ids]))
        .select("doc_id"),
        "doc_id",
        "left_semi",
    )
    organic = engine.search(text, k=k + len(ids)).where(
        ~F.col("doc_id").isin([int(i) for i in ids])
    )
    return (
        pin.unionByName(organic)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
