"""Positional phrase evaluation over pos-enabled posting blocks.

The index-only phrase path (Lucene ``.prx`` analog): an index built with
``index_options="positions"`` stores every occurrence's token position
next to its posting block (builder.py / codec.encode_positions_bulk), so
``match_phrase`` semantics are answered ENTIRELY from the postings — no
scan of the source table at query time. The phrase engine
(engine/wand.py ``match_phrase`` / ``match_phrase_prefix`` and their
``_local`` twins) reads only the phrase terms' posting+position blocks,
the same O(query-term postings) bill every other index query pays.

Semantics are EXACTLY ExactBM25.match_phrase's (rank-identity-tested):
terms adjacent in analyzed-token order, ``slop`` = max intervening tokens
PER GAP (analyzer._phrase_body documents the per-gap divergence from ES's
edit-distance slop). Position adjacency over the analyzer's token stream
is definitionally the same predicate as the anchored regex over maximal
token runs, so the DuckDB regex twins remain exact oracles for this path.

All numpy batch ops — the chain step is vectorized over ALL candidate
documents at once via packed (doc-ordinal, position) keys, never a
per-document Python loop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..bm25 import B, K1, ROUND_DECIMALS
from ..index.codec import decode_positions, decode_varbyte

_RESULT_SCHEMA = "doc_id long, score double"
_NP_TYPES = {"long": np.int64, "double": np.float64, "string": object}


def _columns(schema: str) -> list[tuple[str, str]]:
    """(name, type) of each column of a DDL ``schema``."""
    return [tuple(c.split()) for c in schema.split(",")]


def _empty(schema: str = _RESULT_SCHEMA) -> pd.DataFrame:
    """Zero-row pandas frame typed like the DDL ``schema`` (long, double
    and string columns) — what a per-shard kernel emits with no rows."""
    return pd.DataFrame(
        {n: pd.Series(dtype=_NP_TYPES[t]) for n, t in _columns(schema)}
    )


def _topk(ids: np.ndarray, scores: np.ndarray, k: int | None = None) -> pd.DataFrame:
    """(doc_id, score) of the top ``k`` (every row when None) by the
    ROUNDED score DESC, doc_id ASC — the total order the global merge
    ranks by (wand ``_ranked``); ``ids`` come in ascending."""
    scores = np.round(scores, ROUND_DECIMALS)
    if k is not None and len(ids) > k:
        # lexsort's last key is primary; doc_id breaks ties ascending
        order = np.lexsort((ids, -scores))[:k]
        ids, scores = ids[order], scores[order]
    return pd.DataFrame({
        "doc_id": ids.astype(np.int64, copy=False),
        "score": scores.astype(np.float64, copy=False),
    })


def _successor(p: str) -> str | None:
    """The least string above every string starting with ``p`` under
    codepoint-lexicographic order (Spark's UTF8String order and Parquet
    min/max stats on UTF-8): the last incrementable codepoint
    incremented, any trailing U+10FFFF chars dropped, the surrogate
    range skipped (it cannot appear in valid UTF-8). None for an
    all-U+10FFFF ``p``, which has no finite upper bound."""
    for i in range(len(p) - 1, -1, -1):
        c = ord(p[i]) + 1
        if 0xD800 <= c <= 0xDFFF:
            c = 0xE000
        if c <= 0x10FFFF:
            return p[:i] + chr(c)
    return None


def _term_rows(blocks: pd.DataFrame, t: str, prefix: bool = False) -> pd.DataFrame:
    """The rows of term ``t`` in ``blocks`` — with ``prefix``, of every
    term in [t, successor(t)), the terms starting with ``t`` — as one
    contiguous slice: a kernel's blocks arrive sorted by term (wand
    ``_ordered``), so two binary searches find them, in block order."""
    term = blocks["term"].to_numpy()
    lo = np.searchsorted(term, t, "left")
    if not prefix:
        return blocks.iloc[lo:np.searchsorted(term, t, "right")]
    succ = _successor(t)
    return blocks.iloc[lo:len(term) if succ is None else np.searchsorted(term, succ)]


def _decode_ids(rows: pd.DataFrame) -> np.ndarray:
    """The doc ids of block ``rows`` in posting order (row order, doc
    order within a block) — the doc-id half of ``_decode_term``, all a
    constant-score tail or a negative clause reads. Varbyte is
    self-delimiting, so every row's ``docs_enc`` decodes in ONE numpy
    pass; each block's first delta is absolute, so its ids are the
    cumsum of deltas minus the running total just before the block."""
    counts = rows["n_docs"].to_numpy(dtype=np.int64)
    d = decode_varbyte(b"".join(rows["docs_enc"])).astype(np.int64)
    c = np.cumsum(d)
    starts = np.cumsum(counts) - counts
    return c - np.repeat(c[starts] - d[starts], counts)


def _decode_term(rows: pd.DataFrame, with_pos: bool):
    """The engine's one varbyte block decoder: block ``rows`` into flat
    (ids, tfs, dls, pos) in posting order (``_decode_ids``, one numpy
    pass per column). ``pos`` is the per-occurrence position stream
    aligned with ``repeat(ids, tfs)``; None when with_pos=False. Every
    kernel decodes through here, so the codec calls go through this
    module's ``decode_varbyte`` / ``decode_positions``."""
    ids = _decode_ids(rows)
    tfs = decode_varbyte(b"".join(rows["tfs_enc"])).astype(np.int64)
    dls = decode_varbyte(b"".join(rows["dls_enc"])).astype(np.int64)
    pos = None
    if with_pos:
        pos = decode_positions(
            b"".join(x for x in rows["pos_enc"] if x is not None), tfs
        )
    return ids, tfs, dls, pos


def _by_doc(ids, tfs, dls, pos):
    """One term's decoded (ids, tfs, dls, pos) in doc-id order. A
    shard's blocks decode in doc order, but a whole-index frame holds
    every shard's run (wand ``_ordered``), and shard doc-id ranges
    interleave after an ``append_batch`` that moved the range
    boundaries; each posting's occurrences move with it."""
    if (ids[1:] > ids[:-1]).all():
        return ids, tfs, dls, pos
    order = np.argsort(ids, kind="stable")
    t = tfs[order]
    occ = np.repeat((np.cumsum(tfs) - tfs)[order] - (np.cumsum(t) - t), t)
    return ids[order], t, dls[order], pos[occ + np.arange(len(occ))]


def _impact(tfs: np.ndarray, dls: np.ndarray, avgdl: float) -> np.ndarray:
    """Idf-independent BM25 factor per posting: score = idf * impact.
    Factored out so the decoded-postings cache can precompute it once per
    index generation and every scoring path multiplies by the SAME float
    values — cached and uncached results stay bit-identical."""
    return tfs * (K1 + 1.0) / (tfs + K1 * (1.0 - B + B * dls / avgdl))


def _decode_impacts(rows: pd.DataFrame, avgdl: float):
    """(ids, impact) of block ``rows`` in posting order — the uncached
    decode of the BM25 kernels (``_decode_term`` + ``_impact``). The
    coordinator's decoded-postings cache (wand ``_make_decoder``) fills
    from it, so both return the same floats."""
    ids, tfs, dls, _ = _decode_term(rows, False)
    return ids, _impact(tfs.astype(np.float64), dls.astype(np.float64), avgdl)


def _overlapping(rows: pd.DataFrame, cand: np.ndarray) -> pd.DataFrame:
    """The block ``rows`` whose doc-id range [first_doc_id, last_doc_id]
    holds a doc of the sorted ``cand`` — the filter step of every
    kernel's filter-then-verify: a candidate's postings all live in
    such blocks, so the others are dropped before any decode."""
    lo = np.searchsorted(
        cand, rows["first_doc_id"].to_numpy(dtype=np.int64), side="left"
    )
    hi = np.searchsorted(
        cand, rows["last_doc_id"].to_numpy(dtype=np.int64), side="right"
    )
    return rows[hi > lo]


def _decode_complete(blocks: pd.DataFrame, distinct: list[str], idfs: dict):
    """Intersection-aware decode of a phrase's complete terms (the
    AND-branch pattern of wand ``_shard_topk_fn``): the rarest term
    (highest idf) decodes fully and seeds the candidate docs; every
    other term decodes only its blocks ``_overlapping`` them — a
    selective phrase ("def uid00123") decodes ~the rare term's postings
    plus a handful of hot-term blocks, not the hot terms' full posting
    lists. Returns ({term: (ids, tfs, dls, pos)}, candidates), or None
    when a term has no block left (no doc holds every term)."""
    rare = max(distinct, key=lambda t: idfs[t])
    decoded, cand = {}, None
    for t in [rare, *(t for t in distinct if t != rare)]:
        rows = _term_rows(blocks, t)
        if cand is not None:
            rows = _overlapping(rows, cand)
        if len(rows) == 0:
            return None
        decoded[t] = _by_doc(*_decode_term(rows, True))
        if cand is None:  # unique & sorted: one posting row per (doc, term)
            cand = decoded[t][0]
    return decoded, cand


#: pseudo-term key for the type-ahead expansion stream — analyzer tokens
#: can never contain NUL, so it cannot collide with a real term
_NEXT = "\x00next"


def phrase_verify(
    term_data: dict, seq: list[str], slop: int,
    next_term_data: tuple | None = None,
) -> np.ndarray:
    """Documents whose analyzed token stream contains ``seq`` with at most
    ``slop`` intervening tokens per gap. ``term_data[t] = (ids, tfs, pos)``
    with ids sorted, pos aligned to repeat(ids, tfs).

    ``next_term_data`` (ids, tfs, pos — ids need NOT be sorted: it is a
    concatenation of many expansion terms' streams) is the type-ahead
    tail: when given, a document additionally needs one of those
    occurrences at EXACTLY last-kept-position + 1 (the ES
    match_phrase_prefix adjacency), chained as one more step with a
    zero-slop window. The expansion never constrains the candidate doc
    set (docs must contain all of ``seq``; the tail only gates the final
    keep), and is only ever a probe array — so its ordering is free.

    Vectorized chain: candidates = docs containing ALL distinct terms;
    occurrences are packed into int64 keys ordinal*CAP + position (ordinal
    = rank in the candidate list, so the key space is dense regardless of
    absolute doc ids — no overflow at 10^12-doc id spaces). Step i keeps
    an occurrence of seq[i] at position p iff some kept occurrence of
    seq[i-1] sits at q with 1 <= p-q <= slop+1 (same doc, enforced by
    clamping the probe window at the ordinal's key base). The kept side
    is always ascending, so the window test is two searchsorteds over the
    whole occurrence array at once."""
    distinct = sorted(set(seq))
    common = None
    for t in distinct:
        ids = term_data[t][0]
        common = ids if common is None else np.intersect1d(common, ids)
        if len(common) == 0:
            return np.empty(0, dtype=np.int64)
    if len(seq) == 1 and next_term_data is None:
        return common
    streams = {t: term_data[t] for t in distinct}
    if next_term_data is not None:
        streams[_NEXT] = next_term_data
    maxpos = 0
    occ = {}
    for t, (ids, tfs, pos) in streams.items():
        mask_d = np.isin(ids, common)
        ord_d = np.searchsorted(common, ids)
        occ_mask = np.repeat(mask_d, tfs)
        ord_occ = np.repeat(ord_d, tfs)[occ_mask]
        pos_occ = pos[occ_mask]
        if len(pos_occ):
            maxpos = max(maxpos, int(pos_occ.max()))
        occ[t] = (ord_occ, pos_occ)
    if next_term_data is not None and len(occ[_NEXT][0]) == 0:
        return np.empty(0, dtype=np.int64)
    cap = np.int64(1) << np.int64(max(1, int(maxpos) + slop + 2).bit_length())
    # int32 keys when the packed space fits: halves the bytes every
    # searchsorted of the chain touches (the measured hot-phrase cost)
    kdt = np.int32 if len(common) * int(cap) < 2**31 else np.int64
    cap = kdt(cap)
    keys = {
        t: occ[t][0].astype(kdt) * cap + occ[t][1].astype(kdt)
        for t in occ
    }
    steps = [(t, slop) for t in seq[1:]]
    if next_term_data is not None:
        steps.append((_NEXT, 0))  # "immediately followed": gap exactly 1
    cur = keys[seq[0]]
    for t, s in steps:
        if len(cur) == 0:
            return np.empty(0, dtype=np.int64)
        kt = keys[t]
        base = (kt // cap) * cap  # same-doc clamp for the probe window
        lo = np.maximum(kt - kdt(s + 1), base)
        hit = np.searchsorted(cur, lo, side="left") < np.searchsorted(
            cur, kt, side="left"
        )
        cur = kt[hit]
    if len(cur) == 0:
        return np.empty(0, dtype=np.int64)
    return common[np.unique(cur // cap)]


def phrase_topk_fn(
    seq: list[str],
    idfs: dict[str, float],
    avgdl: float,
    k: int,
    slop: int = 0,
):
    """Per-shard (or whole-index — no θ pruning, so the split is
    irrelevant to the result) positional phrase scorer:
    ``fn(blocks) -> (doc_id, score)`` top-k.

    The complete terms decode intersection-aware (``_decode_complete``),
    then ``phrase_verify`` chains their positions. Scoring is BM25
    require_all over the distinct terms, accumulated in sorted-term order
    with the same _impact factoring as every other path — bit-identical
    floats to ExactBM25.match_phrase (rank-identity-tested)."""
    distinct = sorted(set(seq))

    def fn(blocks: pd.DataFrame, attrs=None, cache=None) -> pd.DataFrame:
        got = _decode_complete(blocks, distinct, idfs)
        if got is None:
            return _empty()
        decoded = got[0]
        verified = phrase_verify(
            {t: (decoded[t][0], decoded[t][1], decoded[t][3]) for t in distinct},
            seq,
            slop,
        )
        scores = _score_verified(decoded, distinct, idfs, avgdl, verified)
        return _topk(verified, scores, k)

    return fn


def _score_verified(
    decoded: dict, distinct: list[str], idfs: dict, avgdl: float,
    verified: np.ndarray,
) -> np.ndarray:
    """RAW BM25 require_all sums over ``distinct`` terms for the
    ``verified`` doc set, term-major accumulation in sorted-term order —
    the same _impact factoring as every other path, so floats are
    bit-identical to ExactBM25's phrase scores (rank-identity-tested).
    Shared by the phrase and phrase-prefix positional kernels, which cut
    them with ``_topk``."""
    acc = np.zeros(len(verified), dtype=np.float64)
    for t in distinct:
        ids, tfs, dls, _ = decoded[t]
        m = np.isin(ids, verified)
        idx = np.searchsorted(verified, ids[m])
        w = idfs[t] * _impact(
            tfs[m].astype(np.float64), dls[m].astype(np.float64), avgdl
        )
        acc += np.bincount(idx, weights=w, minlength=len(verified))
    return acc


def phrase_prefix_topk_fn(
    seq: list[str],
    pfx: str,
    idfs: dict[str, float],
    avgdl: float,
    k: int,
):
    """Per-shard positional type-ahead scorer (ES match_phrase_prefix,
    index-only): ``seq`` = the COMPLETE analyzed terms (scored, BM25
    require_all), ``pfx`` = the trailing prefix (membership only — a doc
    qualifies iff the complete sequence appears adjacent in order with a
    token starting with ``pfx`` at the NEXT position).

    The input blocks carry BOTH roles: rows whose term is in ``seq`` and
    rows whose term starts with ``pfx`` (one seek keeps both: wand
    ``_Seek`` with ``pfx``); a complete term that itself starts with ``pfx``
    legitimately serves both. Complete terms decode intersection-aware
    (``_decode_complete``); the expansion rows are ``_overlapping``-pruned
    against the rarest term's candidates BEFORE decode, and decode as
    one occurrence stream: the chain's zero-slop tail — never collected,
    never scored, so there is no max_expansions dependence
    (ExactBM25.match_phrase_prefix's semantics exactly)."""
    distinct = sorted(set(seq))

    def fn(blocks: pd.DataFrame, attrs=None, cache=None) -> pd.DataFrame:
        exp_rows = _term_rows(blocks, pfx, prefix=True)
        got = _decode_complete(blocks, distinct, idfs) if len(exp_rows) else None
        if got is None:
            return _empty()
        decoded, cand = got
        exp_rows = _overlapping(exp_rows, cand)
        if len(exp_rows) == 0:
            return _empty()
        ids, tfs, _, pos = _decode_term(exp_rows, True)
        verified = phrase_verify(
            {t: (decoded[t][0], decoded[t][1], decoded[t][3]) for t in distinct},
            seq,
            0,
            next_term_data=(ids, tfs, pos),
        )
        scores = _score_verified(decoded, distinct, idfs, avgdl, verified)
        return _topk(verified, scores, k)

    return fn
