"""Block-max top-k retrieval over the compressed index (capability B14).

Per-shard scorer + global merge — exactly the reference's ES architecture:
5 shards each return local top-k, the coordinator re-ranks (reference:
src/utils/elasticsearch_utils.py:28-30 config; inherent to every
es.search). Here ONE per-shard stage (``CompressedIndex._dispatch``)
runs on two sites: the seek plan from the resident footer stats → the
column read → ``_select`` → the attrs clauses → the kernel. The cluster
site runs it once per shard inside executor tasks (``_shard_task``)
under a Catalyst ``TakeOrderedAndProject`` merge; the driver site runs
it once over the whole index under a numpy merge. Only the merge
differs.

Scale design:
  * Document lengths travel INSIDE the posting blocks (``dls_enc`` —
    the Lucene-norms analog), so an unfiltered query reads only the
    query terms' blocks: cost O(postings of Q terms), independent of
    corpus size. No doc-table join, ever.
  * Posting files are term-sorted, so a query reads only the row groups
    whose footer term range can hold its terms (``_seek_plan``) — on
    either site; both keep rows by the same rule (``_select``). The
    driver site reads each column chunk from disk at most once per
    index generation (its cache, ``_seek_blocks``); tasks read uncached.
  * Filter clauses (keyword, prefix, ranges, exists, ids, geo) run as a
    pyarrow scan of the attrs files with the predicates pushed to
    row-group stats (``_Clauses.docs``) — the scorer never sees a
    non-matching attrs row.
  * Every per-shard kernel is ``fn(blocks, attrs=None, cache=None)``;
    its ``blocks`` arrive in ONE canonical order with term codes, set
    once on both sites right after ``_select`` (``_ordered``), so no
    kernel sorts or maps the term strings again.
    Executor tasks never pass ``cache``; the driver site passes its
    index, through whose decoded-postings cache the BM25 kernels decode
    (``_decoder``). A kernel shipped to executor tasks holds no index.
  * Every kernel decodes posting blocks through ONE varbyte decoder
    (positions ``_decode_term``; the BM25 kernels through its
    ``_decode_impacts``, or the coordinator's cache of it) and drops
    blocks holding no candidate doc with ONE range prune
    (positions ``_overlapping``) before decode. The uncut OR scorers
    (the match set, the compound scorers, multi_match) share one sum,
    ``_or_sums``.
  * Block bounds are rescaled by idf_now / idf_build so pruning stays
    safe after incremental appends grow N (see builder.py).
  * On the cluster site, a query whose decode volume is small runs
    every shard in one task (one job, one stage, one task with the
    merge); a larger one runs one task per shard.

The classic block-max WAND pointer walk is per-document Python — banned
(input_hint). We use a **vectorized two-pass block-max prune** with the
same skipping benefit and provable exactness:

1. θ := k-th best *partial* score from fully scoring the rarest query term
   (a valid lower bound on the final k-th score).
2. Prune any block b of term t with ``bound(b) + Σ_{t'≠t} U_{t'} < θ``
   where U_t is term t's max block bound. For a doc d whose blocks are ALL
   pruned, taking t* = argmax bound over d's terms gives
   score(d) ≤ bound(b_{t*}) + Σ_{t'≠t*} U_{t'} < θ — d can never enter the
   top-k. Every potential top-k doc therefore survives in ≥1 block.
3. TAAT-score surviving blocks (vectorized decode + groupby-sum), then add
   back contributions hiding in pruned blocks whose doc-id range intersects
   a candidate (targeted decode) — candidate scores are exact; final top-k.

Boolean composition (B7): must_not exclusions and constant-score filters
are applied before θ and before top-k. ``require_all`` (AND, scores
summed) disables pruning and filters on matched-term count.
"""

from __future__ import annotations

import bisect
import functools
import math
import os
import re
from collections import OrderedDict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..bm25 import ROUND_DECIMALS
from ..index.builder import (
    load_attrs,
    load_postings,
    load_term_stats,
    read_meta,
    term_stats_sources,
)
from ..index.codec import decode_varbyte  # noqa: F401 (perfbench's tracer swaps it)
from .positions import (
    _NP_TYPES,
    _RESULT_SCHEMA,
    _columns,
    _decode_ids,
    _decode_impacts,
    _empty,
    _overlapping,
    _successor,
    _term_rows,
    _topk,
    phrase_prefix_topk_fn,
    phrase_topk_fn,
)


def _prefix_range(col, p: str):
    """``col`` in [p, successor(p)) — exactly the strings starting with
    p, with both endpoints plain literals a scan prunes row groups on.
    ``col`` is a Catalyst column or a pyarrow field expression; the
    operators read the same on both."""
    succ = _successor(p)
    return col >= p if succ is None else (col >= p) & (col < succ)


def _shard_files(root: str):
    """(shard, path) of every parquet file under ``root``'s hive
    ``shard=N`` directories, in sorted listing order."""
    for entry in sorted(os.listdir(root)):
        if not entry.startswith("shard="):
            continue
        d = os.path.join(root, entry)
        for fname in sorted(os.listdir(d)):
            if fname.endswith(".parquet"):
                yield int(entry.split("=", 1)[1]), os.path.join(d, fname)


@dataclass(frozen=True)
class _Seek:
    """The posting rows one seek keeps: ``term`` in ``terms`` or, with
    ``pfx``, in the phrase prefix's [pfx, successor) range. ``field``
    tags the rows it reads with a ``_field`` column (the sub-index of a
    multi-field seek)."""

    terms: tuple
    pfx: str | None = None
    field: str | None = None

    def __post_init__(self):
        object.__setattr__(self, "terms", tuple(sorted(set(self.terms))))

    def mask(self, tbl):
        term = tbl.column("term")
        keep = pc.is_in(term, value_set=pa.array(self.terms, pa.string()))
        if self.pfx is not None:
            rng = pc.greater_equal(term, self.pfx)
            succ = _successor(self.pfx)
            if succ is not None:
                rng = pc.and_(rng, pc.less(term, succ))
            keep = pc.or_(keep, rng)
        return keep


def _read_columns(path: str, reads) -> list:
    """The raw column read of one postings file, the only place a seek
    touches the disk: for each ``(row group, cols)`` of ``reads``, that
    row group's ``cols`` decompressed into one pyarrow table, every row
    kept. ``use_threads=False``: the coordinator already runs one call
    per file on its thread pool, and nested arrow threads there would
    thrash."""
    pf = pq.ParquetFile(path)
    try:
        return [
            pf.read_row_group(rg, columns=list(cols), use_threads=False)
            for rg, cols in reads
        ]
    finally:
        pf.close()


def _ordered(tbl) -> pd.DataFrame:
    """The kernels' one block order, set on both sites right after
    ``_select`` (``_seek_blocks``, ``_shard_task``): a stage's blocks as
    pandas, sorted by those of (``_field``, term, shard, first_doc_id)
    the seek read, with ``tc``, each term's rank among the frame's
    distinct terms. Each (field, shard, term) is one run in doc-id
    order, and a doc's postings come term-major in sorted-term order:
    the canonical order every score sums in, so the whole-index and
    per-shard passes agree to the bit. (shard precedes first_doc_id: an
    ``append_batch`` that moves the range boundaries leaves a shard's
    doc ids in two ranges.) Kernels never re-sort."""
    keys = [c for c in ("_field", "term", "shard", "first_doc_id")
            if c in tbl.column_names]
    tbl = tbl.take(pc.sort_indices(tbl, [(c, "ascending") for c in keys]))
    tc = pc.subtract(pc.rank(tbl.column("term"), tiebreaker="dense"), 1)
    return tbl.append_column("tc", tc.cast("int64")).to_pandas()


def _runs(blocks: pd.DataFrame):
    """(shard, tc, start, end) of each run of ``_ordered`` ``blocks``
    (or of rows taken from them in order) holding one (shard, term)."""
    sh, tc = blocks["shard"].to_numpy(), blocks["tc"].to_numpy()
    cut = np.flatnonzero((sh[1:] != sh[:-1]) | (tc[1:] != tc[:-1])) + 1
    at = [0, *cut.tolist(), len(tc)]
    return [(int(sh[a]), int(tc[a]), a, b) for a, b in zip(at, at[1:]) if b > a]


def _select(tbl, shard: int, seek: _Seek):
    """The one selection rule of both seek sites: the rows of one
    postings file's table ``tbl`` that ``seek`` keeps, tagged with
    their ``shard`` (and ``seek.field``); None when no row is kept."""
    tbl = tbl.filter(seek.mask(tbl))
    if not tbl.num_rows:
        return None
    tbl = tbl.append_column(
        "shard", pa.array(np.full(tbl.num_rows, shard, dtype=np.int32))
    )
    if seek.field is not None:
        tbl = tbl.append_column("_field", pa.array([seek.field] * tbl.num_rows))
    return tbl


def _shard_task(groups, cols, fn, clauses, attrs_cols, attrs_schema, attrs_root,
                schema):
    """The executor side of ``_dispatch``: for each ``(shard,
    [(postings file, row groups, _Seek)], attrs files)`` of its
    partition, the per-file reads (``cols`` only, uncached — a task is
    stateless per query — then ``_select``ed, as the coordinator's
    cached ``_seek_blocks`` does), the blocks put in ``_ordered`` order
    and the per-shard
    kernel ``fn`` — the one the driver site runs once whole-index, here
    once per shard, so θ pruning is per shard as in ES — as
    ``fn(blocks, attrs)`` (never a ``cache``) with ``attrs_cols``: ONE
    pyarrow scan of the shard's attrs files for the (shard, doc_id,
    *attrs_cols) rows passing ``clauses`` (``_Clauses.docs``). Yields
    the kernel's rows as the DDL ``schema`` types them (``_values``).
    The arguments are picklable; nothing here reaches the index
    object."""
    for shard, files, attrs_files in groups:
        tabs = [
            t for path, rgs, seek in files
            if (t := _select(pa.concat_tables(
                _read_columns(path, [(rg, cols) for rg in rgs])
            ), shard, seek)) is not None
        ]
        if not tabs:
            continue
        blocks = _ordered(pa.concat_tables(tabs))
        if attrs_cols is not None:
            ds = pads.dataset(
                attrs_files, schema=attrs_schema, partitioning="hive",
                partition_base_dir=attrs_root,
            )
            out = fn(blocks, clauses.docs(ds, attrs_cols))
        else:
            out = fn(blocks)
        yield from zip(*(_values(out[n], t) for n, t in _columns(schema)))


def _values(s: pd.Series, t: str) -> list:
    """One kernel column as Python values of the DDL type ``t``, NaN /
    None / NA as None (a Spark null, as an Arrow hand-off masks them),
    so a reduce above skips a missing attr value, not counts a NaN."""
    na = s.isna().to_numpy()
    vals = iter(s[~na].to_numpy(dtype=_NP_TYPES[t]).tolist())
    return [None if m else next(vals) for m in na]


@dataclass(frozen=True)
class _Clauses:
    """The constant-score filter clauses of one query, parsed and checked
    once (``check``) and rendered two ways: ``docs(dataset)`` for a
    pyarrow scan of the attrs files (every scored query, on either
    site), ``cond()`` for Catalyst over the attrs table
    (``constant_score``). Equality /
    ``terms`` In, the [p, successor) prefix range, inclusive ranges,
    IsNotNull, the doc-id In and the geo prune box reach the attrs
    Parquet scan on both sites; ``geo`` compiles through ops.geo. False
    when no clause is given."""

    filters: dict | None = None
    prefix: tuple[str, str] | None = None
    ranges: dict | None = None
    exists_cols: list | None = None
    ids: list | None = None
    geo: tuple | None = None

    def __bool__(self) -> bool:
        return bool(
            self.filters or self.prefix or self.ranges or self.exists_cols
            or self.ids is not None or self.geo is not None
        )

    def check(self, columns, extra=()) -> "_Clauses":
        """Validate the clauses and the ``extra`` columns against the
        attrs ``columns`` on the driver, before any job: a malformed geo
        clause and a column the attrs lack raise ValueError here."""
        named = [*extra, *(self.filters or {}), *(self.ranges or {}), *(self.exists_cols or [])]
        if self.prefix is not None:
            named.append(self.prefix[0])
        if self.geo is not None:
            from ..ops.geo import parse_geo_clause

            named += parse_geo_clause(self.geo)[1:3]
        missing = sorted({c for c in named if c not in columns})
        if missing:
            raise ValueError(f"index attrs lack columns {missing}")
        return self

    def cond(self):
        """ONE Catalyst condition over the attrs table (None when no
        clause is given) — every clause reaches the attrs Parquet scan as
        PushedFilters (StartsWith included); ``geo`` compiles through
        ops.geo.geo_clause_cond."""
        if not self:
            return None
        cond = F.lit(True)
        for col, val in (self.filters or {}).items():
            # list/tuple/set value = ES `terms` query: col IN (…) — pushed to
            # the attrs scan as an In filter
            if isinstance(val, (list, tuple, set)):
                cond = cond & F.col(col).isin(*sorted(val))
            else:
                cond = cond & (F.col(col) == F.lit(val))
        if self.prefix is not None:
            cond = cond & F.col(self.prefix[0]).startswith(self.prefix[1])
        for col, (lo, hi) in (self.ranges or {}).items():
            if lo is not None:
                cond = cond & (F.col(col) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(col) <= F.lit(hi))
        for col in self.exists_cols or []:
            cond = cond & F.col(col).isNotNull()
        if self.ids is not None:
            cond = cond & F.col("doc_id").isin([int(i) for i in self.ids])
        if self.geo is not None:
            from ..ops.geo import geo_clause_cond

            cond = cond & geo_clause_cond(self.geo)
        return cond

    def docs(self, dataset, extra=()) -> pd.DataFrame:
        """The (shard, doc_id, *extra) rows of the pyarrow attrs
        ``dataset`` (the whole table on the coordinator, one shard's
        files in an executor task) passing every clause — with no
        clause, every row: the one attrs read of a distributed stage.
        The predicates push into the scan (row-group stats + dictionary
        filtering) and only ``extra`` and the columns the re-checks need
        are materialized, so memory is O(matching docs)."""
        es = []
        for col, val in (self.filters or {}).items():
            if isinstance(val, (list, tuple, set)):
                es.append(pc.field(col).isin(sorted(val)))
            else:
                es.append(pc.field(col) == val)
        keep = list(dict.fromkeys(["shard", "doc_id", *extra]))
        cols = list(keep)
        if self.prefix is not None:
            # the range form prunes row groups and dictionaries; it is a
            # strict SUPERSET of the prefix match ('src1z' falls in
            # ['src1', 'src2') without starting a longer prefix), so the
            # exact starts_with re-check below restores the Catalyst
            # StartsWith semantics
            es.append(_prefix_range(pc.field(self.prefix[0]), self.prefix[1]))
            if self.prefix[0] not in cols:
                cols.append(self.prefix[0])
        for col, (lo, hi) in (self.ranges or {}).items():
            if lo is not None:
                es.append(pc.field(col) >= lo)
            if hi is not None:
                es.append(pc.field(col) <= hi)
        es += [~pc.field(col).is_null() for col in self.exists_cols or []]
        if self.ids is not None:
            es.append(pc.field("doc_id").isin([int(i) for i in self.ids]))
        if self.geo is not None:
            # the clause's prune box (radius: the shared conservative
            # radius_bbox; polygon: the vertex bbox with strict uppers —
            # the Catalyst prune's bounds); the exact re-check (haversine
            # / ray cast) runs below on the survivors
            from ..ops.geo import geo_clause_prune_box, parse_geo_clause

            _, g_lon, g_lat, _ = parse_geo_clause(self.geo)
            lat_lo, lat_hi, lon_lo, lon_hi, strict = geo_clause_prune_box(self.geo)
            lat = pc.field(g_lat)
            es += [lat >= lat_lo, (lat < lat_hi) if strict else (lat <= lat_hi)]
            if lon_lo is not None:
                lon = pc.field(g_lon)
                es += [lon >= lon_lo, (lon < lon_hi) if strict else (lon <= lon_hi)]
            cols += [c for c in (g_lon, g_lat) if c not in cols]
        expr = None
        for e in es:
            expr = e if expr is None else expr & e
        tbl = dataset.to_table(columns=cols, filter=expr)
        if self.prefix is not None:
            tbl = tbl.filter(pc.starts_with(pc.field(self.prefix[0]), self.prefix[1]))
        if self.geo is not None:
            from ..ops.geo import geo_clause_mask_np

            tbl = tbl.filter(pa.array(geo_clause_mask_np(
                self.geo,
                tbl.column(g_lon).to_numpy(zero_copy_only=False),
                tbl.column(g_lat).to_numpy(zero_copy_only=False),
            )))
        return tbl.select(keep).to_pandas()


def _ranked(
    partial: DataFrame, k: int, offset: int = 0, after: tuple | None = None
) -> DataFrame:
    """The global merge every scored distributed path ends with: round
    the per-shard partial scores to ROUND_DECIMALS, keep only rows
    strictly after the ``after`` (score, doc_id) keyset cursor when one
    is given, rank (score DESC, doc_id ASC) and cut the page [offset,
    offset + k) — a TakeOrderedAndProject over O(shards × (k+offset))
    rows."""
    ranked = partial.withColumn("score", F.round("score", ROUND_DECIMALS))
    if after is not None:
        # the shards already filtered; restating the predicate in
        # Catalyst keeps the plan self-describing and the merge exact
        # even if a custom fn variant ever skips the cursor
        s0, d0 = after
        ranked = ranked.where(
            (F.col("score") < F.lit(s0))
            | ((F.col("score") == F.lit(s0)) & (F.col("doc_id") > F.lit(d0)))
        )
    ranked = ranked.orderBy(F.desc("score"), F.asc("doc_id"))
    if offset:
        ranked = ranked.offset(offset)
    return ranked.limit(k)


def _ranked_local(out: pd.DataFrame, k: int, offset: int = 0) -> pd.DataFrame:
    """Coordinator twin of ``_ranked`` over a pandas partial: the same
    rounding, the same (score DESC, doc_id ASC) order (one numpy
    lexsort; (score, doc_id) pairs are unique) and the same [offset,
    offset + k) page."""
    score = out["score"].to_numpy(dtype=np.float64).round(ROUND_DECIMALS)
    page = np.lexsort((out["doc_id"].to_numpy(), -score))[offset : offset + k]
    return pd.DataFrame({
        c: score[page] if c == "score" else out[c].to_numpy()[page]
        for c in out.columns
    })


@dataclass(frozen=True)
class _Scored:
    """One scored query parsed once — analysis, idfs, validation and the
    kernel arguments — and run on either execution site by
    ``CompressedIndex._execute``. ``terms`` are the scored terms,
    ``wanted`` every term whose postings the kernel reads, and
    ``kernel`` is the per-shard kernel (the phrase kernels decode
    positions uncached and ignore ``cache``). ``positional`` queries
    read the position columns and route by decode volume; ``pfx`` is a
    phrase prefix's open last token. ``est`` is the decode estimate
    (None without a resident dictionary); ``empty`` marks a query no
    doc can match."""

    terms: list
    wanted: list
    kernel: Callable
    est: int | None
    k: int
    offset: int = 0
    empty: bool = False
    clauses: _Clauses = _Clauses()
    after: tuple | None = None
    positional: bool = False
    pfx: str | None = None


def _doc_page(blocks: pd.DataFrame, n: int) -> pd.DataFrame:
    """The first ``n`` distinct doc ids of the posting ``blocks``,
    ascending, each at constant score 1.0 — the decode both
    constant-score tails share."""
    ids = np.unique(_decode_ids(blocks))[:n]
    return pd.DataFrame({"doc_id": ids, "score": np.full(len(ids), 1.0)})


def _key_text(s: pd.Series, as_int: bool, null: str | None = None) -> pd.Series:
    """Attr values as the text Spark's ``cast(string)`` gives them, a
    null as ``null``: an integer attr (``as_int``, from the attrs file
    schema: ``CompressedIndex._as_int``) reads '3' on every shard and
    site, whether pandas read its column as int64 or, holding a null,
    as float64 — the one key rendering of every keyed reduce."""
    if as_int:
        s = s.astype("Int64")
    return s.astype(str).where(s.notna(), null)


def _key_counts(keys: pd.Series, after: str | None = None) -> pd.DataFrame:
    """(facet_key, cnt) per distinct value of ``keys`` — the terms-agg
    combine; with ``after``, only keys strictly above the composite
    cursor."""
    if after is not None:
        keys = keys[keys > after]
    vc = keys.value_counts()
    return pd.DataFrame({"facet_key": vc.index.astype(str), "cnt": vc.to_numpy()})


def _wildcard_regex(pattern: str) -> str:
    """ES wildcard pattern → anchored regex: ``*`` = any sequence, ``?``
    = one character, everything else escaped — lowercased like the
    analyzer, and evaluated identically by Java regex (rlike) and RE2."""
    return "^" + "".join(
        ".*" if c == "*" else "." if c == "?" else re.escape(c)
        for c in pattern.lower()
    ) + "$"


def _within_edits(terms: np.ndarray, q: str, max_edits: int) -> np.ndarray:
    """Mask of ``terms`` (str) within ``max_edits`` classic Levenshtein
    edits of ``q`` over codepoints — the metric of F.levenshtein and
    DuckDB's levenshtein. One DP row per term character, computed for
    every candidate at once (a row's insert chain is one running
    minimum); a candidate leaves the batch at its last character, or
    once its whole row exceeds ``max_edits`` (no path comes back)."""
    if not len(terms):
        return np.zeros(0, bool)
    u = terms.astype(str)
    codes, lens = u.view(np.uint32).reshape(len(u), -1), np.char.str_len(u)
    qc, j = np.array([q]).view(np.uint32), np.arange(len(q) + 1)
    dist = np.full(len(u), max_edits + 1)
    live, row = np.arange(len(u)), np.tile(j, (len(u), 1))
    for i in range(1, codes.shape[1] + 1):
        sub = row[:, :-1] + (codes[live, i - 1][:, None] != qc)
        row[:, 1:] = np.minimum(row[:, 1:] + 1, sub)
        row[:, 0] = i
        row = np.minimum.accumulate(row - j, axis=1) + j
        end = lens[live] == i
        dist[live[end]] = row[end, -1]
        keep = ~end & (row.min(axis=1) <= max_edits)
        live, row = live[keep], row[keep]
    return dist <= max_edits


@dataclass(frozen=True)
class _Dictionary:
    """The resident term dictionary (``CompressedIndex.refresh``): every
    indexed term once, in codepoint order — the postings files' order —
    with its df and cf, as arrays (``text``: the same terms as one Arrow
    string array, for the RE2 and length kernels). Every driver-side
    dictionary read is a binary search (``find``), a [p, successor(p))
    range (``range``) or one vectorized filter over a range
    (``matching``); none walks the terms in Python."""

    term: np.ndarray
    text: pa.Array
    df: np.ndarray
    cf: np.ndarray

    @classmethod
    def of(cls, tbl: pa.Table) -> _Dictionary:
        tbl = tbl.sort_by("term")
        text = tbl.column("term").combine_chunks()
        return cls(
            text.to_numpy(zero_copy_only=False), text,
            tbl.column("df").to_numpy().astype(np.int64),
            tbl.column("cf").to_numpy().astype(np.int64),
        )

    def find(self, terms) -> np.ndarray:
        """The row of each of ``terms``; -1 for a term not indexed."""
        keys = np.array(terms, dtype=object)
        if not len(self.term):
            return np.full(len(keys), -1)
        i = np.minimum(np.searchsorted(self.term, keys), len(self.term) - 1)
        return np.where(self.term[i] == keys, i, -1)

    def range(self, p: str) -> tuple[int, int]:
        """The rows of the terms starting with ``p``: [p, successor(p))."""
        succ = _successor(p)
        hi = len(self.term) if succ is None else np.searchsorted(self.term, succ)
        return int(np.searchsorted(self.term, p)), int(hi)

    def matching(self, pfx: str = "", fuzzy=None, rx=None) -> np.ndarray:
        """Rows of the terms an expansion keeps: the ``pfx`` range, then
        with ``fuzzy`` = (term, max_edits) its length band and the
        batched DP (``_within_edits``), with ``rx`` an RE2 match of the
        anchored pattern."""
        lo, hi = self.range(pfx)
        rows, text = np.arange(lo, hi), self.text[lo:hi]
        if fuzzy is not None:
            q, e = fuzzy
            rows = rows[np.abs(pc.utf8_length(text).to_numpy() - len(q)) <= e]
            rows = rows[_within_edits(self.term[rows], q, e)]
        if rx is not None:
            rows = rows[pc.match_substring_regex(text, rx).to_numpy(False)]
        return rows

    def top(self, rows: np.ndarray, n: int) -> list[str]:
        """The ``n`` best terms of ``rows`` by (-df, term) — ES
        ``max_expansions``; rows are term-ordered, so a row breaks ties."""
        return self.term[rows[np.lexsort((rows, -self.df[rows]))[:n]]].tolist()


def _decoder(blocks: pd.DataFrame, cache, avgdl: float):
    """``decode(rows) -> (ids, impact)`` for a BM25 kernel over
    ``blocks``: the doc ids and the idf-independent BM25 impacts
    (``bm25.tf_weight_np``) in posting order. ``cache`` is the index the
    driver site passes: its decoded-postings cache
    (``CompressedIndex._make_decoder``). Executor tasks pass none and
    decode uncached through positions ``_decode_impacts``, which the
    cache fills from — so results are byte-identical on both sites."""
    if cache is not None:
        return cache._make_decoder(blocks)
    return functools.partial(_decode_impacts, avgdl=avgdl)


def _or_sums(blocks: pd.DataFrame, terms, idfs: dict[str, float], decode):
    """(uids, RAW BM25 sums) of the uncut OR match over ``terms`` in
    ``blocks``, decoded through ``decode`` (``_decoder``). Accumulation
    is term-major over sorted distinct terms — the canonical order
    every scoring path uses (``_ordered``), so the sums equal
    ``_shard_topk_fn``'s floats; the caller transforms and rounds once
    (``_topk``)."""
    ids, ws = [], []
    for t in sorted(set(terms)):
        sub = _term_rows(blocks, t)
        if len(sub):
            i, impact = decode(sub)
            ids.append(i)
            ws.append(idfs[t] * impact)
    if not ids:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    # bincount adds in input order: each doc's sum runs term-major
    uids, inv = np.unique(np.concatenate(ids), return_inverse=True)
    return uids, np.bincount(inv, weights=np.concatenate(ws), minlength=len(uids))


def _shard_topk_fn(
    terms: list[str],
    idfs: dict[str, float],
    avgdl: float,
    k: int,
    filtered: bool,
    must_not_terms: list[str],
    require_all: bool,
    should_terms: list[str] | None = None,
    dense_hint: int = 0,
    cursor: tuple[float, int] | None = None,
    min_match: int | None = None,
):
    """Per-shard scorer factory. ``fn(blocks)`` for the blocks-only fast
    path; ``fn(blocks, attrs)`` for filtered queries, where ``attrs``
    holds ONLY the doc_ids that already survived the keyword/prefix
    predicates — the predicates themselves are evaluated upstream (a
    pyarrow scan of the attrs files with the predicates pushed down,
    ``_Clauses.docs``, on either site), never in pandas here. Every
    posting decodes through ``_decoder(blocks, cache, avgdl)``. All
    numpy/pandas batch ops — no per-row Python."""
    # dense doc-id spaces (the builder assigns shards by id range over
    # n_docs, so ids are 0..N-ish) let per-doc sums run as one
    # np.bincount over a dense array instead of np.unique's O(n log n)
    # sort — same accumulation order (bincount adds in input order), so
    # identical floats. Sparse/foreign id spaces fall back to unique.
    dense_cap = min(4 * dense_hint, 1 << 25) if dense_hint else 0

    def agg_sums(ids: np.ndarray, w: np.ndarray, w2: np.ndarray | None = None):
        """(unique_ids, sum_w[, sum_w2]) grouped by doc id; BM25 weights
        are strictly positive, so a dense bin is occupied iff its sum>0.
        Bins are offset by min(ids), so a per-shard call (distributed
        path — ids span only the shard's contiguous range) allocates
        O(shard span), not O(corpus)."""
        if len(ids) and dense_cap:
            lo = int(ids.min())
            span = int(ids.max()) - lo + 1
            if lo >= 0 and span <= dense_cap:
                off = ids - lo
                acc = np.bincount(off, weights=w, minlength=span)
                nz = np.flatnonzero(acc)
                if w2 is None:
                    return nz + lo, acc[nz]
                acc2 = np.bincount(off, weights=w2, minlength=span)
                return nz + lo, acc[nz], acc2[nz]
        uids, inv = np.unique(ids, return_inverse=True)
        sums = np.bincount(inv, weights=w, minlength=len(uids))
        if w2 is None:
            return uids, sums
        return uids, sums, np.bincount(inv, weights=w2, minlength=len(uids))

    def fn(blocks: pd.DataFrame, attrs: pd.DataFrame | None = None,
           cache=None) -> pd.DataFrame:
        if len(blocks) == 0:
            return _empty()
        decode = _decoder(blocks, cache, avgdl)
        allowed = None
        if filtered:
            if attrs is None or len(attrs) == 0:
                return _empty()
            allowed = np.sort(attrs["doc_id"].to_numpy(dtype=np.int64))
        # per term code (``_ordered``): its term, idf and whether it is
        # one of ``ts`` — one lookup per distinct term, indexed by tc
        tc = blocks["tc"].to_numpy()
        vocab = np.empty(int(tc.max()) + 1, dtype=object)
        vocab[tc] = blocks["term"].to_numpy()
        idf = np.array([idfs.get(t, 0.0) for t in vocab], dtype=np.float64)

        def among(ts) -> np.ndarray:
            ts = set(ts)
            return np.array([t in ts for t in vocab], dtype=bool)

        excluded = None
        if must_not_terms:
            nb = blocks[among(must_not_terms)[tc]]
            if len(nb):
                excluded = np.unique(decode(nb)[0])
        qb = blocks[among([*terms, *(should_terms or [])])[tc]]
        if len(qb) == 0:
            return _empty()
        q_tc = qb["tc"].to_numpy()

        def ok_mask(ids: np.ndarray) -> np.ndarray:
            m = np.ones(len(ids), dtype=bool)
            if allowed is not None:
                m &= np.isin(ids, allowed)
            if excluded is not None:
                m &= ~np.isin(ids, excluded)
            return m

        def score_block_rows(rows: pd.DataFrame):
            """Decode + BM25-weight every posting of the given block rows
            in BULK (one ``decode`` call): (ids, idf * impact, term
            code)."""
            ids, fb = decode(rows)
            codes = np.repeat(
                rows["tc"].to_numpy(), rows["n_docs"].to_numpy(dtype=np.int64)
            )
            return ids, idf[codes] * fb, codes

        # rescale stored bounds to current idf (appends grow N; builder.py)
        bound = (
            qb["block_max_w"].to_numpy() * idf[q_tc]
            / np.maximum(qb["idf_build"].to_numpy(), 1e-12)
        )
        if require_all or should_terms or (min_match and min_match > 1):
            # matched-must-term counting constrains the result (AND
            # semantics / should boosts), so block-max pruning by score
            # bound doesn't apply — but INTERSECTION-AWARE pruning does:
            # every qualifying doc must occur in the seed terms' postings
            # (the rarest must term under AND; all must terms otherwise),
            # so any other block whose doc-id range contains no seed
            # candidate can be skipped before decode, and decoded postings
            # of non-candidates dropped before the aggregation. Exact:
            # a doc absent from the seed postings can never satisfy
            # n_matched == len(terms) (AND) / n_matched >= 1 (should), and
            # a candidate's postings all live in range-intersecting blocks.
            if require_all:
                seed = among([max(terms, key=lambda t: idfs[t])])[q_tc]
            else:
                seed = among(terms)[q_tc]
            s_ids, s_w, s_c = score_block_rows(qb[seed])
            cand = np.unique(s_ids)
            o_ids, o_w, o_c = score_block_rows(_overlapping(qb[~seed], cand))
            sel = np.isin(o_ids, cand)
            ids = np.concatenate([s_ids, o_ids[sel]])
            w = np.concatenate([s_w, o_w[sel]])
            # one posting row per (doc, term) ⇒ the must-indicator sum ==
            # number of distinct must terms matched
            is_must = among(terms)[np.concatenate([s_c, o_c[sel]])]
            uids, score, n = agg_sums(ids, w, is_must.astype(np.float64))
            # require_all ⇒ need every distinct must term; min_match ⇒ ES
            # minimum_should_match (n can never exceed the distinct-term
            # count, so >= expresses both)
            need = len(set(terms)) if require_all else (min_match or 1)
            good = n >= need
            cand_ids = uids[good]
            keep = ok_mask(cand_ids)
            out_ids, out_scores = cand_ids[keep], score[good][keep]
        else:
            # ---- pass 1: θ from the rarest term, then block prune --------
            # each term's rows are one run of qb: its max bound U_t
            starts = np.flatnonzero(np.diff(q_tc, prepend=-1))
            u = np.maximum.reduceat(bound, starts)
            present = q_tc[starts]
            theta = -math.inf
            r = int(np.argmax(idf[present]))
            r_ids, r_w, _ = score_block_rows(
                qb.iloc[starts[r]:(starts[r + 1] if r + 1 < len(starts) else None)]
            )
            if len(r_ids) and cursor is None:
                # a search_after cursor excludes the head of the ranking,
                # so the k-th best single-term weight is NOT a lower bound
                # on the k-th QUALIFYING total — block-max pruning is
                # disabled for cursor queries (cost stays O(query-term
                # postings), the same bill the AND branch always pays, and
                # crucially independent of page depth — unlike offset,
                # whose per-shard window is k+offset)
                km = ok_mask(r_ids)
                r_w = r_w[km]
                if len(r_w) >= k:
                    theta = float(np.partition(r_w, -k)[-k])
            u_of = np.zeros(len(vocab))
            u_of[present] = u
            others = float(u.sum()) - u_of[q_tc]
            # prune with one rounding quantum of slack: a doc whose raw
            # upper bound is below θ − 10^-R has ROUNDED score strictly
            # below the rounded k-th result, so pruning is exact under the
            # rounded total order the merge uses — per-shard and
            # whole-index passes (whose θ differ) then agree even when a
            # raw score straddles θ within rounding distance.
            margin = 10.0 ** (-ROUND_DECIMALS)
            survive = (bound + others) >= theta - margin
            kept, pruned = qb[survive], qb[~survive]
            ids, w, codes = score_block_rows(kept)
            m = ok_mask(ids)
            # unique ids come back sorted, so the pruned-block patch
            # below can merge by searchsorted
            uids, sums = agg_sums(ids[m], w[m])
            # a pruned block matters only if its id range holds a candidate
            p_rows = _overlapping(pruned, uids)
            if len(p_rows):
                p_ids, p_w, p_c = score_block_rows(p_rows)
                sel = np.isin(p_ids, uids)
                if sel.any():
                    # recompute each patched doc's sum FROM SCRATCH in
                    # the canonical term order (term codes) the kept-only
                    # sums used — adding the patch on top of the kept
                    # partial (`sums += adds`) would associate the
                    # floats by the θ-dependent kept/pruned split,
                    # which differs between the per-shard and
                    # whole-index passes. A patched doc's full posting
                    # set is always kept ∪ this patch: any pruned block
                    # holding a candidate is kept by ``_overlapping``.
                    patched = np.unique(p_ids[sel])
                    mk = np.isin(ids, patched)
                    cat_ids = np.concatenate([ids[mk], p_ids[sel]])
                    cat_w = np.concatenate([w[mk], p_w[sel]])
                    cat_tk = np.concatenate([codes[mk], p_c[sel]])
                    order = np.lexsort((cat_tk, cat_ids))
                    r_uids, r_sums = agg_sums(cat_ids[order], cat_w[order])
                    # every r_uid is in uids by the sel mask above
                    sums[np.searchsorted(uids, r_uids)] = r_sums
            out_ids, out_scores = uids, sums
        # rank on the ROUNDED score — the same total order the global
        # merge uses (search: F.round then orderBy; search_local: round
        # then sort). Cutting on raw floats here while merging on rounded
        # ones upstream would let a raw-score boundary disagree with a
        # rounded tie, making per-shard and whole-index passes diverge.
        if cursor is not None:
            # keyset predicate on the ROUNDED total order the merge uses:
            # strictly after (s0, d0) under (score DESC, doc_id ASC)
            s0, d0 = cursor
            rounded = np.round(out_scores, ROUND_DECIMALS)
            after = (rounded < s0) | ((rounded == s0) & (out_ids > d0))
            out_ids, out_scores = out_ids[after], out_scores[after]
        return _topk(out_ids, out_scores, k)

    return fn


class CompressedIndex:
    """Query engine over an on-disk index built by index.builder."""

    # term dictionaries below this size live in coordinator (driver) memory
    # — the ES analog: every shard keeps its Lucene term dictionary resident.
    # Above it, lookups fall back to a cached Spark scan.
    _LOCAL_TERMSTATS_BYTES = 256 * 1024 * 1024
    #: byte budget of the coordinator cache (``_cache_put``); 0 caches
    #: nothing
    _POSTING_CACHE_BYTES = 512 << 20

    #: posting columns the per-shard kernels read: the BM25 scorer
    #: (``_shard_topk_fn``, also the score_queries and multi-field
    #: kernels) and the positional phrase kernels
    _SEEK_COLS = (
        "term", "n_docs", "docs_enc", "tfs_enc", "dls_enc",
        "block_max_w", "idf_build", "first_doc_id", "last_doc_id",
    )
    _POS_COLS = (
        "term", "n_docs", "docs_enc", "tfs_enc", "dls_enc",
        "first_doc_id", "last_doc_id", "pos_enc",
    )

    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark = spark
        self.out_dir = out_dir
        # AQE's per-shuffle re-optimization rounds cost ~2× scheduling
        # latency on small interactive query jobs (measured ~950→520 ms
        # at 30k docs) and buys nothing there — the query shuffle is a
        # fixed n_shards-way partial top-k. The override can't be scoped
        # per-query (execution of the returned DataFrame is lazy), so it
        # is session-wide; build_index/append_batch protect themselves
        # by forcing AQE on for their own duration.
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        self.refresh()

    def refresh(self) -> None:
        """(Re)load meta, term stats and dataset listings. An open index
        SNAPSHOTS these for query latency (the ES analog: a shard's term
        dictionary is resident); after ``append_batch`` rewrites
        term_stats/meta/postings, call ``refresh()`` (or reopen) so
        queries see the new N/avgdl/df and the appended posting files.
        A term_stats no larger than ``_LOCAL_TERMSTATS_BYTES`` becomes
        the resident dictionary, one term-sorted (term, df, cf) table
        (``_Dictionary``) that every driver-side dictionary read and
        expansion uses; a larger one stays a cached Spark scan.
        It also drops the coordinator cache, whole: the decompressed
        posting column chunks (``_seek_blocks``) and the decoded
        postings (``_make_decoder``), one LRU under one
        ``_POSTING_CACHE_BYTES`` budget. Nothing is cached at open; the
        cache fills as queries read."""
        spark, out_dir = self.spark, self.out_dir
        self.meta = read_meta(out_dir)
        # query analysis, highlight and significant_terms use the INDEX's
        # analyzer (the ES per-field analyzer hook) — ES match semantics:
        # the query text is analyzed with the field's analyzer, so a
        # custom-analyzer index can never silently mismatch its own
        # postings. perfbench's tracer swaps ``_analyze``.
        self._analyzer = self.meta.analyzer()
        self._analyze = self._analyzer.analyze
        self.postings = load_postings(spark, out_dir)
        self.attrs = load_attrs(spark, out_dir)
        self.term_stats = load_term_stats(spark, out_dir)
        self._pads_attrs = None
        self._seek_handles = None
        self._attrs_files = None
        self._dec_cache: OrderedDict = OrderedDict()
        self._dec_cache_bytes = 0
        self._dict: _Dictionary | None = None
        try:
            srcs, merge = term_stats_sources(out_dir)
            files = [
                os.path.join(s, f)
                for s in srcs
                if os.path.isdir(s)
                for f in os.listdir(s)
                if f.endswith(".parquet")
            ] + [s for s in srcs if not os.path.isdir(s)]
            size = sum(os.path.getsize(f) for f in files)
            if size <= self._LOCAL_TERMSTATS_BYTES and files:
                tbl = pads.dataset(files).to_table(columns=["term", "df", "cf"])
                if merge:  # stats deltas present (post-append)
                    tbl = tbl.group_by("term").aggregate(
                        [("df", "sum"), ("cf", "sum")]
                    ).rename_columns(["term", "df", "cf"])
                self._dict = _Dictionary.of(tbl)
        except OSError:
            pass
        if self._dict is None:
            self.term_stats = self.term_stats.cache()

    def _dfs(self, terms: list[str]) -> dict[str, int]:
        """Document frequency of each indexed term among ``terms``, from
        the resident dictionary when the index holds one, else one
        vocab-bounded term_stats collect."""
        if self._dict is not None:
            rows = self._dict.find(terms)
            return {t: int(self._dict.df[r]) for t, r in zip(terms, rows) if r >= 0}
        rows = self.term_stats.where(F.col("term").isin(terms)).collect()
        return {r["term"]: r["df"] for r in rows}

    def _idfs(self, terms: list[str]) -> dict[str, float]:
        n = float(self.meta.n_docs)
        return {
            t: math.log1p((n - df + 0.5) / (df + 0.5))
            for t, df in self._dfs(terms).items()
        }

    #: The largest decode volume (postings, or positions for a phrase)
    #: a per-shard stage runs in ONE Spark task (``_dispatch``); above
    #: it, one task per shard. Measured on the per-shard grouped map the
    #: executor seek replaced (4-core VM, 60k-doc bench corpus, 16
    #: shards, hot-term OR ``search``): one coalesced task's wall time
    #: was 0.94-0.96x the shuffle's at 15k-30k and +10-44 % above 45k.
    #: Not yet re-measured against one task per shard.
    _ONE_TASK_MAX_POSTINGS = 30_000

    def _df_sum(self, terms) -> int | None:
        """Σ df over ``terms`` from the resident dictionary — the postings
        a stage over them decodes, its ``_dispatch`` estimate. None when
        the dictionary is not resident: no Spark job is spent on an
        estimate, and the stage runs one task per shard."""
        if self._dict is None:
            return None
        rows = self._dict.find(terms)
        return int(self._dict.df[rows[rows >= 0]].sum())

    def search(
        self,
        text: str,
        k: int = 10,
        offset: int = 0,
        require_all: bool = False,
        filters: dict[str, str] | None = None,
        prefix: tuple[str, str] | None = None,
        must_not_text: str | None = None,
        should_text: str | None = None,
        search_after: tuple[float, int] | None = None,
        ranges: dict[str, tuple] | None = None,
        min_match: int | None = None,
        exists_cols: list[str] | None = None,
        ids: list[int] | None = None,
        geo: tuple | None = None,
    ) -> DataFrame:
        """Top-k BM25 (doc_id, score), score DESC / doc_id ASC.

        ``exists_cols`` is the ES exists query (attr non-null);
        ``ids`` the ES ids query (doc-id In list) — both evaluated
        beside the other filters, pushed to the attrs scan (is-not-null
        / In reach Parquet row-group pruning).

        ``geo`` is the ES geo_distance query over geo_point attr columns
        — (lon_col, lat_col, lon0, lat0, radius_m) — OR the ES
        geo_polygon query — (lon_col, lat_col, [(lon, lat), …]), the
        reference's flagship geo predicate (geo_polygon.py:36-54). Both
        compile through the shared ops.geo.geo_clause_cond: a
        scan-pushable bbox prune (radius-derived or vertex bbox) ANDed
        with the exact test (haversine / ray cast on the bbox
        survivors), evaluated beside the other filter clauses so the
        scorer sees only surviving (shard, doc_id) pairs.

        ``min_match`` is ES ``minimum_should_match`` on a match query: a
        doc qualifies only if it matches at least that many DISTINCT
        analyzed query terms (1 = the default OR; len(terms) ≡
        require_all). Query terms absent from the index can never be
        matched, so a min_match above the indexed-term count returns
        empty — the ES behavior.

        ``ranges`` is the ES range query over keyword/numeric attr
        columns: {col: (lo, hi)}, bounds inclusive, either side None for
        open-ended — evaluated like the equality filters, so the
        comparison reaches the attrs Parquet scan (row-group pruning).

        Pagination, two forms (ES ``from`` vs ``search_after``):
        ``offset`` makes every shard surface the whole k+offset window —
        O(offset) per shard, fine for page 2, wrong for page 10 000.
        ``search_after=(score, doc_id)`` of the last hit keysets instead:
        each shard filters on the rounded (score, doc_id) tuple and
        returns only its local top-k AFTER the cursor, so shuffle and
        merge stay O(shards × k) at ANY page depth — the ES search_after
        scale story, reproduced on the same rounded total order both
        engines rank by (mutually exclusive with ``offset``)."""
        return self._execute(self._search_spec(
            text, k, offset, require_all, filters, prefix, must_not_text,
            should_text, search_after, ranges, min_match, exists_cols, ids,
            geo,
        ), local=False)

    def _clauses(self, filters, prefix, ranges, exists_cols, ids, geo) -> _Clauses:
        """The filter clauses, checked against the attrs schema."""
        return _Clauses(filters, prefix, ranges, exists_cols, ids, geo).check(
            self.attrs.columns
        )

    def _search_spec(
        self, text, k=10, offset=0, require_all=False, filters=None,
        prefix=None, must_not_text=None, should_text=None, search_after=None,
        ranges=None, min_match=None, exists_cols=None, ids=None, geo=None,
    ) -> _Scored:
        """``search`` / ``search_local`` (same parameters) parsed once,
        before any posting I/O: the argument checks, the filter clauses,
        analysis of the query, should and must_not texts, idfs from the
        term dictionary (zero-df terms dropped) and the scorer's
        arguments."""
        clauses = self._clauses(filters, prefix, ranges, exists_cols, ids, geo)
        if search_after is not None and offset:
            raise ValueError("offset and search_after are mutually exclusive")
        terms = sorted(set(self._analyze(text)))
        if not terms:
            raise ValueError("query analyzes to zero terms")
        if min_match is not None and (min_match < 1 or require_all):
            raise ValueError("min_match must be >= 1 and not combine with require_all")
        should_terms = [
            t for t in sorted(set(self._analyze(should_text or ""))) if t not in terms
        ]
        idfs = self._idfs(terms + should_terms)
        terms = [t for t in terms if t in idfs]  # drop zero-df terms
        should_terms = [t for t in should_terms if t in idfs]
        must_not_terms = sorted(set(self._analyze(must_not_text or "")))
        wanted = terms + should_terms + must_not_terms
        kernel = _shard_topk_fn(
            terms, idfs, self.meta.avgdl, k + offset, bool(clauses),
            must_not_terms, require_all, should_terms,
            dense_hint=int(self.meta.n_docs), cursor=search_after,
            min_match=min_match,
        )
        return _Scored(
            terms, wanted, kernel, self._df_sum(wanted), k, offset,
            empty=not terms or (min_match or 1) > len(terms),
            clauses=clauses, after=search_after,
        )

    def _execute(self, spec: _Scored, local: bool):
        """Run a parsed scored query on one execution site: the per-shard
        stage (``_dispatch``: the seek of ``wanted`` or a phrase prefix's
        [pfx, successor) range, the filter clauses and the spec's kernel)
        on the cluster → ``_ranked``, one TakeOrderedAndProject job; or
        on the driver → ``_ranked_local``.

        The whole-index driver pass is bit-identical to the per-shard
        split: shards partition the doc-id space, so a doc's postings
        all live in one shard, and the scorer accumulates every doc's sum
        in canonical term order (``_ordered``) even though the
        GLOBAL θ prunes a different kept/pruned split than any per-shard
        θ; the phrase kernels have no θ. Rank-identity between the sites
        is asserted in bench.py and the tests. A positional query whose
        decode estimate exceeds ``_PHRASE_LOCAL_MAX_POSTINGS`` (or is
        unknown: no resident dictionary) runs on the cluster even when
        asked for locally; only latency moves."""
        if local and spec.positional and (
            spec.est is None or spec.est > self._PHRASE_LOCAL_MAX_POSTINGS
        ):
            return self._execute(spec, local=False).toPandas()
        if spec.empty:
            return _empty() if local else self.spark.createDataFrame([], _RESULT_SCHEMA)
        out = self._dispatch(
            [(self, _Seek(spec.wanted, spec.pfx))],
            self._POS_COLS if spec.positional else self._SEEK_COLS,
            spec.kernel, spec.est, spec.clauses, local=local,
        )
        if local:
            return _ranked_local(out, spec.k, spec.offset)
        return _ranked(out, spec.k, spec.offset, after=spec.after)

    def _dispatch(
        self, seeks: list, cols, fn, est: int | None,
        clauses: _Clauses = _Clauses(), schema: str = _RESULT_SCHEMA,
        attrs_cols: list | None = None, local: bool = False,
    ):
        """The engine's one per-shard stage, on two sites. ``seeks`` are
        (index, ``_Seek``) pairs over indexes sharing this doc-id shard
        split (one per field for multi_match); the stage reads the rows
        each seek keeps (``cols`` only) and, with ``clauses`` or
        ``attrs_cols`` (checked against the attrs files first), the attrs
        rows passing the clauses, then runs ``fn(blocks, attrs, cache)``.

        * cluster: the seeks' plan (``_seek_plan``) as
          ``sc.parallelize(...).mapPartitions`` over ``_shard_task``,
          which runs ``fn`` once per shard over that shard's rows and
          attrs, reading and decoding uncached; a lazy DataFrame of the
          kernel's rows in the DDL ``schema``: no Catalyst scan, no
          Arrow hand-off of posting blocks from the JVM, no Exchange.
          ``est`` is the decode estimate: within ``_one_task``, every
          shard runs in one task; above it, or unknown (no resident
          dictionary), one task per shard.
        * driver (``local``): the coordinator seek (``_seek_blocks``),
          one attrs scan of the whole index and ``fn`` once over the
          whole index with this index as ``cache``; the kernel's pandas
          frame (``schema``-typed and empty when no block is kept)."""
        if clauses and attrs_cols is None:
            attrs_cols = []  # the (shard, doc_id) rows passing the clauses
        if attrs_cols is not None:
            clauses.check(self._attrs_dataset().schema.names, attrs_cols)
        if local:
            blocks = self._seek_blocks(seeks, cols)
            if not len(blocks):
                return _empty(schema)
            attrs = None if attrs_cols is None else clauses.docs(
                self._attrs_dataset(), attrs_cols
            )
            return fn(blocks, attrs, self)
        _, attrs_files = self._files()
        plan: dict[int, list] = {}
        for ix, sk in seeks:
            for shard, files in ix._seek_plan(sk.terms, sk.pfx).items():
                plan.setdefault(shard, []).extend((p, rgs, sk) for p, rgs in files)
        groups = [
            (shard, files, [] if attrs_cols is None else attrs_files.get(shard, []))
            for shard, files in plan.items()
        ]
        if not groups:
            return self.spark.createDataFrame([], schema)
        task = functools.partial(
            _shard_task, cols=tuple(cols), fn=fn, clauses=clauses,
            attrs_cols=attrs_cols,
            attrs_schema=None if attrs_cols is None else self._attrs_dataset().schema,
            attrs_root=os.path.join(self.out_dir, "attrs"), schema=schema,
        )
        rdd = self.spark.sparkContext.parallelize(
            groups, 1 if self._one_task(est) else len(groups)
        ).mapPartitions(task)
        return self.spark.createDataFrame(rdd, schema, verifySchema=False)

    def _one_task(self, est: int | None) -> bool:
        """Whether a stage decoding ``est`` postings runs in one task."""
        return est is not None and est <= self._ONE_TASK_MAX_POSTINGS

    def _check_attrs(self, *cols) -> None:
        """Refuse, on the driver, a column the attrs files lack."""
        _Clauses().check(self._attrs_dataset().schema.names, cols)

    def _as_int(self, col: str) -> bool:
        """Whether the attrs files type ``col`` as an integer (its keys
        render through ``_key_text``)."""
        return pa.types.is_integer(self._attrs_dataset().schema.field(col).type)

    def _needs_positions(self, method: str) -> None:
        """Phrase queries are answered from positional postings only —
        the ES contract ("field was indexed without position data;
        cannot run PhraseQuery"): an index built without them refuses
        instead of scanning the source text."""
        if self.meta.index_options != "positions":
            raise ValueError(
                f"{method} needs an index built with "
                f"index_options='positions' (index has "
                f"{self.meta.index_options!r})"
            )

    def match_phrase(
        self,
        text: str,
        k: int = 10,
        offset: int = 0,
        slop: int = 0,
    ) -> DataFrame:
        """ES match_phrase analog (B6 extension), answered ENTIRELY from
        the index — requires an index built with
        ``index_options="positions"`` (ValueError otherwise). ``slop``
        admits up to that many intervening tokens PER GAP between
        consecutive phrase terms, in order (analyzer._phrase_body
        documents the deliberate divergence from ES's total-edit-distance
        slop; the exact engine and the DuckDB twin share that one
        pattern). Phrase membership is decided by position-chain
        intersection over the terms' position streams
        (engine/positions.py), so the query's data volume is O(phrase
        terms' postings) regardless of corpus size: it reads exactly what
        a keyword AND reads plus the position bytes, and the source table
        is never touched. Intersection-aware decode prunes hot terms'
        blocks against the rarest term's candidates before any varbyte
        work.

        Scoring = BM25 sum over the phrase's distinct terms (the
        require_all score), rank (score DESC, doc_id ASC) — identical to
        ExactBM25.match_phrase (rank-identity-tested) and twinned in the
        DuckDB oracle. ES's phrase-frequency scoring is intentionally not
        reproduced (documented divergence).

        Plan: the seek of the phrase terms' row groups → the per-shard
        kernel in executor tasks (the rarest term's candidates prune the
        other terms' blocks before decode, then verify + BM25
        require_all top-k in one decode pass) → global rounded (score
        DESC, doc_id ASC) merge.
        """
        return self._execute(
            self._phrase_spec("match_phrase", text, k, offset, slop), local=False
        )

    def _phrase_spec(
        self, method: str, text: str, k: int, offset: int, slop: int = 0,
        prefix: bool = False,
    ) -> _Scored:
        """The four phrase methods parsed once: the positions check,
        analysis, the complete/prefix split (``prefix``: the last token is
        open), the complete terms' idfs, the decode estimate and the
        positional kernel's arguments."""
        self._needs_positions(method)
        seq = self._analyze(text)
        if not seq:
            raise ValueError("phrase analyzes to zero terms")
        complete, pfx = (seq[:-1], seq[-1]) if prefix else (seq, None)
        terms = sorted(set(complete))
        idfs = self._idfs(terms) if terms else {}
        avgdl, n = self.meta.avgdl, k + offset
        kernel = (
            phrase_prefix_topk_fn(complete, pfx, idfs, avgdl, n) if prefix
            else phrase_topk_fn(seq, idfs, avgdl, n, slop)
        )
        return _Scored(
            terms, terms, kernel, self._phrase_decode_estimate(terms), k,
            offset, empty=len(idfs) < len(terms), positional=True, pfx=pfx,
        )

    def match_phrase_prefix(
        self,
        text: str,
        k: int = 10,
        offset: int = 0,
    ) -> DataFrame:
        """ES match_phrase_prefix analog ("type-ahead phrase"), answered
        ENTIRELY from the index — requires ``index_options="positions"``
        (ValueError otherwise): the complete terms must appear adjacent
        in order with a token STARTING WITH the last analyzed token at
        the NEXT position.

        Scoring contract matches ExactBM25.match_phrase_prefix: BM25
        require_all over the COMPLETE terms only (the prefix gates
        membership, not score — documented divergence from ES's
        max_expansions-dependent expansion scoring), rank (score DESC,
        doc_id ASC). A single-token query has no complete terms to score
        and routes to ``term_prefix_search`` (constant score 1.0,
        doc_id ASC — the same contract, and the vocab-range scan is the
        cheaper plan for pure type-ahead).

        Plan: ONE seek covering both roles — the complete terms OR the
        [pfx, successor) vocab range (both prune the term-sorted files'
        row groups; the range exactly like ``term_prefix_search``) → the
        per-shard kernel in executor tasks
        (positions.phrase_prefix_topk_fn: chain the complete positions,
        then a zero-slop step into the expansion stream) → global
        rounded merge. Decode volume is O(complete-term postings +
        candidate-pruned expansion postings) at any corpus size. The
        expansion is never collected and never scored, so there is no
        max_expansions dependence."""
        spec = self._phrase_spec(
            "match_phrase_prefix", text, k, offset, prefix=True
        )
        if not spec.terms:
            return self.term_prefix_search(spec.pfx, k=k, offset=offset)
        return self._execute(spec, local=False)

    #: aliases for callers that name the phrase queries this way
    #: (perfbench/run.py, the oracle's wand_match_phrase_pos entries)
    match_phrase_positional = match_phrase
    match_phrase_prefix_positional = match_phrase_prefix

    #: routing threshold for the coordinator phrase twins: above this
    #: estimated POSITIONS-DECODE volume the single-core driver kernel
    #: loses to the distributed path, so the twin transparently routes
    #: there and the "serving-latency story" claim holds on hot phrases
    #: too. The estimate is candidate-share × total occurrences:
    #: (min df / N) × Σ cf — the kernel prunes every term's blocks
    #: against the rarest term's candidates (engine/positions.py
    #: ``_decode_complete``), so it decodes roughly the candidates' share
    #: of each term's occurrence stream. Neither Σ df (mis-routes the
    #: hot+rare phrase: its rare candidates skip almost all hot blocks) nor
    #: min df alone (blind to tf — hot code keywords run 75-160
    #: occurrences/doc, so equal candidate counts can differ 100× in
    #: positions decoded) separates the regimes; the product does, by
    #: ~170× on the bench shapes (hot-hot ≈ 4.7M, hot+rare ≈ 27k at the
    #: 20k-doc calibration corpus; measured 1.53 s vs 64 ms local).
    #: Results are identical on either route (rank-identity tested),
    #: only latency moves.
    _PHRASE_LOCAL_MAX_POSTINGS = 1_000_000

    def _phrase_decode_estimate(self, terms: list[str]) -> int | None:
        """Estimated positions-decode volume of a phrase over ``terms``:
        (min df over terms / N) × Σ cf over terms — 0 if any term is
        unindexed (the result is empty and the local path answers
        instantly). O(terms) over the resident term-stats snapshot; None
        without one, where the estimate would itself cost a Spark job
        (the distributed phrases then run one task per shard, and the
        coordinator twins run on the cluster)."""
        if self._dict is None:
            return None
        rows = self._dict.find(terms)
        if not len(rows) or (rows < 0).any() or not self._dict.df[rows].min():
            return 0
        n = max(int(self.meta.n_docs), 1)
        return int(self._dict.df[rows].min() / n * self._dict.cf[rows].sum())

    def match_phrase_local(
        self,
        text: str,
        k: int = 10,
        offset: int = 0,
        slop: int = 0,
    ) -> pd.DataFrame:
        """``match_phrase`` run on the coordinator (``_execute``): the
        term-dictionary seek of the phrase terms' posting+position
        blocks, the same kernel once whole-index on the driver, no Spark
        job — unless the decode estimate routes the phrase to the
        cluster (``_PHRASE_LOCAL_MAX_POSTINGS``)."""
        return self._execute(
            self._phrase_spec("match_phrase_local", text, k, offset, slop),
            local=True,
        )

    def match_phrase_prefix_local(
        self,
        text: str,
        k: int = 10,
        offset: int = 0,
    ) -> pd.DataFrame:
        """``match_phrase_prefix`` run on the coordinator
        (``_execute``): the seek reads the complete terms' and the [pfx,
        successor) range's blocks; a single-token query takes the
        constant-score tail of ``term_prefix_search`` on the driver
        site, which reads only footer stats. Routes by decode estimate
        like ``match_phrase_local``; without a resident dictionary a
        multi-token query answers on the cluster."""
        spec = self._phrase_spec(
            "match_phrase_prefix_local", text, k, offset, prefix=True
        )
        if spec.terms:
            return self._execute(spec, local=True)
        return self._constant_score_docs(k, None, offset, pfx=spec.pfx, local=True)

    #: size of the coordinator seek's thread pool (``_executor``)
    _FASTPATH_THREADS = 8

    def _executor(self):
        """Persistent coordinator thread pool for the seek's per-file
        column reads (the cache misses). Thread SPAWN on a 4-core VM
        cost ~35 ms (the round-2 host memory-wall), so a per-query
        ThreadPoolExecutor added ~0.2 s of pure thread creation to every
        fast-path call; one long-lived pool per open index amortizes it
        to zero. The pool never affects results
        (test_fastpath_threading_invariant), only concurrency."""
        if getattr(self, "_pool", None) is None:
            self._pool = ThreadPoolExecutor(max_workers=self._FASTPATH_THREADS)
        return self._pool

    def _files(self) -> tuple[list, dict[int, list[str]]]:
        """The index's file listing, built once per ``refresh()``: each
        postings file's seek handle ``(path, n_row_groups, shard, mins,
        maxs)`` — the row groups' term min/max from the footer stats, the
        resident Lucene term dictionary analog (~1 ms/file) — and each
        shard's attrs files, which ship with a seek plan so executor tasks
        do no directory discovery. No file handle stays open (an index can
        have thousands of files; pinning one fd each would exhaust
        ulimit). A file whose stats are missing or out of order (a legacy
        unsorted index) gets ``mins`` None: every seek reads all of it."""
        if self._seek_handles is None:
            handles = []
            post_dir = os.path.join(self.out_dir, "postings")
            for shard, path in _shard_files(post_dir):
                pf = pq.ParquetFile(path)
                try:
                    md = pf.metadata
                    n_rgs = md.num_row_groups
                    mins: list[str] | None = []
                    maxs: list[str] = []
                    if n_rgs:
                        rg0 = md.row_group(0)
                        tcol = next(
                            j
                            for j in range(rg0.num_columns)
                            if rg0.column(j).path_in_schema == "term"
                        )
                        for i in range(n_rgs):
                            s = md.row_group(i).column(tcol).statistics
                            if s is None or not s.has_min_max:
                                mins = None  # no stats → scan whole file
                                break
                            mins.append(s.min)
                            maxs.append(s.max)
                finally:
                    pf.close()
                if mins is not None and (
                    any(a > b for a, b in zip(mins, mins[1:]))
                    or any(a > b for a, b in zip(maxs, maxs[1:]))
                ):
                    mins = None  # not term-sorted → scan whole file
                handles.append((path, n_rgs, shard, mins, maxs))
            attrs: dict[int, list[str]] = {}
            for shard, path in _shard_files(os.path.join(self.out_dir, "attrs")):
                attrs.setdefault(shard, []).append(path)
            self._seek_handles, self._attrs_files = handles, attrs
        return self._seek_handles, self._attrs_files

    def _seek_plan(
        self, wanted, pfx: str | None = None
    ) -> dict[int, list[tuple[str, list[int]]]]:
        """Coordinator term-dictionary seek plan: shard → [(postings file,
        row groups)] holding ``wanted`` or, with ``pfx``, any term in
        [pfx, successor). Posting files are term-sorted (builder sorts
        ("shard", "term", ...) into the partitioned write), so each file's
        row-group term min/max form two ascending lists and the row groups
        that can hold a term t are exactly [bisect_left(maxs, t),
        bisect_right(mins, t)); a range [pfx, succ) hits
        [bisect_left(maxs, pfx), bisect_left(mins, succ)). Conservative by
        construction: parquet stat truncation only widens [min, max], and
        a file without usable stats is read whole — never a missed
        posting. Files keep the listing's order, so both sites read blocks
        in the same order."""
        terms = sorted(set(wanted))
        succ = None if pfx is None else _successor(pfx)
        plan: dict[int, list[tuple[str, list[int]]]] = {}
        for path, n_rgs, shard, mins, maxs in self._files()[0]:
            if mins is None:
                rgs = list(range(n_rgs))
            else:
                hit = {
                    i
                    for t in terms
                    for i in range(
                        bisect.bisect_left(maxs, t), bisect.bisect_right(mins, t)
                    )
                }
                if pfx is not None:
                    hit.update(range(
                        bisect.bisect_left(maxs, pfx),
                        n_rgs if succ is None else bisect.bisect_left(mins, succ),
                    ))
                rgs = sorted(hit)
            if rgs:
                plan.setdefault(shard, []).append((path, rgs))
        return plan

    def _seek_blocks(self, seeks: list, cols) -> pd.DataFrame:
        """The coordinator seek, the driver site of ``_dispatch``: for
        each (index, ``_Seek``) pair of ``seeks``, that index's
        ``_seek_plan`` row groups, only ``cols`` (which must include
        ``term``), as one pandas frame of the blocks ``_select`` keeps,
        tagged with their ``shard`` (and ``_field``), in ``_ordered``
        order with term codes. Each planned column
        chunk — (postings file, row group, column), decompressed — comes
        from the index's own cache; only the misses are read, one
        ``_read_columns`` per file on the thread pool (arrow IO and
        decompression release the GIL), and cached under the budget the
        decoded postings share (``_cache_put``). Postings files are
        immutable for an index generation (``refresh()`` drops the
        cache), so a chunk is read from disk at most once per generation
        while it stays cached; the query holds its own references, so an
        eviction never touches it. Executor tasks read uncached
        (``_shard_task``)."""
        tabs = []
        for ix, sk in seeks:
            files = [
                (shard, path, rgs)
                for shard, fl in ix._seek_plan(sk.terms, sk.pfx).items()
                for path, rgs in fl
            ]
            chunks = ix._column_chunks([(path, rgs) for _, path, rgs in files], cols)
            tabs += [
                t
                for shard, path, rgs in files
                if (t := _select(pa.concat_tables([
                    pa.table({c: chunks[path, rg, c] for c in cols}) for rg in rgs
                ]), shard, sk)) is not None
            ]
        if not tabs:
            return pd.DataFrame(columns=["shard", *cols])
        return _ordered(pa.concat_tables(tabs))

    def _column_chunks(self, files, cols) -> dict:
        """(path, row group, column) → the decompressed column chunk, for
        ``cols`` of every ``(path, row groups)`` in ``files``: the hits
        looked up and the misses cached on the calling thread (so the
        cache needs no lock), the misses read per file on the thread
        pool."""
        cache, got, reads = self._dec_cache, {}, []
        for path, rgs in files:
            miss = []
            for rg in rgs:
                need = []
                for c in cols:
                    hit = cache.get((path, rg, c))
                    if hit is None:
                        need.append(c)
                    else:
                        cache.move_to_end((path, rg, c))
                        got[path, rg, c] = hit[0]
                if need:
                    miss.append((rg, need))
            if miss:
                reads.append((path, miss))
        for (path, miss), tabs in zip(
            reads, self._executor().map(lambda r: _read_columns(*r), reads)
        ):
            for (rg, need), tbl in zip(miss, tabs):
                for c in need:
                    col = tbl.column(c)
                    got[path, rg, c] = col
                    self._cache_put((path, rg, c), col, col.nbytes)
        return got

    def _cache_put(self, key, value, nbytes: int, pinned=frozenset()) -> None:
        """Insert into the coordinator cache — one LRU by bytes holding
        both column chunks and decoded postings, ``_dec_cache_bytes``
        against the ``_POSTING_CACHE_BYTES`` budget (0 caches nothing) —
        evicting least-recently-used entries not in
        ``pinned``. An entry that does not fit the budget even after
        every unpinned eviction is not cached (its caller still serves
        it), so the byte count never exceeds the budget."""
        budget = self._POSTING_CACHE_BYTES
        if not budget or nbytes > budget:
            return
        cache = self._dec_cache
        while self._dec_cache_bytes + nbytes > budget:
            victim = next((k for k in cache if k not in pinned), None)
            if victim is None:
                return
            self._dec_cache_bytes -= cache.pop(victim)[1]
        cache[key] = (value, nbytes)
        self._dec_cache_bytes += nbytes

    def _attrs_dataset(self):
        """The attrs pyarrow dataset for coordinator reads — discovery
        (file listing + schema) runs once per index open."""
        if self._pads_attrs is None:
            self._pads_attrs = pads.dataset(
                os.path.join(self.out_dir, "attrs"), partitioning="hive"
            )
        return self._pads_attrs

    def _make_decoder(self, blocks: pd.DataFrame):
        """Decoded-postings cache + row-aligned gather. Returns
        ``decoder(rows) -> (ids, impact)`` equal to the uncached
        positions ``_decode_impacts(rows, avgdl)`` bit for bit — the same
        postings in the same order (rows order, block order within each
        row) — so scoring is identical with and without the cache.

        The cache is the coordinator analog of Lucene's hot-segment page
        cache: postings are immutable for an index generation (refresh()
        clears it), so a (shard, term)'s varbyte streams decode at most
        once per generation; later queries gather slices. Entries fill
        LAZILY, only when the scorer actually asks for ≥half the term's
        postings — a selective AND that decodes 0.5% of a hot term via
        intersection pruning must NOT pay (or pin) the full decode, so
        small requests decode uncached (``_decode_impacts``) and cache
        nothing; a fill decodes through it too. Blocks are
        located by first_doc_id (unique per (shard, term): salt
        sub-ranges are disjoint and block doc ranges are sorted), and a
        query's (shard, term) groups are contiguous runs of its
        ``_ordered`` blocks (``_runs``). The entries share one LRU by
        bytes and one ``_POSTING_CACHE_BYTES`` budget with the seek's
        column chunks (``_cache_put``); entries touched by the current query are pinned
        against its own eviction, and an entry that does not fit is
        served for this query but not cached. Only the driver site
        decodes through it (``_decoder``); executor tasks decode
        uncached."""
        avgdl = self.meta.avgdl
        terms = blocks["term"].to_numpy()
        counts = blocks["n_docs"].to_numpy(dtype=np.int64)
        fdi_all = blocks["first_doc_id"].to_numpy(dtype=np.int64)
        full = {(sh, c): (a, b) for sh, c, a, b in _runs(blocks)}
        pinned: set = set()

        def decoder(rows: pd.DataFrame):
            fdi = rows["first_doc_id"].to_numpy(dtype=np.int64)
            bcount = rows["n_docs"].to_numpy(dtype=np.int64)
            total = int(bcount.sum())
            out_ids = np.empty(total, dtype=np.int64)
            out_fb = np.empty(total, dtype=np.float64)
            ro = np.cumsum(bcount) - bcount
            for sh, c, a, b in _runs(rows):
                ga, gb = full[sh, c]
                key = (sh, terms[ga])
                cn = bcount[a:b]
                tot = int(cn.sum())
                o = slice(ro[a], ro[a] + tot)
                hit = self._dec_cache.get(key)
                if hit is not None:
                    self._dec_cache.move_to_end(key)
                    ent = hit[0]
                elif 2 * tot < int(counts[ga:gb].sum()):
                    # small slice of a big term (intersection-pruned
                    # AND, must_not probe): decode uncached, keep the
                    # pruning win, don't fault the whole term in
                    out_ids[o], out_fb[o] = _decode_impacts(rows.iloc[a:b], avgdl)
                    continue
                else:
                    # decode the FULL (shard, term) run into a cache
                    # entry, used by this query whether or not it fits
                    ids, fb = _decode_impacts(blocks.iloc[ga:gb], avgdl)
                    firsts = fdi_all[ga:gb].copy()
                    starts = np.cumsum(counts[ga:gb]) - counts[ga:gb]
                    ent = (firsts, starts, ids, fb)
                    self._cache_put(
                        key, ent, ids.nbytes + fb.nbytes + 2 * firsts.nbytes, pinned
                    )
                pinned.add(key)
                firsts, starts, ids, fb = ent
                within = np.arange(tot, dtype=np.int64) - np.repeat(
                    np.cumsum(cn) - cn, cn
                )
                gidx = np.repeat(starts[np.searchsorted(firsts, fdi[a:b])], cn) + within
                out_ids[o] = ids[gidx]
                out_fb[o] = fb[gidx]
            return out_ids, out_fb

        return decoder

    def search_local(
        self,
        text: str,
        k: int = 10,
        offset: int = 0,
        require_all: bool = False,
        filters: dict[str, str] | None = None,
        prefix: tuple[str, str] | None = None,
        must_not_text: str | None = None,
        should_text: str | None = None,
        search_after: tuple[float, int] | None = None,
        ranges: dict[str, tuple] | None = None,
        min_match: int | None = None,
        exists_cols: list[str] | None = None,
        ids: list[int] | None = None,
        geo: tuple | None = None,
    ) -> pd.DataFrame:
        """``search`` run on the coordinator (``_execute``): the same
        parsed query and numpy kernel, over the term-dictionary seek of
        ONLY the query terms' posting blocks and a pyarrow attrs scan —
        no Spark job, data read O(postings of the query terms) at any
        corpus size (rank-identity tested in test_fastpath). This is the
        ES coordinator+shard fan-out collapsed onto one node, the
        reference's single-ES-box deployment (docker-compose.yml:7); use
        ``search`` when the candidate set itself is cluster-sized."""
        return self._execute(self._search_spec(
            text, k, offset, require_all, filters, prefix, must_not_text,
            should_text, search_after, ranges, min_match, exists_cols, ids,
            geo,
        ), local=True)

    def more_like_this(
        self,
        doc_id,
        source: DataFrame,
        k: int = 10,
        max_query_terms: int = 12,
        min_term_freq: int = 1,
        min_doc_freq: int = 2,
        source_id_col: str = "doc_id",
        source_text_col: str = "content",
    ) -> DataFrame:
        """ES more_like_this analog over the compressed index.

        1. Point-lookup the source doc's text (pushed equality filter on
           the source table — the A5/A9 shape; ES re-analyzes _source the
           same way) and re-analyze it driver-side (one doc — constant).
        2. Select its characteristic terms with mlt_select_terms (shared
           float-free tf/df rank; df from the term dictionary, resident
           when small, else a vocab-bounded collect).
        3. Run the standard block-max OR match over the selected terms
           with the source doc excluded (ES include=false default).
        """
        row = (
            source.where(F.col(source_id_col) == F.lit(doc_id))
            .select(source_text_col)
            .collect()
        )
        if not row:
            return self.spark.createDataFrame([], _RESULT_SCHEMA)
        toks = self._analyze(row[0][0])
        dfs = self._dfs(sorted(set(toks)))
        from .exact import mlt_select_terms

        sel = mlt_select_terms(
            toks, dfs, max_query_terms, min_term_freq, min_doc_freq
        )
        if not sel:
            return self.spark.createDataFrame([], _RESULT_SCHEMA)
        # k+1 local window: the excluded source doc can displace at most
        # one row of the global top-k
        res = self.search(" ".join(sel), k=k + 1).where(
            F.col("doc_id") != F.lit(doc_id)
        )
        return res.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def search_highlighted(
        self,
        text: str,
        source: DataFrame,
        k: int = 10,
        frag_tokens: int = 5,
        source_id_col: str = "doc_id",
        source_text_col: str = "content",
        **kwargs,
    ) -> DataFrame:
        """ES highlight analog on the production path: block-max top-k,
        then snippets for ONLY the k hit rows of the source table (the
        broadcast semi-join restricts the tokenize to O(k) docs). Frozen
        fragment semantics in engine/highlight.py. On a synonym index the
        snippets show each token's CANONICAL form (the analyzed token the
        postings hold), where ES shows the surface form the document
        used — documented divergence (see highlight_snippets). The query
        is parsed once (``_search_spec``, ``search``'s keyword arguments
        in ``kwargs``); its scored terms are the highlighted ones."""
        from .highlight import highlight_snippets

        spec = self._search_spec(text, k, **kwargs)
        hits = self._execute(spec, local=False)
        cand = source.join(
            F.broadcast(
                hits.withColumnRenamed("doc_id", source_id_col).select(source_id_col)
            ),
            source_id_col,
            "left_semi",
        )
        hl = highlight_snippets(
            cand, spec.terms, id_col=source_id_col, text_col=source_text_col,
            frag_tokens=frag_tokens, analyzer=self._analyzer,
        )
        return hits.join(hl, "doc_id", "left").select("doc_id", "score", "snippet")

    #: the posting columns the constant-score tails read: ``_doc_page``
    #: decodes only the doc ids
    _DOC_COLS = ("term", "n_docs", "docs_enc")

    def _constant_score_docs(
        self, k: int, est: int | None, offset: int = 0, *,
        terms=(), pfx: str | None = None, local: bool = False,
    ):
        """Distinct doc_ids of the posting blocks of ``terms`` (or of the
        [pfx, successor) range), constant score 1.0, deterministic doc_id
        order — the shared tail of the term-expansion queries (prefix,
        fuzzy, wildcard, regexp) on either site of ``_dispatch``, whose
        seek reads ``_DOC_COLS``. Each shard keeps only its local
        top-(k+offset) by doc_id, so the merge sees O(shards ×
        (k+offset)) rows; the page cut (offset → limit) happens after the
        global doc_id sort, the same keyset-free pagination contract the
        scored paths use. ``est`` is the blocks' Σ df."""
        n = k + offset
        partial = self._dispatch(
            [(self, _Seek(terms, pfx))], self._DOC_COLS,
            lambda bl, attrs=None, cache=None: _doc_page(bl, n),
            est, local=local,
        )
        if local:  # one whole-index page, already doc_id ascending
            return partial.iloc[offset:].reset_index(drop=True)
        ranked = partial.orderBy(F.asc("doc_id"))
        if offset:
            ranked = ranked.offset(offset)
        return ranked.limit(k)

    _COLLAPSE_SCHEMA = "doc_id long, score double, collapse_key string"
    _FACET_SCHEMA = "facet_key string, cnt long"
    _BUCKET_SCHEMA = "bucket string, cnt long"

    def collapse_search(self, text: str, collapse_col: str, k: int = 10) -> DataFrame:
        """ES field collapsing: the top-k distinct values of
        ``collapse_col``, each represented by its best-scoring document
        (score DESC, doc_id ASC within a key; keys ranked by their best).
        The reference's flagship dedup query is morally this shape —
        one representative hit per address key.

        Exact with O(shards x k) shuffle even though collapse keys SPAN
        shards: each shard emits its per-key best capped at its local
        top-k keys. If a key's global best doc (living in shard s) is not
        among shard s's k best keys, then >= k keys beat it inside s, and
        each of those keys' global bests are at least their s-local
        bests — so >= k keys beat it globally and it cannot be in the
        answer. The global pass re-collapses (a key's per-shard bests
        collide here) with a key-partitioned Window, then
        TakeOrderedAndProject merges.

        The shard kernel reuses the single-field scorer uncut (decode is
        O(query-term postings) like every path; the collapse cut bounds
        the SHUFFLE) and joins the shard's attrs slice for the key column
        (``_match_set_stage``). The key is the column's text as Spark's
        ``cast(string)`` gives it: an integer column's key reads '3' even
        when the column holds nulls (pandas reads it as float64), and a
        null key stays null (``_key_text``).
        """
        terms, idfs = self._match_terms(text)
        self._check_attrs(collapse_col)
        if not terms:
            return self.spark.createDataFrame([], self._COLLAPSE_SCHEMA)
        as_int = self._as_int(collapse_col)

        def best(m: pd.DataFrame) -> pd.DataFrame:
            m = m.rename(columns={collapse_col: "collapse_key"}).sort_values(
                ["score", "doc_id"], ascending=[False, True], kind="mergesort"
            )
            best = m.drop_duplicates("collapse_key", keep="first").head(k)
            best = best.assign(collapse_key=_key_text(best["collapse_key"], as_int))
            return best[["doc_id", "score", "collapse_key"]]

        partial = self._match_set_stage(
            terms, idfs, [collapse_col], best, self._COLLAPSE_SCHEMA
        )
        from pyspark.sql import Window

        w = Window.partitionBy("collapse_key").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            partial.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def suggest_terms(self, prefix: str, k: int = 10) -> DataFrame:
        """ES completion-suggester lite: the top-k dictionary terms
        starting with ``prefix``, ranked by document frequency DESC (term
        ASC tiebreak) — the autocomplete primitive. A vocab-bounded scan
        of term_stats with the [prefix, successor) range predicate pushed
        to the Parquet scan; no postings are touched. Returns
        (term, df)."""
        if not prefix:
            raise ValueError("suggest needs a non-empty prefix")
        return (
            self.term_stats.where(_prefix_range(F.col("term"), prefix))
            .select("term", F.col("df").cast("long").alias("df"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(k)
        )

    def function_score(
        self,
        text: str,
        field: str,
        k: int = 10,
        modifier: str = "log1p",
        factor: float = 1.0,
        boost_mode: str = "multiply",
    ) -> DataFrame:
        """ES function_score / field_value_factor over the compressed
        index: rescore the OR match by a function of a numeric attr
        column (engine/fscore.py freezes the modifier math + rounding for
        all paths; engine/score_queries.py has the kernel). Score
        reshaping invalidates BM25 block-max pruning, so the kernel
        decodes the query terms' postings fully — the AND-branch bill —
        and each shard's task reads the field from its own attrs files
        (the field never leaves its shard). Rank-identical to
        ExactBM25.function_score (tested)."""
        from .fscore import _check
        from .score_queries import function_score_fn

        _check(modifier, boost_mode)
        self._check_attrs(field)
        terms, idfs = self._match_terms(text)
        if not terms:
            return self.spark.createDataFrame([], _RESULT_SCHEMA)
        fn = function_score_fn(
            terms, idfs, self.meta.avgdl, k, modifier, factor, boost_mode, field
        )
        partial = self._dispatch(
            [(self, _Seek(terms))], self._SEEK_COLS, fn, self._df_sum(terms),
            attrs_cols=[field],
        )
        return _ranked(partial, k)

    def dis_max(
        self, texts: list[str], k: int = 10, tie_breaker: float = 0.0
    ) -> DataFrame:
        """ES dis_max over match clauses on the analyzed field: score =
        best clause + tie_breaker * (sum of the others); membership = any
        clause matches. One postings scan covers every clause's terms;
        per-shard the kernel computes each clause's rounded sums and
        combines — no pruning (max-combine invalidates the BM25 bound),
        cost O(all clauses' postings). Rank-identical to
        ExactBM25.dis_max (tested)."""
        from .score_queries import dis_max_fn

        if not texts:
            raise ValueError("dis_max needs at least one clause")
        clause_terms = [sorted(set(self._analyze(t))) for t in texts]
        if any(not ct for ct in clause_terms):
            raise ValueError("a dis_max clause analyzes to zero terms")
        all_terms = sorted({t for ct in clause_terms for t in ct})
        idfs = self._idfs(all_terms)
        clause_terms = [[t for t in ct if t in idfs] for ct in clause_terms]
        clause_terms = [ct for ct in clause_terms if ct]
        if not clause_terms:
            return self.spark.createDataFrame([], _RESULT_SCHEMA)
        wanted = sorted({t for ct in clause_terms for t in ct})
        fn = dis_max_fn(
            clause_terms, idfs, self.meta.avgdl, k, float(tie_breaker)
        )
        partial = self._dispatch(
            [(self, _Seek(wanted))], self._SEEK_COLS, fn, self._df_sum(wanted)
        )
        return _ranked(partial, k)

    def boosting(
        self,
        positive: str,
        negative: str,
        k: int = 10,
        negative_boost: float = 0.5,
    ) -> DataFrame:
        """ES boosting query: positive match scores, demoted (×
        negative_boost) where the doc also matches the negative clause —
        contrast with must_not, which excludes. One postings scan covers
        both clauses; the negative side only needs doc ids. Rank-identical
        to ExactBM25.boosting (tested)."""
        from .score_queries import boosting_fn

        pos_terms = sorted(set(self._analyze(positive)))
        neg_terms = sorted(set(self._analyze(negative)))
        if not pos_terms:
            raise ValueError("positive clause analyzes to zero terms")
        idfs = self._idfs(pos_terms + neg_terms)
        pos_terms = [t for t in pos_terms if t in idfs]
        neg_terms = [t for t in neg_terms if t in idfs]
        if not pos_terms:
            return self.spark.createDataFrame([], _RESULT_SCHEMA)
        fn = boosting_fn(
            pos_terms, neg_terms, idfs, self.meta.avgdl, k,
            float(negative_boost),
        )
        wanted = pos_terms + neg_terms
        partial = self._dispatch(
            [(self, _Seek(wanted))], self._SEEK_COLS, fn, self._df_sum(wanted)
        )
        return _ranked(partial, k)

    def constant_score(
        self,
        k: int = 10,
        boost: float = 1.0,
        *,
        filters: dict[str, str] | None = None,
        prefix: tuple[str, str] | None = None,
        ranges: dict[str, tuple] | None = None,
        exists_cols: list[str] | None = None,
        ids: list[int] | None = None,
        geo: tuple | None = None,
    ) -> DataFrame:
        """ES constant_score: every doc passing the filter clauses scores
        ``boost`` — pure Catalyst over the attrs table (filters/prefix/
        ranges/exists/ids pushed to the Parquet scan), postings never
        touched. doc_id ASC, the constant-score contract every
        filter-only path uses. The clauses are ``search``'s, compiled by
        the same code (``geo`` included); an unknown clause name raises
        TypeError instead of silently matching every doc."""
        clauses = self._clauses(filters, prefix, ranges, exists_cols, ids, geo)
        return (
            (self.attrs.where(clauses.cond()) if clauses else self.attrs)
            .select("doc_id", F.lit(float(boost)).alias("score"))
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def facet_counts(self, text: str, facet_col: str, top_n: int = 10) -> DataFrame:
        """ES terms aggregation over the query's FULL match set: how many
        matching docs per distinct ``facet_col`` value, top_n values by
        count DESC (value ASC tiebreak). Each shard counts its own match
        set locally (the map-side combine), so the shuffle is O(shards x
        distinct values), never O(matches). EXACT, unlike ES — whose
        terms agg is approximate across shards (per-shard shard_size
        truncation) — because emitting every shard-local (value, count)
        pair costs a bounded cardinality, not a ranking guarantee.
        """
        terms, idfs = self._match_terms(text)
        self._check_attrs(facet_col)
        if not terms:
            return self.spark.createDataFrame([], self._FACET_SCHEMA)
        as_int = self._as_int(facet_col)
        partial = self._match_set_stage(
            terms, idfs, [facet_col],
            lambda m: _key_counts(_key_text(m[facet_col], as_int)),
            self._FACET_SCHEMA,
        )
        return (
            partial.groupBy("facet_key")
            .agg(F.sum("cnt").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("facet_key"))
            .limit(top_n)
        )

    def term_prefix_search(
        self, prefix: str, k: int = 10, offset: int = 0
    ) -> DataFrame:
        """B5 prefix query as a term-dictionary RANGE seek: the range
        [p, successor(p)) selects row groups by their footer term min/max
        (postings are written sorted by term, so non-matching row groups
        are skipped — the Lucene term-dictionary seek analog), read in
        executor tasks (``_constant_score_docs``). Constant-score 1.0,
        deterministic doc_id order;
        ``offset`` pages within it (the single-token type-ahead routes
        thread theirs through here). The decode estimate is the range's
        Σ df in the resident dictionary."""
        est = None
        if self._dict is not None:
            est = int(self._dict.df[slice(*self._dict.range(prefix))].sum())
        return self._constant_score_docs(k, est, offset, pfx=prefix)

    def pinned(self, ids: list[int], text: str, k: int = 10) -> DataFrame:
        """ES ``pinned`` query — promoted ids above organic hits; see
        engine.score_queries.pinned_compose (shared composition)."""
        from .score_queries import pinned_compose

        return pinned_compose(self, ids, text, k=k)

    def fetch_fields(
        self, hits: DataFrame, cols: list[str], max_fetch: int = 10_000
    ) -> DataFrame:
        """ES ``_source``/``docvalue_fields`` analog: decorate a top-k
        result frame with stored attr columns — (doc_id, score, *cols),
        hit order preserved. The hit ids collect to the driver (bounded
        by ``max_fetch``; a top-k result is coordinator-resident in ES
        too) and push an ``In(doc_id)`` filter into the attrs Parquet
        scan — the attrs files carry monotone doc_id row-group stats
        (builder sorts ("shard", "doc_id")), so the fetch reads O(hits)
        row groups at any corpus size, never the attrs table."""
        missing = [c for c in cols if c not in self.attrs.columns]
        if missing:
            raise ValueError(f"index attrs lack columns {missing}")
        ids = [
            int(r["doc_id"])
            for r in hits.select("doc_id").limit(max_fetch + 1).collect()
        ]
        if len(ids) > max_fetch:
            raise ValueError(
                f"fetch_fields over {max_fetch} hits — raise max_fetch or "
                "join the attrs table directly for batch exports"
            )
        sel = self.attrs.where(F.col("doc_id").isin(ids)).select(
            "doc_id", *cols
        )
        return (
            hits.join(F.broadcast(sel), "doc_id", "left")
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

    def rescore(self, text: str, rescore_text: str, k: int = 10,
                window_size: int = 50, query_weight: float = 1.0,
                rescore_query_weight: float = 1.0,
                score_mode: str = "total") -> DataFrame:
        """ES ``rescore``: re-rank the primary query's top
        ``window_size`` hits by a weighted combination with a secondary
        query's BM25 — see engine.score_queries.rescore_compose (the one
        frozen composition both engines share)."""
        from .score_queries import rescore_compose

        return rescore_compose(
            self, text, rescore_text, k=k, window_size=window_size,
            query_weight=query_weight,
            rescore_query_weight=rescore_query_weight,
            score_mode=score_mode,
        )

    def fuzzy_term_search_local(
        self, term: str, k: int = 10, max_edits: int = 1, prefix_len: int = 0,
        max_expansions: int = 50,
    ) -> pd.DataFrame:
        """``fuzzy_term_search`` with its constant-score tail on the
        coordinator: the expansion runs where the dictionary lives
        (``_expand``), then the seek; no Spark job on a resident
        dictionary."""
        return self._fuzzy(term, k, max_edits, prefix_len, max_expansions, True)

    def wildcard_term_search_local(
        self, pattern: str, k: int = 10, max_expansions: int = 50
    ) -> pd.DataFrame:
        """``wildcard_term_search`` with its tail on the coordinator (see
        ``fuzzy_term_search_local``)."""
        return self._wildcard(pattern, k, max_expansions, True)

    def regexp_term_search_local(
        self, regex: str, k: int = 10, max_expansions: int = 50
    ) -> pd.DataFrame:
        """``regexp_term_search`` with its tail on the coordinator (see
        ``fuzzy_term_search_local``)."""
        return self._regexp(regex, k, max_expansions, True)

    def composite_agg_local(
        self,
        text: str,
        facet_col: str,
        size: int = 10,
        after: str | None = None,
    ) -> pd.DataFrame:
        """``composite_agg`` run on the coordinator — identical
        buckets/counts (equality-tested), no Spark job: its per-shard
        partial runs once whole-index on the driver site
        (``_match_set_stage``; the facet kernel has no θ pruning, so the
        shard split cannot change results) and the page is cut in
        pandas. Driver bill: O(matches + the facet column's matched
        rows); use ``composite_agg`` when that no longer fits a
        coordinator."""
        return self._composite(text, facet_col, size, after, local=True)

    def _cap_expansion(self, vocab: DataFrame, max_expansions: int) -> list[str]:
        """ES ``max_expansions`` contract (default 50 there and here) on
        a non-resident dictionary: keep the best ``max_expansions``
        matched terms of the Catalyst-filtered term_stats scan ``vocab``
        by df (desc; term asc tiebreak — deterministic), silently
        dropping the tail like ES. The cut is an ``orderBy().limit()`` —
        TakeOrderedAndProject, each task keeps only ``max_expansions``
        candidates — so the driver NEVER materializes O(vocab) terms:
        a leading wildcard or hot fuzzy stem over a billion-term code
        vocabulary (the uid tail) collects at most ``max_expansions``
        rows, not the expansion."""
        rows = (
            vocab.select("term", "df")
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .collect()
        )
        return [r["term"] for r in rows]

    def _expand(self, k, max_expansions, local, pfx="", fuzzy=None, rx=None):
        """A term-expansion query (prefix ``pfx``, then ``fuzzy`` = (term,
        max_edits) or an anchored regex ``rx``, as ``_Dictionary.matching``
        reads them). The expansion runs where the dictionary lives: on
        the driver over the resident table (``matching``, then the
        (-df, term) cut ``top``), else as a Catalyst term_stats scan cut
        by ``_cap_expansion`` — both keep the same terms. ``local`` picks
        only where the constant-score tail (``_constant_score_docs``)
        runs."""
        if max_expansions <= 0:
            raise ValueError("max_expansions must be positive")
        if self._dict is not None:
            cands = self._dict.top(self._dict.matching(pfx, fuzzy, rx), max_expansions)
        else:
            col, vocab = F.col("term"), self.term_stats.select("term", "df")
            if pfx:
                vocab = vocab.where(_prefix_range(col, pfx))
            if fuzzy is not None:
                q, e = fuzzy
                vocab = vocab.where(F.length(col).between(len(q) - e, len(q) + e))
                vocab = vocab.where(F.levenshtein(col, F.lit(q)) <= e)
            if rx is not None:
                vocab = vocab.where(col.rlike(rx))
            cands = self._cap_expansion(vocab, max_expansions)
        return self._constant_score_docs(
            k, self._df_sum(cands), terms=cands, local=local
        )

    def fuzzy_term_search(
        self, term: str, k: int = 10, max_edits: int = 1, prefix_len: int = 0,
        max_expansions: int = 50,
    ) -> DataFrame:
        """ES ``fuzzy`` query analog (B5 sibling): docs containing ≥1
        indexed term within ``max_edits`` Levenshtein edits of ``term``.

        Candidate expansion runs over the TERM DICTIONARY, not the
        postings (``_expand``): Lucene walks an edit-distance automaton
        over its FST; here the resident term-sorted table is filtered
        on the driver — the ``prefix_len`` common-prefix range (like
        ES's ``prefix_length``), the length band, then one batched
        Levenshtein DP over the band — and a dictionary too large to
        hold is a Catalyst term_stats scan with the same prefix range,
        band and F.levenshtein. The matched terms — capped at
        ``max_expansions`` best-by-df — then seek their row groups in
        executor tasks: one Spark job on a resident dictionary.

        Constant score 1.0 with deterministic doc_id order — the same
        contract as ``term_prefix_search`` (ES scores fuzzy matches with
        a fuzziness-discounted BM25; constant-score is this engine's
        documented choice, twinned in the oracle). Classic Levenshtein
        (Spark == DuckDB); ES additionally counts transpositions as one
        edit by default — documented divergence.
        """
        return self._fuzzy(term, k, max_edits, prefix_len, max_expansions, False)

    def _fuzzy(self, term, k, max_edits, prefix_len, max_expansions, local):
        """``fuzzy_term_search`` and its coordinator twin: one analysis,
        then ``_expand``."""
        q = self._analyze(term)
        if len(q) != 1:
            raise ValueError("fuzzy_term_search takes exactly one analyzed term")
        return self._expand(
            k, max_expansions, local, q[0][:prefix_len], fuzzy=(q[0], max_edits)
        )

    def wildcard_term_search(
        self, pattern: str, k: int = 10, max_expansions: int = 50
    ) -> DataFrame:
        """ES ``wildcard`` query: docs containing ≥1 indexed term matching
        ``pattern``, where ``*`` = any sequence and ``?`` = one character
        (anchored full-term match, ES semantics).

        Same architecture as ``fuzzy_term_search``: expansion runs over
        the TERM DICTIONARY (O(vocab), never O(corpus)) — the literal
        prefix before the first wildcard is a [prefix, successor) range
        of the resident table (or pushed into the term_stats Parquet
        scan), so ``sp*k`` reads only that range like a prefix query; a
        leading wildcard reads the whole dictionary, exactly ES's
        documented wildcard hazard, and the driver keeps at most
        ``max_expansions`` survivors. The range is matched against the
        anchored regex (RE2 on the resident table, ``rlike`` on the
        scan) and the matched terms' row groups are sought in executor
        tasks. Constant score 1.0, deterministic doc_id order (same
        contract and oracle shape as prefix/fuzzy; ES wildcard is
        constant-score too).
        """
        return self._wildcard(pattern, k, max_expansions, False)

    def _wildcard(self, pattern, k, max_expansions, local):
        """``wildcard_term_search`` and its coordinator twin: one
        validation and regex translation, then ``_expand``."""
        if not pattern:
            raise ValueError("wildcard_term_search needs a non-empty pattern")
        lit_prefix = re.match(r"[^*?]*", pattern).group().lower()
        return self._expand(
            k, max_expansions, local, lit_prefix, rx=_wildcard_regex(pattern)
        )

    def regexp_term_search(
        self, regex: str, k: int = 10, max_expansions: int = 50
    ) -> DataFrame:
        """ES ``regexp`` query: docs containing ≥1 indexed term whose
        ENTIRE text matches ``regex`` (ES anchors implicitly; so does
        this). Dictionary-expansion architecture as above — the anchored
        pattern over the whole dictionary (RE2 on the resident table,
        ``rlike`` on the term_stats scan), ``max_expansions``-capped
        best-by-df, then the seek of those terms. Patterns must stay in
        the Java-regex ∩ RE2 common subset (char classes, alternation,
        quantifiers — no backrefs) so both renderings and the DuckDB
        twin (regexp_full_match) agree; documented engine contract, same
        restriction ES's RE2-like Lucene syntax imposes in practice.
        Constant score 1.0, deterministic doc_id order."""
        return self._regexp(regex, k, max_expansions, False)

    def _regexp(self, regex, k, max_expansions, local):
        """``regexp_term_search`` and its coordinator twin: one
        validation and anchoring, then ``_expand``."""
        if not regex:
            raise ValueError("regexp_term_search needs a non-empty regex")
        return self._expand(k, max_expansions, local, rx=f"^(?:{regex})$")

    _STATS_SCHEMA = (
        "cnt long, min_val double, max_val double, sum_val double, avg_val double"
    )

    def stats_agg(self, text: str, num_col: str) -> DataFrame:
        """ES ``stats`` aggregation over the query's FULL match set:
        count / min / max / sum / avg of a numeric attr column. Each
        shard reduces its own match set to ONE partial row (the map-side
        combine), so the shuffle is O(shards) regardless of match count;
        the final reduce is a single Catalyst agg. Exact — sums are
        integer-valued attr counts here, and avg is derived from
        (sum, cnt) after the merge, so parallelism cannot reorder a
        float accumulation."""
        terms, idfs = self._match_terms(text)
        if not terms:
            return self.spark.createDataFrame([], self._STATS_SCHEMA)

        def stats(m: pd.DataFrame) -> pd.DataFrame:
            v = m[num_col].astype("float64")
            return pd.DataFrame(
                {"cnt": [len(v)], "min_val": [float(v.min())],
                 "max_val": [float(v.max())], "sum_val": [float(v.sum())]}
            )

        partial = self._match_set_stage(
            terms, idfs, [num_col], stats,
            "cnt long, min_val double, max_val double, sum_val double",
        )
        return partial.agg(
            F.sum("cnt").alias("cnt"),
            F.min("min_val").alias("min_val"),
            F.max("max_val").alias("max_val"),
            F.sum("sum_val").alias("sum_val"),
        ).select(
            "cnt", "min_val", "max_val", "sum_val",
            F.round(F.col("sum_val") / F.col("cnt"), ROUND_DECIMALS).alias("avg_val"),
        )

    def histogram_agg(self, text: str, num_col: str, interval: int) -> DataFrame:
        """ES ``histogram`` aggregation over the full match set: doc
        counts per fixed-width bucket ``floor(val / interval) *
        interval``. Per-shard bucket partials (map-side combine) keep the
        shuffle O(shards × buckets); the final reduce sums per bucket.
        Exact and complete (every non-empty bucket), bucket ASC order —
        ES's min_doc_count=1 default."""
        if interval <= 0:
            raise ValueError("interval must be positive")
        terms, idfs = self._match_terms(text)
        schema = "bucket double, cnt long"
        if not terms:
            return self.spark.createDataFrame([], schema)

        def buckets(m: pd.DataFrame) -> pd.DataFrame:
            v = m[num_col].to_numpy(dtype=np.float64)
            vc = pd.Series(np.floor(v / interval) * interval).value_counts()
            return pd.DataFrame(
                {"bucket": vc.index.to_numpy(dtype=np.float64),
                 "cnt": vc.to_numpy()}
            )

        partial = self._match_set_stage(terms, idfs, [num_col], buckets, schema)
        return (
            partial.groupBy("bucket")
            .agg(F.sum("cnt").alias("cnt"))
            .orderBy(F.asc("bucket"))
        )

    def cardinality_agg(self, text: str, col: str) -> DataFrame:
        """ES ``cardinality`` aggregation over the full match set —
        EXACT distinct count of ``col``, where ES ships an HLL++ sketch.
        Per-shard local distinct (map-side dedup bounds the shuffle at
        O(shards × distinct values)), then one global distinct count.
        For web-scale cardinalities where exactness is not required,
        ``F.approx_count_distinct`` over the same per-shard values is the
        drop-in HLL twin (documented scale path; not gated because its
        estimate is not oracle-reproducible)."""
        terms, idfs = self._match_terms(text)
        self._check_attrs(col)
        if not terms:
            return self.spark.createDataFrame([], "cardinality long")
        as_int = self._as_int(col)
        partial = self._match_set_stage(
            terms, idfs, [col],
            lambda m: pd.DataFrame({"val": _key_text(m[col], as_int, "None").unique()}),
            "val string",
        )
        return partial.agg(
            F.count_distinct(F.col("val")).alias("cardinality")
        )

    def filters_agg(
        self, text: str, buckets: dict[str, dict[str, str]]
    ) -> DataFrame:
        """ES ``filters`` aggregation: NAMED buckets, each defined by
        keyword equality filters, counting the query's matching docs per
        bucket (a doc can land in several buckets — ES semantics, unlike
        a terms agg). Per-shard map-side combine: each shard reduces its
        match set to one partial count per bucket, so the shuffle is
        O(shards × buckets). Rows ordered bucket ASC; empty buckets
        reported with cnt 0 (ES keeps them too)."""
        terms, idfs = self._match_terms(text)
        names = sorted(buckets)
        need_cols = sorted({c for b in buckets.values() for c in b})
        self._check_attrs(*need_cols)
        zero = self.spark.createDataFrame(
            [(n, 0) for n in names], self._BUCKET_SCHEMA
        )
        if not terms:
            return zero.orderBy("bucket")
        spec = {n: dict(buckets[n]) for n in names}

        def count(m: pd.DataFrame) -> pd.DataFrame:
            rows = []
            for n in names:
                mask = pd.Series(True, index=m.index)
                for c, v in spec[n].items():
                    mask &= m[c] == v
                rows.append((n, int(mask.sum())))
            return pd.DataFrame(rows, columns=["bucket", "cnt"])

        partial = self._match_set_stage(
            terms, idfs, need_cols, count, self._BUCKET_SCHEMA
        )
        return (
            partial.unionByName(zero)
            .groupBy("bucket").agg(F.sum("cnt").alias("cnt"))
            .orderBy(F.asc("bucket"))
        )

    def range_agg(
        self, text: str, num_col: str, bounds: list[tuple]
    ) -> DataFrame:
        """ES ``range`` aggregation: custom numeric buckets over the
        match set — each (lo, hi) is a half-open [lo, hi) interval, None
        for an open end (the ES from/to contract). Per-shard map-side
        combine, shuffle O(shards × buckets); empty buckets kept with
        cnt 0. Rows come back in CALLER bounds order (key = "lo-hi").
        Duplicate (lo, hi) bounds are rejected up front: the bucket key
        doubles as a map key in the ordering expression (duplicate map
        keys throw under Spark's default mapKeyDedupPolicy=EXCEPTION)
        and the zero-frame groupBy would silently merge their counts."""
        terms, idfs = self._match_terms(text)
        self._check_attrs(num_col)
        return self._interval_buckets(
            terms, idfs, bounds, [num_col],
            lambda m: m[num_col].astype("float64").to_numpy(),
        )

    def geo_distance_agg(
        self,
        text: str,
        lon_col: str,
        lat_col: str,
        origin_lon: float,
        origin_lat: float,
        bounds: list[tuple],
    ) -> DataFrame:
        """ES ``geo_distance`` aggregation: distance-ring buckets from an
        origin over the match set — each (lo, hi) a half-open [lo, hi)
        ring in METERS, None for an open end, rows in caller bounds
        order (key = "lo-hi"), empty rings kept with cnt 0. The ring
        metric is the same haversine as the geo_distance query
        (ops.geo.haversine_np — numpy twin of the Catalyst/SQL formula),
        evaluated inside the per-shard kernel on each shard's own
        matched (lon, lat) pairs, so the shape is exactly ``range_agg``:
        per-shard map-side combine, shuffle O(shards × rings), never
        O(matches). Duplicate bounds rejected like range_agg (the bucket
        key doubles as an ordering-map key)."""
        from ..ops.geo import haversine_np

        terms, idfs = self._match_terms(text)
        self._check_attrs(lon_col, lat_col)
        return self._interval_buckets(
            terms, idfs, bounds, [lon_col, lat_col],
            lambda m: haversine_np(
                m[lon_col].to_numpy(dtype=np.float64),
                m[lat_col].to_numpy(dtype=np.float64),
                origin_lon, origin_lat,
            ),
        )

    def _interval_buckets(
        self, terms, idfs, bounds: list[tuple], cols: list[str], values
    ) -> DataFrame:
        """Keyed half-open [lo, hi) buckets over the match set — the
        shared body of ``range_agg`` and ``geo_distance_agg``: bucket keys
        "lo-hi" ('*' for an open end), the duplicate-bound check, the
        zero frame that keeps empty buckets, and the caller-order map.
        ``values(rows)`` maps a shard's matched rows to the float array
        the bounds apply to."""
        keys = [
            f"{'*' if lo is None else lo}-{'*' if hi is None else hi}"
            for lo, hi in bounds
        ]
        if len(set(keys)) != len(keys):
            raise ValueError(f"duplicate (lo, hi) bounds in {bounds!r}")
        zero = self.spark.createDataFrame(
            [(k, 0) for k in keys], self._BUCKET_SCHEMA
        )
        oexpr = F.element_at(
            F.create_map(*[F.lit(x) for i, k in enumerate(keys) for x in (k, i)]),
            F.col("bucket"),
        )
        if not terms:
            return zero.orderBy(oexpr).select("bucket", "cnt")
        bspec = list(zip(keys, bounds))

        def count(m: pd.DataFrame) -> pd.DataFrame:
            v = values(m)
            rows = []
            for key, (lo, hi) in bspec:
                mask = np.ones(len(v), dtype=bool)
                if lo is not None:
                    mask &= v >= lo
                if hi is not None:
                    mask &= v < hi
                rows.append((key, int(mask.sum())))
            return pd.DataFrame(rows, columns=["bucket", "cnt"])

        partial = self._match_set_stage(
            terms, idfs, cols, count, self._BUCKET_SCHEMA
        )
        return (
            partial.unionByName(zero)
            .groupBy("bucket").agg(F.sum("cnt").alias("cnt"))
            .orderBy(oexpr)
            .select("bucket", "cnt")
        )

    def facet_metric_agg(
        self,
        text: str,
        facet_col: str,
        num_col: str,
        top_n: int = 10,
    ) -> DataFrame:
        """ES terms aggregation WITH SUB-AGGREGATIONS: per facet bucket,
        the doc count plus min/max/sum/avg of a numeric attr over the
        query's full match set — the "terms + metrics" shape that powers
        every ES dashboard panel. top_n buckets by count DESC (key ASC
        tiebreak). Exact (ES's cross-shard terms agg is approximate).

        Plan shape: each shard reduces its own match set to ONE partial
        row per facet value — (key, cnt, sum, min, max) are all
        mergeable, so the shuffle is O(shards × distinct keys) and the
        final reduce derives avg from (sum, cnt) AFTER the merge
        (parallelism cannot reorder a float accumulation).
        """
        terms, idfs = self._match_terms(text)
        self._check_attrs(facet_col, num_col)
        if not terms:
            return self.spark.createDataFrame(
                [], "facet_key string, cnt long, min_val double, "
                "max_val double, avg_val double",
            )
        schema = (
            "facet_key string, cnt long, sum_val double, "
            "min_val double, max_val double"
        )
        as_int = self._as_int(facet_col)

        def metrics(m: pd.DataFrame) -> pd.DataFrame:
            # cnt counts the bucket's documents (ES doc_count, SQL
            # count(*)), null values included; sum, min and max skip
            # nulls and stay null for an all-null bucket, so its avg is
            # null, as sum / count(*) is
            g = m[num_col].astype("float64").groupby(
                _key_text(m[facet_col], as_int, "None")
            )
            size = g.size()
            return pd.DataFrame(
                {"facet_key": size.index.to_numpy(dtype=object),
                 "cnt": size.to_numpy(dtype="int64"),
                 "sum_val": g.sum(min_count=1).to_numpy(dtype="float64"),
                 "min_val": g.min().to_numpy(dtype="float64"),
                 "max_val": g.max().to_numpy(dtype="float64")}
            )

        partial = self._match_set_stage(
            terms, idfs, [facet_col, num_col], metrics, schema
        )
        return (
            partial.groupBy("facet_key")
            .agg(
                F.sum("cnt").alias("cnt"),
                F.sum("sum_val").alias("sum_val"),
                F.min("min_val").alias("min_val"),
                F.max("max_val").alias("max_val"),
            )
            .select(
                "facet_key", "cnt", "min_val", "max_val",
                F.round(F.col("sum_val") / F.col("cnt"), ROUND_DECIMALS)
                .alias("avg_val"),
            )
            .orderBy(F.desc("cnt"), F.asc("facet_key"))
            .limit(top_n)
        )

    def percentiles_agg(
        self, text: str, num_col: str, percentiles: list[float] | None = None
    ) -> DataFrame:
        """ES ``percentiles`` aggregation over the full match set —
        EXACT linear-interpolated quantiles, where ES ships a t-digest
        sketch. Exact quantiles are not mergeable from constant-size
        shard partials, so each shard emits its matched VALUES (an
        O(matches) single-column shuffle — the honest cost of
        exactness) and one Catalyst ``percentile`` aggregate reduces
        them; Spark and DuckDB both interpolate at rank p·(n−1), so the
        oracle twin (``quantile_cont``) is exact. For web-scale match
        sets where the value shuffle is too big, ``F.percentile_approx``
        over the same per-shard values is the drop-in t-digest twin
        (documented scale path; not gated — its estimate is not
        oracle-reproducible). Output: one (pct, value) row per requested
        percentile, pct ASC."""
        pcts = percentiles if percentiles is not None else [25.0, 50.0, 75.0, 95.0]
        if not pcts or any(p < 0 or p > 100 for p in pcts):
            raise ValueError("percentiles must be within [0, 100]")
        terms, idfs = self._match_terms(text)
        if not terms:
            return self.spark.createDataFrame([], "pct double, value double")
        vals = self._match_set_stage(
            terms, idfs, [num_col],
            lambda m: pd.DataFrame(
                {"val": m[num_col].astype("float64").to_numpy()}
            ),
            "val double",
        )
        qs = vals.agg(
            F.percentile(
                F.col("val"), F.array(*[F.lit(p / 100.0) for p in sorted(pcts)])
            ).alias("qs")
        ).select(
            F.posexplode("qs").alias("pos", "value")
        )
        pct_arr = F.array(*[F.lit(float(p)) for p in sorted(pcts)])
        return qs.select(
            F.element_at(pct_arr, F.col("pos") + 1).alias("pct"),
            F.round(F.col("value"), ROUND_DECIMALS).alias("value"),
        ).orderBy("pct")

    def composite_agg(
        self,
        text: str,
        facet_col: str,
        size: int = 10,
        after: str | None = None,
    ) -> DataFrame:
        """ES ``composite`` aggregation: paginate through ALL buckets of
        a terms source in key order, ``size`` buckets per page, resuming
        from ``after`` (the last key of the previous page) — the ES-side
        answer to "export every bucket" that terms-agg top-n cannot do.

        Scale shape: the after-key predicate is applied INSIDE the
        per-shard combine before partials are emitted (a predicate on
        the group key commutes with sum-by-key), so a deep page's
        shuffle carries only keys AFTER the cursor — O(shards ×
        remaining keys), and the page cut is a TakeOrderedAndProject,
        never a full sort. Same keyset-pagination contract as
        ``search_after`` (engine/wand.py search), applied to buckets.
        Exact counts (map-side per-shard combine), key ASC.
        """
        return self._composite(text, facet_col, size, after, local=False)

    def _composite(self, text, facet_col, size, after, local):
        """``composite_agg`` on either site: the per-shard partial —
        the after-key cut and per-key counts (``_key_counts``) of the
        facet column's text (``_key_text``, a null as 'None') — then the
        page. The driver site's one
        whole-index partial already holds each key once."""
        terms, idfs = self._match_terms(text)
        self._check_attrs(facet_col)
        if not terms:
            if local:
                return _empty(self._FACET_SCHEMA)
            return self.spark.createDataFrame([], self._FACET_SCHEMA)
        as_int = self._as_int(facet_col)
        partial = self._match_set_stage(
            terms, idfs, [facet_col],
            lambda m: _key_counts(_key_text(m[facet_col], as_int, "None"), after),
            self._FACET_SCHEMA, local=local,
        )
        if local:
            return partial.sort_values("facet_key").iloc[:size].reset_index(drop=True)
        return (
            partial.groupBy("facet_key")
            .agg(F.sum("cnt").alias("cnt"))
            .orderBy(F.asc("facet_key"))
            .limit(size)
        )

    def top_hits_agg(
        self, text: str, group_col: str, k_per_group: int = 3, n_groups: int = 5
    ) -> DataFrame:
        """ES ``top_hits`` sub-aggregation under a terms bucket: the top
        ``n_groups`` values of ``group_col`` (ranked by their best hit's
        score, value ASC tiebreak), each carrying its own top
        ``k_per_group`` hits. Generalizes ``collapse_search``
        (k_per_group=1).

        Each shard emits its per-key local top-j for EVERY key in its
        match set — collapse's top-k-keys pigeonhole does NOT extend to
        depth j ≥ 2 (a key's j-th-best hit can be locally dominated in
        its shard while the key still ranks top-n on a best hit living
        elsewhere), so the cap here is the key cardinality, exactly
        facet_counts' bound: shuffle O(shards × distinct keys × j),
        never O(matches). The global pass reads that stage ONCE: one
        groupBy(key) keeps each key's best score and its top-j hits
        (a sorted, sliced collect_list of at most shards × j rows), and
        orderBy().limit(n_groups) (TakeOrderedAndProject) picks the
        winning keys — no Window, no self-join and never a sort of all
        O(distinct keys in the match set) rows on a single task."""
        if group_col == "doc_id":
            raise ValueError("doc_id is not a group column")
        self._check_attrs(group_col)
        terms, idfs = self._match_terms(text)
        schema = "doc_id long, score double, group_key string"
        if not terms:
            return self.spark.createDataFrame([], schema)

        as_int = self._as_int(group_col)

        def top(m: pd.DataFrame) -> pd.DataFrame:
            m = m.assign(group_key=_key_text(m[group_col], as_int)).sort_values(
                ["score", "doc_id"], ascending=[False, True], kind="mergesort"
            )
            top = m.groupby("group_key", sort=False).head(k_per_group)
            return top[["doc_id", "score", "group_key"]]

        partial = self._match_set_stage(terms, idfs, [group_col], top, schema)
        # one pass over the stage: per key, its best score and its top-j
        # hits (struct order = -score ASC, doc_id ASC); the winning keys
        # are an orderBy().limit() (TakeOrderedAndProject), whose hits
        # explode back into rows
        hit = F.struct((-F.col("score")).alias("neg"), F.col("doc_id"))
        return (
            partial.groupBy("group_key")
            .agg(
                F.max("score").alias("_best"),
                F.slice(F.sort_array(F.collect_list(hit)), 1, k_per_group)
                .alias("_hits"),
            )
            .orderBy(F.desc("_best"), F.asc("group_key"))
            .limit(n_groups)
            .select("group_key", F.explode("_hits").alias("_h"))
            .select(
                F.col("_h.doc_id").alias("doc_id"),
                (-F.col("_h.neg")).alias("score"),
                "group_key",
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

    def match_doc_ids(self, text: str) -> DataFrame:
        """The query's FULL match set as a (doc_id) DataFrame — the
        shared head of set-valued aggregations. Per-shard decode of the
        query terms' postings only; no global ranking, no k cut."""
        terms, idfs = self._match_terms(text)
        if not terms:
            return self.spark.createDataFrame([], "doc_id long")
        return self._match_set_stage(
            terms, idfs, None, lambda m: m, _RESULT_SCHEMA
        ).select("doc_id")

    def significant_terms(
        self,
        text: str,
        source: DataFrame,
        top_n: int = 10,
        source_id_col: str = "doc_id",
        source_text_col: str = "content",
        min_doc_count: int = 1,
    ) -> DataFrame:
        """ES ``significant_terms`` aggregation: the terms most
        over-represented in the query's match set (foreground) relative
        to the whole index (background). Like ES, the stored source text
        of the matching docs, analyzed with the index's analyzer,
        supplies the foreground counts (``source`` is the corpus table,
        the engine's _source analog — the same contract as
        ``search_highlighted``); the background df comes
        from the index's term dictionary, never a corpus rescan.

        Score is the JLH heuristic ES defaults to, on exact counts:
        ``(fg_rate − bg_rate) · (fg_rate / bg_rate)`` with
        fg_rate = fg_df / |match set| and bg_rate = df / N, keeping only
        terms with fg_rate > bg_rate, rounded to ROUND_DECIMALS and
        ranked (score DESC, term ASC). EXACT, unlike ES (whose fg counts
        come from the top shard_size hits per shard) — the plan is one
        semi-join of the tokenized match set (array_distinct before the
        explode, so per-doc dedup is shuffle-free) against the match-id
        set, one groupBy(term), and one join to term_stats; every stage
        is O(match-set tokens + vocab), never O(corpus tokens).
        Returns (term, fg long, score double).
        """
        matched = self.match_doc_ids(text)
        n_fg = matched.agg(F.count(F.lit(1)).alias("n_fg"))
        fg = (
            source.join(
                matched.withColumnRenamed("doc_id", source_id_col),
                source_id_col,
                "left_semi",
            )
            .select(
                F.explode(
                    F.array_distinct(
                        self._analyzer.tokenize_expr(source_text_col)
                    )
                ).alias("term")
            )
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("fg"))
            .where(F.col("fg") >= min_doc_count)
        )
        n = float(self.meta.n_docs)
        scored = (
            fg.join(self.term_stats.select("term", "df"), "term")
            .crossJoin(F.broadcast(n_fg))
            .withColumn("fg_rate", F.col("fg") / F.col("n_fg"))
            .withColumn("bg_rate", F.col("df") / F.lit(n))
            .where(F.col("fg_rate") > F.col("bg_rate"))
            .withColumn(
                "score",
                F.round(
                    (F.col("fg_rate") - F.col("bg_rate"))
                    * (F.col("fg_rate") / F.col("bg_rate")),
                    ROUND_DECIMALS,
                ),
            )
        )
        return (
            scored.select("term", F.col("fg").cast("long").alias("fg"), "score")
            .orderBy(F.desc("score"), F.asc("term"))
            .limit(top_n)
        )

    def _match_terms(self, text: str) -> tuple[list[str], dict[str, float]]:
        """Analyzed query terms restricted to the dictionary + their idfs
        (shared head of every full-match-set aggregation)."""
        terms = sorted(set(self._analyze(text)))
        if not terms:
            raise ValueError("query analyzes to zero terms")
        idfs = self._idfs(terms)
        return [t for t in terms if t in idfs], idfs

    def _match_set_stage(
        self,
        terms: list[str],
        idfs: dict[str, float],
        cols: list[str] | None,
        reduce,
        schema: str,
        local: bool = False,
    ):
        """The full-match-set stage every aggregation shares: the seek of
        the query terms' postings (``_dispatch``), scored by the uncut
        OR sum (``_or_sums``: EVERY doc matching ≥1 of ``terms``, its
        rounded BM25 score, no top-k cut and no pruning) and joined to
        the attrs rows of the same shard
        (``cols`` only — the field never leaves its shard; a doc with no
        attrs row drops out). ``reduce(rows)`` sees one shard's matched
        (doc_id, score, *cols) rows and returns that shard's map-side
        partial in ``schema``; a shard with no matched row emits none.
        The shuffle is O(shards × partial rows) — O(matches) only for a
        per-match partial (percentiles). ``cols=None`` reads no attrs:
        ``reduce`` sees the kernel's (doc_id, score) rows. ``local``
        runs the stage once whole-index on the driver site and returns
        its pandas partial."""
        avgdl = self.meta.avgdl
        empty = _empty(schema)
        want = None if cols is None else [
            c for c in dict.fromkeys(cols) if c != "doc_id"
        ]

        def fn(bl: pd.DataFrame, at: pd.DataFrame | None = None,
               cache=None) -> pd.DataFrame:
            m = _topk(*_or_sums(bl, terms, idfs, _decoder(bl, cache, avgdl)))
            if at is not None:
                m = m.merge(at[["doc_id", *want]], on="doc_id")
            return reduce(m) if len(m) else empty

        est = self._df_sum(terms)
        partial = self._dispatch(
            [(self, _Seek(terms))], self._SEEK_COLS, fn, est,
            schema=schema, attrs_cols=want, local=local,
        )
        if local or not self._one_task(est):
            return partial
        return partial.coalesce(1)  # one task: spares the reduce an Exchange
