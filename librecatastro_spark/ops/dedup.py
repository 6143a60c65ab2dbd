"""Deduplication operators for training-data pipelines.

All hash functions are engine-portable by construction: the base token /
shingle hash is ``int(md5(s)[:8], 16)`` (md5 is identical in Spark and
DuckDB, and 8 hex chars < 2^32 keeps all permutation arithmetic inside
int64 in both engines), so every operator here has an exact SQL twin.

Operators:
  * exact duplicates        — hash-groupBy on the normalized fingerprint
  * n-gram (shingle) Jaccard — exact all-pairs via shingle-key self-join
  * MinHash signatures + LSH banding — the scale path: candidate
    generation is a bucket self-join on band keys (no all-pairs), verified
    with exact shingle Jaccard
  * SimHash — 16-bit expression variant (SQL twin) and a fast 64-bit
    Arrow-vectorized variant for production, with banded Hamming join
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..analyzer import Analyzer, duckdb_tokens_sql, tokenize_expr
from ..bm25 import ROUND_DECIMALS
from .text import fingerprint_expr, fingerprint_sql

# ---------------------------------------------------------------- exact --

def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(fingerprint, n_docs, keep_id): one row per distinct normalized
    content; keep_id = min doc_id (last-write-wins analog of the
    reference's upsert-by-id, reference:
    src/librecatastro/domain/cadaster_entry/cadaster_entry.py:53)."""
    return (
        docs.select(F.col(id_col).alias("doc_id"), fingerprint_expr(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
    )


def exact_duplicates_sql(id_col: str = "doc_id", text_col: str = "text") -> str:
    return f"""
SELECT {fingerprint_sql(text_col)} AS fingerprint,
       count(*)::BIGINT AS n_docs, min({id_col}) AS keep_id
FROM documents GROUP BY 1
"""


# -------------------------------------------------------------- shingles --

def shingles_expr(text_col: str | Column, n: int = 3) -> Column:
    """Array of n-token shingles ('a b c' strings); empty if < n tokens.

    Built with ``zip_with`` over n-1 shifted slices so every array is
    evaluated ONCE per row. The obvious alternative —
    ``transform(sequence(...), i -> concat_ws(slice(toks, i, n)))`` —
    captures ``toks`` as a free expression inside the lambda, and
    Catalyst re-evaluates free subexpressions per ELEMENT, re-tokenizing
    the whole document once per shingle: O(tokens²) per doc (measured
    160 s for one 5 k-doc signature pass at sf0.1; this form is ~1 s).
    ``zip_with`` pads the shorter side with null and ``concat`` is
    null-propagating, so trailing partial shingles drop in the filter.
    """
    toks = tokenize_expr(text_col)
    acc = toks
    for k in range(1, n):
        nxt = F.slice(toks, k + 1, F.greatest(F.size(toks) - k, F.lit(0)))
        acc = F.zip_with(acc, nxt, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.coalesce(
        F.filter(acc, lambda x: x.isNotNull()), F.array().cast("array<string>")
    )


def shingles_sql(col: str, n: int = 3) -> str:
    toks = duckdb_tokens_sql(col)
    parts = " || ' ' || ".join(f"toks[i + {j}]" for j in range(n))
    return (
        f"(SELECT coalesce([{parts} for i in range(1, greatest(len(toks) - {n - 2}, 1))], []) "
        f"FROM (SELECT {toks} AS toks))"
    )


def jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.4,
) -> DataFrame:
    """Exact shingle-set Jaccard over all pairs sharing ≥1 shingle.

    Scale note: the self-join key is the shingle, so cost is
    Σ_shingle df² — fine for verification corpora; at 100 TB use
    minhash_lsh_pairs (candidates only) instead.
    """
    sh = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(shingles_expr(text_col, n)).alias("sh"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), ROUND_DECIMALS),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def jaccard_pairs_sql(id_col="doc_id", text_col="text", n=3, threshold=0.4) -> str:
    return f"""
WITH sh AS (
  SELECT DISTINCT {id_col} AS doc_id, unnest({shingles_sql(text_col, n)}) AS sh
  FROM documents
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(i::DOUBLE / (sa.sz + sb.sz - i), {ROUND_DECIMALS}) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(i::DOUBLE / (sa.sz + sb.sz - i), {ROUND_DECIMALS}) >= {threshold}
"""


# --------------------------------------------------------------- minhash --

_MH_PRIME = 4294967311  # smallest prime > 2^32


def _mh_params(n_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) permutation params, a odd, < 2^31."""
    out = []
    x = seed
    for _ in range(n_hashes):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x % ((1 << 31) - 1)) | 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = x % _MH_PRIME
        out.append((a, b))
    return out


def _base_hash_expr(s: Column) -> Column:
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def minhash_signature(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(doc_id, mh0..mh{n-1}): min over shingles of (a·h + b) mod p.
    Pure Catalyst, no shuffle, ONE pass over the shingle array:
    md5 runs once per shingle (``transform``), then a single
    ``aggregate`` folds all n permutation-mins simultaneously into an
    array<long> accumulator (``zip_with(acc, perms(h), least)``).
    The previous form — one ``array_min(transform(...))`` column per
    hash — re-inlined the full tokenize→shingle→md5 pipeline 16× per
    row (Catalyst shares nothing across projection columns), which at
    sf0.1 cost 160 s/pass; this is ~1 s, same values bit-for-bit.
    The result array is materialized behind an ``explode(array(...))``
    barrier so the 16 mh columns are plain attribute indexings that
    CollapseProject cannot re-inline into 16 recomputations."""
    params = _mh_params(n_hashes)
    hs = F.transform(shingles_expr(text_col, shingle_n), _base_hash_expr)
    init = F.array(*[F.lit(_MH_PRIME).cast("long") for _ in params])

    def fold(acc: Column, h: Column) -> Column:
        perms = F.array(
            *[(F.lit(a) * h + F.lit(b)) % F.lit(_MH_PRIME) for a, b in params]
        )
        return F.zip_with(acc, perms, lambda x, y: F.least(x, y))

    mins = F.aggregate(hs, init, fold)
    sig = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(F.array(mins)).alias("mhs")
    )
    return sig.select(
        "doc_id", *[F.col("mhs")[i].alias(f"mh{i}") for i in range(n_hashes)]
    )


def minhash_cols_sql(n_hashes: int) -> list[str]:
    """DuckDB exprs ``mh0..mh{n-1}`` over a shingle-list column ``sh`` —
    the exact twin of ``minhash_signature``'s fold (same permutation
    params, same empty-set sentinel)."""
    base = "(('0x' || substr(md5(s), 1, 8))::BIGINT)"
    return [
        f"coalesce(list_min(list_transform(sh, s -> ({a} * {base} + {b}) % {_MH_PRIME})), {_MH_PRIME}) AS mh{i}"
        for i, (a, b) in enumerate(_mh_params(n_hashes))
    ]


def minhash_signature_sql(id_col="doc_id", text_col="text", n_hashes=16, shingle_n=3) -> str:
    sh = shingles_sql(text_col, shingle_n)
    cols = ["doc_id"] + minhash_cols_sql(n_hashes)
    return (
        f"WITH shg AS (SELECT {id_col} AS doc_id, {sh} AS sh FROM documents)\n"
        "SELECT " + ", ".join(cols) + " FROM shg"
    )


def minhash_lsh_pairs_sql(
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.4,
) -> str:
    """DuckDB twin of ``minhash_lsh_pairs`` — same minhash fold
    (minhash_cols_sql), same md5-of-comma-joined band keys, same
    exact-Jaccard verify over the banded candidates — so the oracle's
    candidate set is the SAME deterministic function of content as the
    engine's (corpus-independent, the frozen-twin pattern)."""
    rows = n_hashes // bands
    sig_cols = ", ".join(["doc_id"] + minhash_cols_sql(n_hashes))
    band_selects = "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({k}) AS key FROM sig".format(
            b=bi,
            k=" || ',' || ".join(
                f"mh{bi * rows + r}::VARCHAR" for r in range(rows)
            ),
        )
        for bi in range(bands)
    )
    return f"""
WITH shg AS (
  SELECT {id_col} AS doc_id, {shingles_sql(text_col, shingle_n)} AS sh
  FROM documents
),
sig AS (SELECT {sig_cols} FROM shg),
bands AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
sh AS (SELECT DISTINCT doc_id, unnest(sh) AS sh FROM shg),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(i::DOUBLE / (sa.sz + sb.sz - i), {ROUND_DECIMALS}) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(i::DOUBLE / (sa.sz + sb.sz - i), {ROUND_DECIMALS}) >= {threshold}
"""


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.4,
) -> DataFrame:
    """Scale-path near-dup: LSH band bucketing → candidate pairs →
    exact-Jaccard verification. Output ⊆ jaccard_pairs (recall governed by
    bands/rows; tested on planted near-dups)."""
    rows = n_hashes // bands
    sig = minhash_signature(docs, id_col, text_col, n_hashes, shingle_n)
    band_cols = [
        F.struct(
            F.lit(bi).alias("band"),
            F.md5(F.concat_ws(",", *[F.col(f"mh{bi * rows + r}") for r in range(rows)])).alias("key"),
        )
        for bi in range(bands)
    ]
    bucketed = sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # verify candidates with exact shingle jaccard (semi-joined, not all-pairs)
    sh = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(shingles_expr(text_col, shingle_n)).alias("sh"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    sha = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh"))
    shb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh"))
    inter = (
        cand.join(sha, "doc_a").join(shb, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), ROUND_DECIMALS),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# --------------------------------------------------------------- simhash --

def simhash16_expr(text_col: str | Column, n_bits: int = 16) -> Column:
    """Expression-only 16-bit SimHash (per-token md5-derived bits, ±1 vote
    per occurrence) — SQL-twinned for the oracle.

    Single pass: md5 once per token (``transform``), then one
    ``aggregate`` folds all n_bits vote counters at once into an
    array<int> accumulator (the naive one-aggregate-per-bit form
    tokenizes and hashes the document n_bits times)."""
    hs = F.transform(tokenize_expr(text_col), _base_hash_expr)
    init = F.array(*[F.lit(0) for _ in range(n_bits)])

    def fold(acc: Column, h: Column) -> Column:
        votes = F.array(
            *[
                F.when(F.shiftright(h, i) % 2 == 1, F.lit(1)).otherwise(F.lit(-1))
                for i in range(n_bits)
            ]
        )
        return F.zip_with(acc, votes, lambda x, y: x + y)

    votes = F.aggregate(hs, init, fold)
    powers = F.array(*[F.lit(1 << i) for i in range(n_bits)])
    total = F.aggregate(
        F.zip_with(votes, powers, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0))),
        F.lit(0),
        lambda s, x: s + x,
    )
    # null text: the old per-bit form yielded 0 (null vote fails v > 0);
    # keep that contract rather than propagating null.
    return F.coalesce(total, F.lit(0)).cast("long")


def simhash16_sql(col: str, n_bits: int = 16) -> str:
    toks = duckdb_tokens_sql(col)
    base = "(('0x' || substr(md5(x), 1, 8))::BIGINT)"
    parts = []
    for i in range(n_bits):
        vote = (
            f"list_sum(list_transform({toks}, x -> "
            f"CASE WHEN ({base} >> {i}) % 2 = 1 THEN 1 ELSE -1 END))"
        )
        parts.append(f"(CASE WHEN {vote} > 0 THEN {1 << i} ELSE 0 END)")
    return "(" + " + ".join(parts) + ")::BIGINT"


@F.pandas_udf(LongType())
def simhash64_udf(texts: pd.Series) -> pd.Series:
    """Production 64-bit SimHash — fully columnar: tokenize with the
    default analyzer's Arrow rendering (``Analyzer.tokenize_arrow``, the
    index builder's chain), so token interning happens in Arrow C++,
    md5 runs once per UNIQUE token (vocabulary-sized, typically ~50×
    smaller than the token stream), and the 64 bit-votes accumulate with
    one vectorized scatter-add (``np.add.at``) over (doc, bit). No
    per-row or per-token Python loop remains (the r2 waiver is gone)."""
    import pyarrow as pa

    n = len(texts)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return pd.Series(out)
    flat, parent = Analyzer().tokenize_arrow(
        pa.Array.from_pandas(texts.astype("object"), type=pa.string())
    )
    if len(flat) == 0:
        return pd.Series(out)
    dv = flat.dictionary_encode()
    codes = dv.indices.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    uniq = dv.dictionary.to_pylist()
    par = parent.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    hv = np.fromiter(
        (int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big") for t in uniq),
        dtype=np.uint64,
        count=len(uniq),
    )
    bits = ((hv[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(
        np.int32
    )
    votes_pm = bits * 2 - 1  # ±1 per bit per vocab entry
    acc = np.zeros((n, 64), dtype=np.int32)
    np.add.at(acc, par, votes_pm[codes])
    out = ((acc > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum(
        axis=1
    ).astype(np.int64)
    return pd.Series(out)


def simhash_band_keys(sh_col: str | Column, bands: int) -> Column:
    """Array of (band, key) structs splitting a signed 64-bit simhash
    into ``bands`` contiguous bit chunks. Chunk extraction must be
    bitwiseAND, not ``%``: band 0's operand is the UNSHIFTED signed
    long, and Spark's % keeps the dividend's sign — two docs agreeing
    on the low bits but differing in bit 63 would get different band-0
    keys (L vs -(2^width − L)), so a pair whose ONLY agreeing band is
    band 0 was silently missed, breaking simhash_near_pairs' pigeonhole
    exact-recall guarantee (observed at sf0.1: a hamming-7 pair at
    bands=8 whose 7 diffs included bit 63)."""
    width = 64 // bands
    mask = (1 << width) - 1
    return F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.shiftrightunsigned(sh_col, bi * width)
                .bitwiseAND(F.lit(mask))
                .alias("key"),
            )
            for bi in range(bands)
        ]
    )


def simhash_combo_keys(sh_col: str | Column, blocks: int, combo: int) -> Column:
    """Block-combination keys (Manku/Jain/Sarma, WWW'07 §3): split the
    64-bit simhash into ``blocks`` contiguous chunks, emit one (band,
    key) struct per ``combo``-sized combination of chunks, key = the
    chosen chunks' bits packed together. A pair within hamming h has
    ≥ blocks−h clean chunks, so when combo ≤ blocks−h SOME combo-subset
    is all-clean and the pair collides in that subset's table — exact
    recall, with keys combo× wider than single-chunk banding. Wider keys
    are the scale lever: single 8-bit chunks give 256 buckets/table
    (n²-ish candidates at corpus scale); combo=5 of 8 gives 40-bit keys
    (~10^12 buckets) at C(8,5)=56 tables — 7× the bucketing rows, but
    candidate volume collapses from quadratic to ~exact-match only."""
    from itertools import combinations

    width = 64 // blocks
    mask = (1 << width) - 1
    chunk = [
        F.shiftrightunsigned(sh_col, bi * width).bitwiseAND(F.lit(mask))
        for bi in range(blocks)
    ]
    out = []
    for band_id, subset in enumerate(combinations(range(blocks), combo)):
        key = chunk[subset[0]]
        for j, bi in enumerate(subset[1:], start=1):
            key = key.bitwiseOR(F.shiftleft(chunk[bi], j * width))
        out.append(
            F.struct(F.lit(band_id).alias("band"), key.alias("key"))
        )
    return F.array(*out)


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
    combo: int = 1,
) -> DataFrame:
    """Banded Hamming join on 64-bit SimHash: split into `bands` chunks;
    pairs within ≤ max_hamming differ in < bands chunks, so they collide
    on ≥1 exact chunk (pigeonhole, exact recall for max_hamming < bands).
    ``combo > 1`` switches to block-combination keys (simhash_combo_keys)
    — same exact-recall guarantee for max_hamming ≤ bands − combo, with
    combo× wider keys; the production configuration for h ≤ 3 is
    bands=8, combo=5 (40-bit keys, 56 tables). combo=1 keeps the
    single-chunk layout (the gated h=7 shape, where pigeonhole already
    forces 1-chunk keys: 8-bit buckets are the price of h=7 recall —
    use it for small batches, not corpus-scale sweeps)."""
    if max_hamming > bands - combo:
        raise ValueError(
            f"exact recall needs max_hamming <= bands - combo "
            f"({max_hamming} > {bands} - {combo})"
        )
    sh = docs.select(F.col(id_col).alias("doc_id"), simhash64_udf(F.col(text_col)).alias("sh"))
    chunks = (
        simhash_combo_keys("sh", bands, combo)
        if combo > 1
        else simhash_band_keys("sh", bands)
    )
    bucketed = sh.select("doc_id", "sh", F.explode(chunks).alias("c")).select(
        "doc_id", "sh", F.col("c.band").alias("band"), F.col("c.key").alias("key")
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def _simhash_sig_cte_sql(id_col: str, text_col: str) -> str:
    """WITH-fragment computing ``sig(doc_id, sig)`` — the DuckDB twin of
    ``simhash64_udf`` (md5-derived per-token bits, ±1 vote per
    occurrence, bit set iff vote > 0, empty doc → 0)."""
    toks = duckdb_tokens_sql(text_col)
    bit_terms = " + ".join(
        f"(CASE WHEN SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) > 0"
        f" THEN {1 << i}::UBIGINT ELSE 0::UBIGINT END)"
        for i in range(64)
    )
    return f"""th AS (
  SELECT {id_col} AS doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h
  FROM (SELECT {id_col}, unnest({toks}) AS tok FROM documents)
),
sig0 AS (SELECT doc_id, ({bit_terms}) AS sig FROM th GROUP BY doc_id),
sig AS (
  SELECT d.{id_col} AS doc_id, COALESCE(s.sig, 0::UBIGINT) AS sig
  FROM documents d LEFT JOIN sig0 s ON s.doc_id = d.{id_col}
)"""


def simhash_near_pairs_sql(
    max_hamming: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB twin of simhash_near_pairs. Because hamming ≤ max_hamming <
    bands gives the banded join EXACT recall (pigeonhole), the oracle is
    the brute-force all-pairs Hamming join over the same 64-bit SimHash."""
    return f"""
WITH {_simhash_sig_cte_sql(id_col, text_col)}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.sig, b.sig))::INT AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= {max_hamming}
"""


def simhash_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 8,
    combo: int = 5,
) -> DataFrame:
    """Corpus-scale SimHash dedup: (doc_id) of every SURVIVING document.

    The pair-listing operator (simhash_near_pairs) is the wrong API at
    corpus scale on template-heavy text: identical-signature cliques make
    the OUTPUT quadratic (measured on the 60k synthetic code corpus:
    20,045 distinct sigs over 60k docs, top clique 865 docs; 42/64
    simhash bits <5% variance because zipfian-hot tokens dominate the
    vote). Dedup needs a drop-list, not pairs, so:

    1. signature per doc (simhash64_udf);
    2. identical-sig collapse — keep min doc_id per sig (a groupBy, no
       join: the h=0 cliques never hit the pair join);
    3. block-combination banded join over DISTINCT sigs only
       (simhash_combo_keys; exact recall for max_hamming ≤ bands−combo);
    4. greedy drop: every non-representative, plus the higher rep of
       each qualifying rep pair (same drop-doc_b convention as the
       curation pipeline).

    Measured candidate volume on the 60k corpus: 6.1e9 (single-chunk
    bands over raw docs) → 1.6e7 (combo keys over distinct sigs), max
    bucket 56,000 → 556. The oracle twin can stay brute-force-over-reps
    because step 3's recall is EXACT — corpus-independent gate."""
    if max_hamming > bands - combo:
        raise ValueError(
            f"exact recall needs max_hamming <= bands - combo "
            f"({max_hamming} > {bands} - {combo})"
        )
    sh = docs.select(
        F.col(id_col).alias("doc_id"), simhash64_udf(F.col(text_col)).alias("sh")
    )
    reps = sh.groupBy("sh").agg(F.min("doc_id").alias("rep"))
    bucketed = reps.select(
        "rep", "sh", F.explode(simhash_combo_keys("sh", bands, combo)).alias("c")
    ).select("rep", "sh", F.col("c.band").alias("band"), F.col("c.key").alias("key"))
    a, b = bucketed.alias("a"), bucketed.alias("b")
    drop_reps = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.rep") < F.col("b.rep")),
        )
        .where(
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))) <= max_hamming
        )
        .select(F.col("b.rep").alias("rep"))
        .distinct()
    )
    return (
        reps.join(drop_reps, "rep", "left_anti")
        .select(F.col("rep").alias("doc_id"))
    )


def simhash_dedup_sql(
    max_hamming: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB twin of simhash_dedup — same sig, same min-doc_id-per-sig
    collapse, brute-force rep pairs (exact recall makes it equivalent to
    the combo join), same greedy drop-higher rule."""
    return f"""
WITH {_simhash_sig_cte_sql(id_col, text_col)},
reps AS (SELECT sig, min(doc_id) AS rep FROM sig GROUP BY 1),
drop_reps AS (
  SELECT DISTINCT b.rep
  FROM reps a JOIN reps b ON a.rep < b.rep
  WHERE bit_count(xor(a.sig, b.sig)) <= {max_hamming}
)
SELECT rep AS doc_id FROM reps
WHERE rep NOT IN (SELECT rep FROM drop_reps)
"""


# --------------------------------------------------------------------- #
# Paragraph-level exact dedup (CCNet / Dolma / RefinedWeb line dedup)
# --------------------------------------------------------------------- #


def dedup_paragraphs(
    docs: DataFrame,
    para_tokens: int = 3,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet/Dolma-style duplicated-paragraph removal, the curation pass
    that strips boilerplate (license headers, nav bars, repeated footers)
    before pretraining. Returns one row per input doc:
    ``(doc_id, n_paras, n_removed, clean_text)``.

    The synthetic corpus is single-line, so "paragraph" is DEFINED here
    (frozen, twinned verbatim in ``dedup_paragraphs_sql``) as each
    consecutive run of ``para_tokens`` analyzed tokens (the last run may
    be shorter) — the same deterministic re-paragraphization trick
    redact_pii uses for its PII-salted gate. A paragraph is removed when
    its exact text occurs in >= ``min_df`` DISTINCT documents; surviving
    paragraphs are re-joined with single spaces in original order
    (analyzed form, like ops/chunk.py — the output feeds tokenizers, not
    renderers). Zero-token docs keep a row with clean_text = ''.

    Scale shape (the reason this beats a naive join): paragraph df counts
    are one map-side-combinable groupBy; the duplicate SET (paras with
    df >= min_df — a tiny fraction of distinct paragraphs in a real
    corpus) is then BROADCAST back, so the removal pass is a
    broadcast-hash semi-probe over the exploded paragraphs, and the
    rebuild is one doc-keyed shuffle. No corpus-sized equi-join, nothing
    driver-side. Reference analog: the A16 dedup gate
    (src/utils/elasticsearch_utils.py:100-136) at paragraph granularity.
    """
    W = int(para_tokens)
    if W < 1:
        raise ValueError("para_tokens must be >= 1")
    base = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"))
    toks = base.select(
        "doc_id", F.explode(F.array(tokenize_expr("_t"))).alias("_toks")
    )
    n = F.size("_toks")
    paras = (
        toks.where(n > 0)
        .select(
            "doc_id",
            "_toks",
            F.explode(
                F.sequence(F.lit(0), ((n - F.lit(1)) / F.lit(W)).cast("int"))
            ).alias("pidx"),
        )
        .select(
            "doc_id",
            "pidx",
            F.array_join(
                F.slice(F.col("_toks"), F.col("pidx") * W + 1, W), " "
            ).alias("para"),
        )
    )
    dup_set = (
        paras.groupBy("para")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") >= min_df)
        .select("para")
    )
    marked = paras.join(
        F.broadcast(dup_set.withColumn("_dup", F.lit(1))), "para", "left"
    )
    rebuilt = marked.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_paras"),
        F.sum(F.coalesce(F.col("_dup"), F.lit(0))).cast("long").alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_dup").isNull(), F.struct("pidx", "para"))
                    )
                ),
                lambda s: s["para"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        base.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_paras", F.lit(0)).cast("long").alias("n_paras"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def dedup_paragraphs_sql(
    para_tokens: int = 3,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of dedup_paragraphs over the ``documents`` view."""
    W = int(para_tokens)
    toks = duckdb_tokens_sql(text_col)
    return f"""
WITH ct AS (SELECT {id_col} AS doc_id, {toks} AS toks FROM documents),
cn AS (SELECT doc_id, toks, len(toks) AS n FROM ct WHERE len(toks) > 0),
px AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, (n - 1) // {W})) AS pidx
  FROM cn
),
para AS (
  SELECT doc_id, pidx,
         array_to_string(toks[pidx * {W} + 1 : pidx * {W} + {W}], ' ') AS para
  FROM px
),
dup AS (
  SELECT para FROM para GROUP BY para
  HAVING count(DISTINCT doc_id) >= {min_df}
),
marked AS (
  SELECT p.doc_id, p.pidx, p.para,
         CASE WHEN d.para IS NOT NULL THEN 1 ELSE 0 END AS is_dup
  FROM para p LEFT JOIN dup d USING (para)
),
rebuilt AS (
  SELECT doc_id,
         count(*)::BIGINT AS n_paras,
         sum(is_dup)::BIGINT AS n_removed,
         coalesce(string_agg(CASE WHEN is_dup = 0 THEN para END, ' ' ORDER BY pidx), '') AS clean_text
  FROM marked GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(r.n_paras, 0)::BIGINT AS n_paras,
       coalesce(r.n_removed, 0)::BIGINT AS n_removed,
       coalesce(r.clean_text, '') AS clean_text
FROM (SELECT {id_col} AS doc_id FROM documents) d
LEFT JOIN rebuilt r USING (doc_id)
"""
