"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship BM25 top-k over sf0.001 documents.
queries()     — one entry per implemented operator (SURVEY.md §2).
oracle_sql()  — DuckDB twins; the analyzer + BM25 math are frozen in
librecatastro_spark.{analyzer,bm25} and the SQL is generated from the same
constants, so Spark and DuckDB compute identical (rounded) values.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from librecatastro_spark.analyzer import (
    analyze_text,
    duckdb_phrase_prefix_sql,
    duckdb_phrase_sql,
    duckdb_tokens_sql,
    tokenize_expr,
)
from librecatastro_spark.bm25 import ROUND_DECIMALS, bm25_sql
from librecatastro_spark.engine import ExactBM25
from librecatastro_spark.ops.chunk import duckdb_chunks_sql, pack_sequences_sql
from librecatastro_spark.ops.dedup import dedup_paragraphs_sql
from librecatastro_spark.ops.sampling import stratified_sample_sql
from librecatastro_spark.ops.decontaminate import decontaminate_sql
from librecatastro_spark.ops.events import date_histogram_sql
from librecatastro_spark.ops.pii import redact_pii_sql
from librecatastro_spark.ops.text import repetition_signals_sql, unigram_logprob_sql
from librecatastro_spark.engine.wand import CompressedIndex
from librecatastro_spark.index.builder import build_index


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _index(spark: SparkSession, sf_dir: str) -> CompressedIndex:
    """Build (once, resumable no-op afterwards) and open the compressed
    index for sf_dir. Keyed by source mtime so stale indexes rebuild."""
    import hashlib

    src = f"{sf_dir}/documents.parquet"
    mtime = int(os.path.getmtime(src)) if os.path.exists(src) else 0
    key = hashlib.sha256(f"{sf_dir}:{mtime}:v5".encode()).hexdigest()[:16]
    out = os.path.join("/tmp", f"lc_index_{key}")
    docs = _docs(spark, sf_dir).withColumn(
        "content_sha256", F.sha2(F.col("text"), 256)
    )
    build_index(
        spark, docs, out, id_col="doc_id", text_col="text",
        attr_cols=("lang", "source", "n_chars", "content_sha256"), n_shards=8,
        block_size=128, salt_threshold=5_000, n_salts=8, resume=True,
    )
    return CompressedIndex(spark, out)


def _engine(spark: SparkSession, sf_dir: str) -> ExactBM25:
    return ExactBM25(
        _docs(spark, sf_dir), id_col="doc_id", text_col="text",
        attr_cols=("lang", "source"),
    )


# --------------------------------------------------------------------- #
# DuckDB oracle-SQL generator (same analyzer spec + BM25 constants)
# --------------------------------------------------------------------- #

_TOKS_CTE = f"""
toks AS (
  SELECT doc_id, unnest({duckdb_tokens_sql('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
g  AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dl)
"""


def _sql_terms(text: str) -> str:
    terms = sorted(set(analyze_text(text)))
    return ", ".join(f"'{t}'" for t in terms)


def _dup_clusters_oracle() -> str:
    """DuckDB twin of dup_clusters: the same simhash near-dup pairs as
    the engine's graph, components via min-over-transitive-closure
    (recursive CTE) — definitionally the same fixpoint the iterative
    min-label propagation converges to."""
    from librecatastro_spark.ops.cluster import duckdb_components_sql
    from librecatastro_spark.ops.dedup import _simhash_sig_cte_sql

    pairs_cte = f"""{_simhash_sig_cte_sql('doc_id', 'text')},
pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.sig, b.sig)) <= 7
)"""
    return duckdb_components_sql(pairs_cte)


def _collapse_oracle(text: str, collapse_col: str, k: int = 10) -> str:
    """DuckDB twin of collapse_search: best doc per distinct key (score
    DESC, doc_id ASC within key), keys ranked by their best."""
    terms = _sql_terms(text)
    w = bm25_sql("tf.tf", "dfq.df", "dl.dl", "g.n", "g.avgdl")
    return f"""
WITH {_TOKS_CTE},
dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf WHERE term IN ({terms}) GROUP BY 1),
scored AS (
  SELECT tf.doc_id, round(sum({w}), {ROUND_DECIMALS}) AS score
  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN g
  WHERE tf.term IN ({terms})
  GROUP BY tf.doc_id
),
keyed AS (
  SELECT s.doc_id, s.score, d.{collapse_col} AS collapse_key,
         row_number() OVER (
           PARTITION BY d.{collapse_col}
           ORDER BY s.score DESC, s.doc_id ASC
         ) AS rn
  FROM scored s JOIN documents d USING (doc_id)
)
SELECT doc_id, score, collapse_key FROM keyed
WHERE rn = 1
ORDER BY score DESC, doc_id ASC
LIMIT {k}"""


def _multi_match_oracle(text: str, fields: list[str], tie_breaker: float,
                        k: int = 10, cross_fields: bool = False) -> str:
    """DuckDB twin of MultiFieldIndex.multi_match (best_fields +
    tie_breaker): one raw BM25 score CTE per analyzed field (each with
    its OWN df/dl/avgdl statistics, like the per-field sub-indexes),
    full outer join on doc_id with absent fields as 0 (BM25 > 0),
    combined = round(best + tb * (sum - best)), rounded once. With
    ``cross_fields`` the combine
    is term-centric instead (multi_match_cross_fields): per-(doc, term,
    field) rounded weights, max per (doc, term) across fields, sum per
    doc."""
    terms = _sql_terms(text)
    ctes, score_names = [], []
    for i, f in enumerate(fields):
        toks = duckdb_tokens_sql(f)
        w = bm25_sql(f"tf{i}.tf", f"df{i}.df", f"dl{i}.dl", f"g{i}.n", f"g{i}.avgdl")
        agg = (
            f"sum({w}) AS s"
            if not cross_fields
            else f"tf{i}.term, round({w}, {ROUND_DECIMALS}) AS w"
        )
        group = f"GROUP BY tf{i}.doc_id" if not cross_fields else ""
        ctes.append(f"""
t{i} AS (SELECT doc_id, unnest({toks}) AS term FROM documents),
tf{i} AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM t{i} GROUP BY 1, 2),
dl{i} AS (SELECT doc_id, sum(tf) AS dl FROM tf{i} GROUP BY 1),
g{i} AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dl{i}),
df{i} AS (SELECT term, count(*)::DOUBLE AS df FROM tf{i} WHERE term IN ({terms}) GROUP BY 1),
s{i} AS (
  SELECT tf{i}.doc_id, {agg}
  FROM tf{i} JOIN df{i} USING (term) JOIN dl{i} USING (doc_id) CROSS JOIN g{i}
  WHERE tf{i}.term IN ({terms})
  {group}
)""")
        score_names.append(f"s{i}")
    if cross_fields:
        union = " UNION ALL ".join(f"SELECT * FROM {s}" for s in score_names)
        return f"""
WITH {','.join(ctes)},
allw AS ({union}),
mx AS (SELECT doc_id, term, max(w) AS w FROM allw GROUP BY 1, 2)
SELECT doc_id, round(sum(w), {ROUND_DECIMALS}) AS score
FROM mx GROUP BY doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}"""
    join = score_names[0]
    for s in score_names[1:]:
        join += f" FULL OUTER JOIN {s} USING (doc_id)"
    vals = [f"coalesce({s}.s, 0)" for s in score_names]
    best = f"greatest({', '.join(vals)})" if len(vals) > 1 else vals[0]
    tot = " + ".join(vals)
    return f"""
WITH {','.join(ctes)}
SELECT doc_id,
       round({best} + {tie_breaker} * (({tot}) - {best}), {ROUND_DECIMALS}) AS score
FROM {join}
ORDER BY score DESC, doc_id ASC
LIMIT {k}"""


def _bm25_oracle(
    text: str,
    k: int = 10,
    require_all: bool = False,
    filters: dict[str, str] | None = None,
    prefix: tuple[str, str] | None = None,
    must_not_text: str | None = None,
    should_text: str | None = None,
    offset: int = 0,
    phrase: bool = False,
    search_after: bool = False,
    ranges: dict[str, tuple] | None = None,
    min_match: int | None = None,
    phrase_slop: int = 0,
    phrase_prefix: str | None = None,
    exists_cols: list[str] | None = None,
    ids: list[int] | None = None,
    raw_doc_cond: str | None = None,
) -> str:
    terms = sorted(set(analyze_text(text)))
    should_terms = [
        t for t in sorted(set(analyze_text(should_text or ""))) if t not in terms
    ]
    must_list = _sql_terms(text)
    all_list = ", ".join(f"'{t}'" for t in terms + should_terms)
    w = bm25_sql("tf.tf", "dfq.df", "dl.dl", "g.n", "g.avgdl")
    conds = []
    if require_all:
        conds.append(f"n_matched = {len(terms)}")
    elif min_match:
        conds.append(f"n_matched >= {min_match}")
    elif should_terms:
        conds.append("n_matched >= 1")
    doc_conds = []
    for col, val in (filters or {}).items():
        if isinstance(val, (list, tuple, set)):
            vals = ", ".join(f"'{v}'" for v in sorted(val))
            doc_conds.append(f"{col} IN ({vals})")
        else:
            doc_conds.append(f"{col} = '{val}'")
    if prefix is not None:
        doc_conds.append(f"{prefix[0]} LIKE '{prefix[1]}%'")
    for col, (lo, hi) in (ranges or {}).items():
        if lo is not None:
            doc_conds.append(f"{col} >= {lo!r}")
        if hi is not None:
            doc_conds.append(f"{col} <= {hi!r}")
    for col in exists_cols or []:
        doc_conds.append(f"{col} IS NOT NULL")
    if ids is not None:
        doc_conds.append(
            "doc_id IN (" + ", ".join(str(int(i)) for i in ids) + ")"
        )
    if doc_conds:
        conds.append(
            "doc_id IN (SELECT doc_id FROM documents WHERE " + " AND ".join(doc_conds) + ")"
        )
    if raw_doc_cond:
        # caller-supplied membership SQL (e.g. the geo_polygon diamond's
        # half-plane form over doc_id-derived lon/lat)
        conds.append(raw_doc_cond)
    if must_not_text:
        conds.append(
            "doc_id NOT IN (SELECT DISTINCT doc_id FROM toks WHERE term IN ("
            + _sql_terms(must_not_text) + "))"
        )
    if phrase:
        # contiguous-sequence predicate over the same analyzed tokens
        # (duckdb_phrase_sql == analyzer.phrase_expr); order + duplicates
        # of the ORIGINAL query sequence matter here, unlike the term set
        conds.append(
            "doc_id IN (SELECT doc_id FROM documents WHERE "
            + duckdb_phrase_sql("text", analyze_text(text), phrase_slop) + ")"
        )
    if phrase_prefix is not None:
        # type-ahead phrase: the scored text's ORDERED sequence adjacent,
        # then a token starting with the prefix (RE2 == Java == sre)
        conds.append(
            "doc_id IN (SELECT doc_id FROM documents WHERE "
            + duckdb_phrase_prefix_sql("text", analyze_text(text), phrase_prefix)
            + ")"
        )
    where = ("WHERE " + " AND ".join(conds)) if conds else ""
    off = f" OFFSET {offset}" if offset else ""
    if search_after:
        # ES search_after twin: cursor = last hit of page 1 (row k of the
        # ranking), page 2 = rows strictly after it under the rounded
        # (score DESC, doc_id ASC) total order — must equal the offset
        # walk's page 2 exactly
        return f"""
WITH {_TOKS_CTE},
dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf WHERE term IN ({all_list}) GROUP BY 1),
scored AS (
  SELECT tf.doc_id, sum({w}) AS raw,
         count(*) FILTER (WHERE tf.term IN ({must_list})) AS n_matched
  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN g
  WHERE tf.term IN ({all_list})
  GROUP BY tf.doc_id
),
ranked AS (
  SELECT doc_id, round(raw, {ROUND_DECIMALS}) AS score FROM scored
  {where}
),
cur AS (
  SELECT score AS s0, doc_id AS d0 FROM ranked
  ORDER BY score DESC, doc_id ASC LIMIT 1 OFFSET {k - 1}
)
SELECT doc_id, score FROM ranked, cur
WHERE score < s0 OR (score = s0 AND doc_id > d0)
ORDER BY score DESC, doc_id ASC
LIMIT {k}"""
    return f"""
WITH {_TOKS_CTE},
dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf WHERE term IN ({all_list}) GROUP BY 1),
scored AS (
  SELECT tf.doc_id, sum({w}) AS raw,
         count(*) FILTER (WHERE tf.term IN ({must_list})) AS n_matched
  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN g
  WHERE tf.term IN ({all_list})
  GROUP BY tf.doc_id
)
SELECT doc_id, round(raw, {ROUND_DECIMALS}) AS score FROM scored
{where}
ORDER BY round(raw, {ROUND_DECIMALS}) DESC, doc_id ASC
LIMIT {k}{off}
"""


def _highlight_oracle(text: str, k: int = 10, frag_tokens: int = 5) -> str:
    """DuckDB twin of search_highlighted: the standard BM25 top-k plus
    the frozen fragment semantics of engine/highlight.py."""
    from librecatastro_spark.engine.highlight import duckdb_highlight_sql

    terms = sorted(set(analyze_text(text)))
    tl = ", ".join(f"'{t}'" for t in terms)
    w = bm25_sql("tf.tf", "dfq.df", "dl.dl", "g.n", "g.avgdl")
    return f"""
WITH {_TOKS_CTE},
dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf WHERE term IN ({tl}) GROUP BY 1),
scored AS (
  SELECT tf.doc_id, sum({w}) AS raw
  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN g
  WHERE tf.term IN ({tl}) GROUP BY tf.doc_id
),
topk AS (
  SELECT doc_id, round(raw, {ROUND_DECIMALS}) AS score FROM scored
  ORDER BY round(raw, {ROUND_DECIMALS}) DESC, doc_id ASC LIMIT {k}
),
{duckdb_highlight_sql(terms, "text", frag_tokens)}
SELECT t.doc_id, t.score, hl.snippet FROM topk t LEFT JOIN hl USING (doc_id)
"""


def _mlt_oracle(
    doc_id: int,
    k: int = 10,
    max_query_terms: int = 12,
    min_term_freq: int = 1,
    min_doc_freq: int = 2,
) -> str:
    """DuckDB twin of more_like_this: same float-free term selection
    (tf DESC, df ASC, term ASC — engine/exact.py mlt_select_terms), same
    OR-match BM25 scoring, source doc excluded."""
    w = bm25_sql("tf.tf", "dfq.df", "dl.dl", "g.n", "g.avgdl")
    return f"""
WITH {_TOKS_CTE},
dfall AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
sel AS (
  SELECT s.term FROM tf s JOIN dfall d USING (term)
  WHERE s.doc_id = {doc_id} AND d.df >= {min_doc_freq} AND s.tf >= {min_term_freq}
  ORDER BY s.tf DESC, d.df ASC, s.term ASC
  LIMIT {max_query_terms}
),
dfq AS (SELECT term, df FROM dfall WHERE term IN (SELECT term FROM sel)),
scored AS (
  SELECT tf.doc_id, sum({w}) AS raw
  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN g
  WHERE tf.term IN (SELECT term FROM sel) AND tf.doc_id <> {doc_id}
  GROUP BY tf.doc_id
)
SELECT doc_id, round(raw, {ROUND_DECIMALS}) AS score FROM scored
ORDER BY round(raw, {ROUND_DECIMALS}) DESC, doc_id ASC
LIMIT {k}
"""


# --------------------------------------------------------------------- #
# queries
# --------------------------------------------------------------------- #

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: analyzed-match BM25 top-10 (capability B6/B10/B14)."""
    return _engine(spark, "/root/testdata/sf0.001").search("spark join merge", k=10)


def _q_match(spark, sf):
    return _engine(spark, sf).search("spark join merge", k=10)


def _q_bool_must(spark, sf):
    return _engine(spark, sf).search("table window batch", k=10, require_all=True)


def _q_must_not(spark, sf):
    return _engine(spark, sf).search("spark", k=10, must_not_text="window")


def _q_wand_highlight(spark, sf):
    # ES highlight analog: top-k + token-window snippets for just the
    # hit docs (broadcast semi-join before tokenize)
    return _index(spark, sf).search_highlighted(
        "spark join merge", _docs(spark, sf), k=10, source_text_col="text"
    )


def _q_highlight_exact(spark, sf):
    return _engine(spark, sf).search_highlighted("spark join merge", k=10)


def _q_wand_mlt(spark, sf):
    # ES more_like_this on the production path: point-lookup + re-analyze
    # doc 7, float-free characteristic-term selection, OR match excluding
    # the source doc
    return _index(spark, sf).more_like_this(
        7, _docs(spark, sf), k=10, max_query_terms=8, min_doc_freq=2,
        source_text_col="text",
    )


def _q_mlt_exact(spark, sf):
    return _engine(spark, sf).more_like_this(
        7, k=10, max_query_terms=8, min_doc_freq=2
    )


def _q_wand_fuzzy_term(spark, sf):
    # ES fuzzy analog on the production path: vocab-scan Levenshtein
    # expansion over the term dictionary, In(term) pushed to postings
    return _index(spark, sf).fuzzy_term_search("marge", k=10, max_edits=1)


def _q_fuzzy_term_exact(spark, sf):
    # exactness twin: per-posting Levenshtein, no dictionary expansion
    return _engine(spark, sf).fuzzy_term_search("marge", k=10, max_edits=1)


def _q_match_phrase_exact(spark, sf):
    # ES match_phrase analog on the exactness-oracle engine (B6 extension)
    return _engine(spark, sf).match_phrase("scan merge", k=10)


def _pos_index(spark, sf_dir: str):
    """Positional twin of _index (index_options="positions"): the ES
    mapping with positions enabled. Built once per sf_dir next to the
    freqs index; powers the phrase queries (match_phrase,
    match_phrase_prefix), which need positional postings."""
    import hashlib

    src = f"{sf_dir}/documents.parquet"
    mtime = int(os.path.getmtime(src)) if os.path.exists(src) else 0
    key = hashlib.sha256(f"{sf_dir}:{mtime}:pos-v1".encode()).hexdigest()[:16]
    out = os.path.join("/tmp", f"lc_posindex_{key}")
    docs = _docs(spark, sf_dir).withColumn(
        "content_sha256", F.sha2(F.col("text"), 256)
    )
    build_index(
        spark, docs, out, id_col="doc_id", text_col="text",
        attr_cols=("lang", "source", "n_chars", "content_sha256"), n_shards=8,
        block_size=128, salt_threshold=5_000, n_salts=8, resume=True,
        index_options="positions",
    )
    return CompressedIndex(spark, out)


def _q_wand_match_phrase(spark, sf):
    # production phrase path: position-chain intersection over positional
    # postings, no source scan (engine/positions.py) — engine/wand.py
    # match_phrase docstring has the full plan shape
    return _pos_index(spark, sf).match_phrase("scan merge", k=10)


def _q_wand_match_phrase_pos(spark, sf):
    # a phrase spanning a stopword, through the match_phrase_positional
    # alias, on the stop-list positions index: adjacency after removal
    return _stop_index(spark, sf, "positions").match_phrase_positional(
        "scan the merge", k=10
    )


def _q_wand_match_phrase_pos_slop(spark, sf):
    return _stop_index(spark, sf, "positions").match_phrase_positional(
        "scan the merge", k=10, slop=2
    )


def _scored_raw_cte(text: str) -> str:
    """CTE computing RAW (unrounded) BM25 sums for the OR match — the
    shared base of the compound-score oracles (one final round, see
    engine/score_queries.py rounding protocol)."""
    terms = _sql_terms(text)
    w = bm25_sql("tf.tf", "dfq.df", "dl.dl", "g.n", "g.avgdl")
    return f"""
dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf WHERE term IN ({terms}) GROUP BY 1),
scored AS (
  SELECT tf.doc_id, sum({w}) AS raw
  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN g
  WHERE tf.term IN ({terms})
  GROUP BY tf.doc_id
)"""


def _function_score_oracle(
    text: str, field: str, modifier: str, factor: float, boost_mode: str,
    k: int = 10,
) -> str:
    from librecatastro_spark.engine.fscore import combine_sql, field_factor_sql

    fac = field_factor_sql(f"d.{field}", modifier, factor)
    comb = combine_sql("s.raw", fac, boost_mode)
    return f"""
WITH {_TOKS_CTE},
{_scored_raw_cte(text)[1:]}
SELECT s.doc_id, round({comb}, {ROUND_DECIMALS}) AS score
FROM scored s JOIN documents d USING (doc_id)
ORDER BY score DESC, doc_id ASC
LIMIT {k}"""


def _dis_max_oracle(texts: list[str], tie_breaker: float, k: int = 10) -> str:
    clause_ctes, selects = [], []
    for i, t in enumerate(texts):
        terms = _sql_terms(t)
        clause_ctes.append(f"""
dfq{i} AS (SELECT term, count(*)::DOUBLE AS df FROM tf WHERE term IN ({terms}) GROUP BY 1),
c{i} AS (
  SELECT tf.doc_id, sum({bm25_sql("tf.tf", f"dfq{i}.df", "dl.dl", "g.n", "g.avgdl")}) AS raw
  FROM tf JOIN dfq{i} USING (term) JOIN dl USING (doc_id) CROSS JOIN g
  WHERE tf.term IN ({terms})
  GROUP BY tf.doc_id
)""")
        selects.append(f"SELECT doc_id, raw FROM c{i}")
    u = " UNION ALL ".join(selects)
    return f"""
WITH {_TOKS_CTE},
{",".join(clause_ctes)[1:]},
u AS ({u}),
m AS (SELECT doc_id, max(raw) AS mx, sum(raw) AS sm FROM u GROUP BY doc_id)
SELECT doc_id,
       round(mx + {float(tie_breaker)!r} * (sm - mx), {ROUND_DECIMALS}) AS score
FROM m
ORDER BY score DESC, doc_id ASC
LIMIT {k}"""


def _boosting_oracle(
    positive: str, negative: str, negative_boost: float, k: int = 10
) -> str:
    neg_terms = _sql_terms(negative)
    return f"""
WITH {_TOKS_CTE},
{_scored_raw_cte(positive)[1:]},
neg AS (SELECT DISTINCT doc_id FROM toks WHERE term IN ({neg_terms}))
SELECT s.doc_id,
       round(s.raw * CASE WHEN n.doc_id IS NOT NULL
                          THEN {float(negative_boost)!r} ELSE 1.0 END,
             {ROUND_DECIMALS}) AS score
FROM scored s LEFT JOIN neg n USING (doc_id)
ORDER BY score DESC, doc_id ASC
LIMIT {k}"""


_CS_IDS = [3, 14, 159, 265, 358, 979, 323, 846, 264, 338, 327, 950]

# victims for the delete/update gates (ids absent from a small sf corpus
# are ignored by delete_batch and excluded by NOT IN alike, so the gate
# is consistent at every sf)
_DEL_IDS = sorted(range(0, 400, 7))
_UPD_IDS = [0, 1, 2, 3, 4]
_UPD_MARK = " zzzupdated marker"


def _del_index(spark, sf_dir: str):
    """Index with _DEL_IDS deleted via the delete_batch write API
    (streaming/incremental.py). Idempotent across driver runs: the
    first run builds + deletes; reruns find the ids already gone
    (delete_batch returns 0) and the index is byte-stable."""
    import hashlib

    from librecatastro_spark.streaming.incremental import delete_batch

    src = f"{sf_dir}/documents.parquet"
    mtime = int(os.path.getmtime(src)) if os.path.exists(src) else 0
    key = hashlib.sha256(f"{sf_dir}:{mtime}:del-v1".encode()).hexdigest()[:16]
    out = os.path.join("/tmp", f"lc_delindex_{key}")
    docs = _docs(spark, sf_dir).withColumn(
        "content_sha256", F.sha2(F.col("text"), 256)
    )
    build_index(
        spark, docs, out, id_col="doc_id", text_col="text",
        attr_cols=("lang", "source", "n_chars", "content_sha256"), n_shards=8,
        block_size=128, salt_threshold=5_000, n_salts=8, resume=True,
    )
    delete_batch(spark, out, _DEL_IDS)
    return CompressedIndex(spark, out)


def _upd_index(spark, sf_dir: str):
    """Index where _UPD_IDS' documents were REPLACED (content + marker)
    via update_batch — the index-level last-write-wins upsert. Reruns
    re-apply the identical update (delete + append of the same rows), so
    the result is stable across driver invocations."""
    import hashlib

    from librecatastro_spark.streaming.incremental import update_batch

    src = f"{sf_dir}/documents.parquet"
    mtime = int(os.path.getmtime(src)) if os.path.exists(src) else 0
    key = hashlib.sha256(f"{sf_dir}:{mtime}:upd-v1".encode()).hexdigest()[:16]
    out = os.path.join("/tmp", f"lc_updindex_{key}")
    docs = _docs(spark, sf_dir).withColumn(
        "content_sha256", F.sha2(F.col("text"), 256)
    )
    build_index(
        spark, docs, out, id_col="doc_id", text_col="text",
        attr_cols=("lang", "source", "n_chars", "content_sha256"), n_shards=8,
        block_size=128, salt_threshold=5_000, n_salts=8, resume=True,
    )
    new_rows = docs.where(F.col("doc_id").isin(_UPD_IDS)).withColumn(
        "text", F.concat(F.col("text"), F.lit(_UPD_MARK))
    ).withColumn("content_sha256", F.sha2(F.col("text"), 256))
    update_batch(spark, out, new_rows, id_col="doc_id", text_col="text")
    return CompressedIndex(spark, out)


def _mutated_bm25_oracle(text: str, k: int, where_docs: str,
                         text_expr: str = "text") -> str:
    """BM25 top-k oracle over a MUTATED document set: ``where_docs``
    filters the doc rows, ``text_expr`` rewrites the scored text — the
    SQL image of delete_batch / update_batch, whose contract is exact
    convergence to the batch build of the mutated corpus (N, avgdl, df
    all recomputed)."""
    terms = _sql_terms(text)
    w = bm25_sql("tf.tf", "dfq.df", "dl.dl", "g.n", "g.avgdl")
    return f"""
WITH docs2 AS (
  SELECT doc_id, {text_expr} AS text FROM documents {where_docs}
),
toks AS (
  SELECT doc_id, unnest({duckdb_tokens_sql('text')}) AS term FROM docs2
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
g  AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dl),
dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf WHERE term IN ({terms}) GROUP BY 1)
SELECT tf.doc_id, round(sum({w}), {ROUND_DECIMALS}) AS score
FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN g
WHERE tf.term IN ({terms})
GROUP BY tf.doc_id
ORDER BY score DESC, doc_id ASC
LIMIT {k}"""


def _q_keyword(spark, sf):
    return _engine(spark, sf).search("merge sort", k=10, filters={"source": "src3"})


def _q_prefix(spark, sf):
    return _engine(spark, sf).search("query scan", k=10, prefix=("source", "src1"))


def _q_dedup_exists(spark, sf):
    # flagship dedup-check shape (B8): prefix + keyword eq, window 11,
    # existence = hits.total > 0 (reference: elasticsearch_utils.py:110-136)
    eng = _engine(spark, sf)
    win = eng.filter_only(
        filters={"lang": "en"}, prefix=("source", "src1"), limit=11
    )
    return win.agg(
        F.count(F.lit(1)).alias("total_hits"),
        (F.count(F.lit(1)) > 0).alias("found"),
    )


def _q_hits_total(spark, sf):
    eng = _engine(spark, sf)
    return eng.match_scores("spark").agg(F.count(F.lit(1)).alias("total_hits"))


def _q_term_stats(spark, sf):
    eng = _engine(spark, sf)
    return (
        eng.postings.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(20)
    )


def _q_doc_stats(spark, sf):
    eng = _engine(spark, sf)
    return (
        eng.postings.select("doc_id", "dl").distinct()
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("dl"), ROUND_DECIMALS).alias("avgdl"),
        )
    )


def _q_token_count(spark, sf):
    return _docs(spark, sf).select(
        "doc_id", F.size(tokenize_expr("text")).alias("n_tokens")
    )


def _q_should_boost(spark, sf):
    # B7 bool.should with must present: optional terms boost scores only
    return _engine(spark, sf).search("join merge", k=10, should_text="window stream")


def _q_offset_page(spark, sf):
    # B10 pagination window: from=10, size=10 (second page of the ranking)
    return _engine(spark, sf).search("table query", k=10, offset=10)


def _q_term_prefix(spark, sf):
    # B5 term-dictionary prefix expansion (docs containing any term 's…')
    return _engine(spark, sf).term_prefix_search("s", k=10)


def _q_content_sha(spark, sf):
    # input_hint per-row invariant: content sha256 (corpus side)
    return _docs(spark, sf).select(
        "doc_id", F.sha2(F.col("text"), 256).alias("sha")
    )


def _q_sha_invariant(spark, sf):
    # north_rule: per-row content_sha256 equality corpus↔index, end-to-end —
    # recompute over the corpus, full-outer join the index attrs, count
    # mismatches (must be 0)
    idx = _index(spark, sf)
    attrs = idx.attrs.select("doc_id", F.col("content_sha256").alias("sha_index"))
    docs = _docs(spark, sf).select(
        "doc_id", F.sha2(F.col("text"), 256).alias("sha_corpus")
    )
    j = docs.join(attrs, "doc_id", "full_outer")
    return j.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(
                F.col("sha_corpus").isNull()
                | F.col("sha_index").isNull()
                | (F.col("sha_corpus") != F.col("sha_index")),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).alias("n_mismatch"),
    )


def _q_scalar_encode(spark, sf):
    # A7 base64 + A28 recursive JSON encode, as built-in Catalyst scalars
    d = _docs(spark, sf)
    return d.select(
        "doc_id",
        F.base64(F.substring(F.col("text"), 1, 48).cast("binary")).alias("b64"),
        F.to_json(F.struct(F.col("lang"), F.col("source"))).alias("js"),
    )


def _q_sample_search(spark, sf):
    # A24 random-sampling search, made deterministic: hash-ordered "uniform"
    # sample of the keyspace until k matches (md5 plays rand(seed))
    o = _t(spark, sf, "orders")
    return (
        o.orderBy(F.md5(F.col("o_orderkey").cast("string")), F.asc("o_orderkey"))
        .select("o_orderkey")
        .limit(10)
    )


_DIAMOND = [(0.05, -20.05), (30.05, 0.05), (0.05, 20.05), (-29.95, 0.05)]


def _q_grid_lattice(spark, sf):
    # A22 grid-scan generator: spark.range lattice over the polygon bbox,
    # then A23 coarse-to-fine exact filter — returns surviving lattice points
    from librecatastro_spark.ops.geo import lattice, points_in_polygon, polygon_bbox

    grid = lattice(spark, polygon_bbox(_DIAMOND), scale=1)
    return points_in_polygon(grid, _DIAMOND).select("lon", "lat")


# --- compressed-index / block-max WAND path (B14) — same oracles as the
# --- exact path: the driver's hash compare IS the rank-identity gate.

def _q_fastpath_match(spark, sf):
    # coordinator fast path: same numpy kernel as the distributed WAND
    # path, driven by pyarrow row-group-pruned reads on the driver; gated
    # by the same DuckDB oracle as the distributed match query
    idx = _index(spark, sf)
    pdf = idx.search_local("spark join merge", k=10)
    return spark.createDataFrame(
        [(int(r.doc_id), float(r.score)) for r in pdf.itertuples()],
        "doc_id long, score double",
    )


def _q_wand_match(spark, sf):
    return _index(spark, sf).search("spark join merge", k=10)


def _q_wand_bool_must(spark, sf):
    return _index(spark, sf).search("table window batch", k=10, require_all=True)


def _q_wand_must_not(spark, sf):
    return _index(spark, sf).search("spark", k=10, must_not_text="window")


def _q_wand_filtered(spark, sf):
    return _index(spark, sf).search(
        "merge sort", k=10, filters={"source": "src3"}
    )


def _q_wand_prefix(spark, sf):
    return _index(spark, sf).search("query scan", k=10, prefix=("source", "src1"))


def _q_wand_should(spark, sf):
    return _index(spark, sf).search("join merge", k=10, should_text="window stream")


def _q_wand_offset(spark, sf):
    return _index(spark, sf).search("table query", k=10, offset=10)


def _q_wand_search_after(spark, sf):
    # ES search_after (keyset) pagination on the production path: page 1's
    # last (score, doc_id) is the cursor; page 2 = rows strictly after it.
    # Unlike offset, every shard returns only its local top-k past the
    # cursor — O(shards × k) shuffle at ANY page depth. The collect is one
    # k-row page (constant-sized).
    idx = _index(spark, sf)
    page1 = idx.search("table query", k=10).collect()
    cur = (float(page1[-1]["score"]), int(page1[-1]["doc_id"]))
    return idx.search("table query", k=10, search_after=cur)


def _q_wand_term_prefix(spark, sf):
    # B5 as a term-dictionary RANGE scan with Parquet min/max pruning
    return _index(spark, sf).term_prefix_search("s", k=10)


# --------------------------------------------------------------------- #
# training-data pipeline ops (dedup / similarity / text analysis)
# --------------------------------------------------------------------- #

def _q_lang_id(spark, sf):
    from librecatastro_spark.ops.text import lang_id_expr

    return _docs(spark, sf).select("doc_id", lang_id_expr("text").alias("lang_pred"))


def _q_doc_chunking(spark, sf):
    # pretraining packing primitive: overlapping token windows, pure
    # Catalyst, shuffle-free (ops/chunk.py)
    from librecatastro_spark.ops.chunk import chunk_documents

    return chunk_documents(
        _docs(spark, sf), max_tokens=40, overlap=8, text_col="text"
    )


def _q_unigram_logprob(spark, sf):
    # mean unigram log-likelihood under the corpus's own LM — the cheap
    # LM-quality filter (broadcast vocab join, one doc-keyed shuffle)
    from librecatastro_spark.ops.text import unigram_logprob

    return unigram_logprob(_docs(spark, sf), text_col="text")


def _q_decontaminate(spark, sf):
    # n-gram-overlap decontamination against a deterministic eval slice
    # (broadcast probe set, one doc-keyed shuffle — ops/decontaminate.py)
    from librecatastro_spark.ops.decontaminate import decontaminate

    docs = _docs(spark, sf)
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return decontaminate(docs, bench, text_col="text", n=5)


_PII_TAIL = " contact bob@example.com or 10.0.0.1 or +34912345678 now"


def _q_redact_pii(spark, sf):
    # PII scrub over a deterministically salted corpus (every 10th doc
    # gets one email + one IPv4 + one phone appended — the synthetic
    # corpus itself is PII-free, so the injection makes the op's
    # positive path oracle-checkable); pure Catalyst regexp intrinsics,
    # shuffle-free (ops/pii.py)
    from librecatastro_spark.ops.pii import redact_pii

    docs = _docs(spark, sf).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0, F.concat(F.col("text"), F.lit(_PII_TAIL))
        ).otherwise(F.col("text")).alias("text"),
    )
    return redact_pii(docs, text_col="text")


def _q_repetition_signals(spark, sf):
    # Gopher-style repetition filters; top-bigram multiplicity via a
    # shuffle-free sorted-run fold (ops/text.py)
    from librecatastro_spark.ops.text import repetition_signals

    return repetition_signals(_docs(spark, sf), text_col="text")


def _q_quality(spark, sf):
    from librecatastro_spark.ops.text import quality_score_expr

    return _docs(spark, sf).select("doc_id", quality_score_expr("text").alias("quality"))


def _q_exact_dedup(spark, sf):
    from librecatastro_spark.ops.dedup import exact_duplicates

    return exact_duplicates(_docs(spark, sf))


def _q_jaccard(spark, sf):
    from librecatastro_spark.ops.dedup import jaccard_pairs

    return jaccard_pairs(_docs(spark, sf), threshold=0.5)


def _q_minhash_lsh(spark, sf):
    from librecatastro_spark.ops.dedup import minhash_lsh_pairs

    # 2-row bands (32 hashes / 16 bands): the zipfian hot-bucket guard —
    # see training_data_pipeline's rationale; the oracle mirrors the
    # banding exactly so the gate holds on any corpus
    return minhash_lsh_pairs(
        _docs(spark, sf), threshold=0.5, n_hashes=32, bands=16
    )


def _q_minhash_sig(spark, sf):
    from librecatastro_spark.ops.dedup import minhash_signature

    return minhash_signature(_docs(spark, sf), n_hashes=8)


def _q_simhash16(spark, sf):
    from librecatastro_spark.ops.dedup import simhash16_expr

    return _docs(spark, sf).select("doc_id", simhash16_expr("text").alias("simhash16"))


def _emb(spark, sf):
    return spark.read.parquet(f"{sf}/embeddings.parquet")


def _q_cosine_topk(spark, sf):
    from librecatastro_spark.ops.similarity import cosine_topk

    e = _emb(spark, sf)
    q = [float(x) for x in e.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
    return cosine_topk(e, q, k=10)


def _q_emb_near_dup(spark, sf):
    # scale path: banded hyperplane-LSH candidate equi-join + exact cosine
    # verify (NO cartesian join in the plan). Oracle = the banded SQL twin
    # (frozen planes), exact on any corpus; recall vs brute force is
    # measured in pytest (see embedding_near_dup_banded docstring).
    from librecatastro_spark.ops.similarity import embedding_near_dup_banded

    return embedding_near_dup_banded(
        _emb(spark, sf), threshold=0.4, n_planes=16, bands=8
    )


def _q_training_pipeline(spark, sf):
    # the LLM-data ops COMPOSED as one Catalyst plan: lang filter →
    # quality filter → exact dedup → LSH near-dup removal → per-doc stats
    # (ops/pipeline.py docstring has the scale/oracle rationale)
    from librecatastro_spark.ops.pipeline import training_data_pipeline

    return training_data_pipeline(_docs(spark, sf))


def _q_incremental_curation(spark, sf):
    # streaming twin of the composed pipeline: curate the corpus in TWO
    # batches against durable state (streaming/curation.py) — the oracle
    # is the ONE-SHOT pipeline SQL, so the gate proves batch-by-batch
    # curation converges to the batch-mode result (the B15 analog for
    # the curation ops). Cached state replays as a no-op (idempotence).
    import hashlib

    from librecatastro_spark.streaming.curation import (
        accepted_docs,
        curate_batch,
    )

    src = f"{sf}/documents.parquet"
    mtime = int(os.path.getmtime(src)) if os.path.exists(src) else 0
    key = hashlib.sha256(f"{sf}:{mtime}:curate_v2".encode()).hexdigest()[:16]
    state = os.path.join("/tmp", f"lc_curate_{key}")
    docs = _docs(spark, sf)
    n = docs.agg(F.max("doc_id")).collect()[0][0] or 0
    curate_batch(spark, state, docs.where(F.col("doc_id") <= n // 3))
    curate_batch(spark, state, docs.where(F.col("doc_id") > n // 3))
    return accepted_docs(spark, state)


def _q_emb_near_dup_exact(spark, sf):
    # exactness baseline for the banded scale path above: the brute-force
    # all-pairs cosine join, gated against the exact cross-product SQL —
    # verification-only at scale (O(n²)), which is why the 50-entry gate
    # carries the banded path and this runs as an extra.
    from librecatastro_spark.ops.similarity import brute_force_pairs

    return brute_force_pairs(_emb(spark, sf), threshold=0.4)


def _q_ann_lsh(spark, sf):
    # ANN scale path: LSH bucket + Hamming-1 multiprobe (rows-only check;
    # recall vs the brute-force baseline is gated in tests/)
    from librecatastro_spark.ops.similarity import ann_lsh_topk

    e = _emb(spark, sf)
    q = [float(x) for x in e.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
    return ann_lsh_topk(e, q, k=10, n_planes=6)


def _q_ivf(spark, sf):
    # ANN scale path #2: IVF coarse quantization — assign to nearest of 8
    # deterministic centroids, probe the 2 cells nearest the query, exact
    # cosine inside (→ partition pruning when the table is laid out by cell)
    from librecatastro_spark.ops.similarity import ivf_topk

    e = _emb(spark, sf)
    q = [float(x) for x in e.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
    return ivf_topk(e, q, k=10, n_cells=8, n_probe=2)


def _q_fingerprint(spark, sf):
    from librecatastro_spark.ops.text import fingerprint_expr

    return _docs(spark, sf).select(
        "doc_id", fingerprint_expr("text").alias("fingerprint")
    )


def _q_simhash_near(spark, sf):
    from librecatastro_spark.ops.dedup import simhash_near_pairs

    return simhash_near_pairs(_docs(spark, sf), max_hamming=7, bands=8)


def _q_simhash_dedup(spark, sf):
    # corpus-scale simhash dedup: identical-sig collapse + block-combination
    # join over distinct sigs (ops/dedup.py simhash_dedup — the drop-list
    # API whose candidate volume survives template-heavy corpora)
    from librecatastro_spark.ops.dedup import simhash_dedup

    return simhash_dedup(_docs(spark, sf))


def _q_multimodal_features(spark, sf):
    # multimodal plumbing: binary payload → feature values over mapInPandas
    # (deterministic sha256-derived fake encoder). Emitted as one row per
    # (media_id, dim) with an exact-dyadic float64 value so the driver can
    # canonicalize (list columns can't be hash-compared) and DuckDB can
    # recompute it exactly (A13 analog; reference parser_html.py:172-232).
    from librecatastro_spark.ops.multimodal import feature_rows, synthetic_media

    return feature_rows(synthetic_media(spark, 64))


def _q_frame_sample(spark, sf):
    # video frame-sampling plan: sequence+explode fan-out, media table
    # derived deterministically from documents (duration := n_chars)
    from librecatastro_spark.ops.multimodal import sample_frames

    media = _docs(spark, sf).select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("video").alias("kind"),
        F.lit(None).cast("binary").alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit("fake").alias("codec"),
            F.col("n_chars").cast("int").alias("duration_ms"),
        ).alias("meta"),
    )
    out = sample_frames(media, every_ms=1000)
    return out.select("media_id", F.col("frame_ts_ms").cast("long").alias("frame_ts_ms"))


def _q_incremental_search(spark, sf):
    # A16/A30/B15 end-to-end: build the index from the FIRST HALF of the
    # corpus, fold the second half in via the incremental append path, then
    # query — the oracle is the plain full-corpus BM25 SQL, so the check
    # proves incremental maintenance converges to the batch-built result.
    import hashlib

    from librecatastro_spark.streaming.incremental import append_batch

    src = f"{sf}/documents.parquet"
    mtime = int(os.path.getmtime(src)) if os.path.exists(src) else 0
    key = hashlib.sha256(f"{sf}:{mtime}:incr_v3".encode()).hexdigest()[:16]
    out = os.path.join("/tmp", f"lc_incr_{key}")
    docs = _docs(spark, sf)
    n = docs.count()
    build_index(
        spark, docs.where(F.col("doc_id") < n // 2), out, id_col="doc_id",
        text_col="text", attr_cols=("lang", "source"), n_shards=4,
        block_size=128, salt_threshold=5_000, n_salts=4, resume=True,
    )
    append_batch(spark, out, docs.where(F.col("doc_id") >= n // 2),
                 id_col="doc_id", text_col="text")
    return CompressedIndex(spark, out).search("spark join merge", k=10)


# --------------------------------------------------------------------- #
# relational operator parity (A-series) on the TPC-H-ish tables
# --------------------------------------------------------------------- #

def _t(spark, sf, name):
    return spark.read.parquet(f"{sf}/{name}.parquet")


def _q_anti_join(spark, sf):
    # A16 dedup/resume anti-join: work items not in the done-manifest
    # (customers with no 'P' order — non-empty at every sf)
    cust, orders = _t(spark, sf, "customer"), _t(spark, sf, "orders")
    done = orders.where(F.col("o_orderstatus") == "P").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return cust.join(done, "c_custkey", "left_anti").select("c_custkey")


def _q_latest_event(spark, sf):
    # A17 upsert/last-write-wins: dedup-window write keyed by (user, type)
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "value")
    )


def _q_topk_orders(spark, sf):
    # A21/B10 early-exit top-k with deterministic tiebreak
    return (
        _t(spark, sf, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(10)
    )


def _q_nested_exists(spark, sf):
    # B13 nested-doc semantics: predicate must hold within ONE array element
    orders = _t(spark, sf, "orders")
    nested = orders.groupBy("o_custkey").agg(
        F.collect_list(F.struct("o_orderstatus", "o_totalprice")).alias("os")
    )
    return (
        nested.where(
            F.exists(
                "os",
                lambda x: (x["o_orderstatus"] == "F") & (x["o_totalprice"] > 200000),
            )
        )
        .select(F.col("o_custkey").alias("custkey"))
    )


def _q_q1_pricing(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_revenue_per_nation(spark, sf):
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    nation = _t(spark, sf, "nation")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


def _synth_points(spark, sf):
    return _t(spark, sf, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") % 3600) / 10.0 - 180.0).alias("lon"),
        (((F.col("c_custkey") * 7) % 1800) / 10.0 - 90.0).alias("lat"),
    )


def _q_geo_cell_agg(spark, sf):
    # B12 geohash-grid bucket aggregation analog
    from librecatastro_spark.ops.geo import cell_agg

    return cell_agg(_synth_points(spark, sf), scale=0.1)


_SQUARE = [(-50.05, -20.05), (50.05, -20.05), (50.05, 20.05), (-50.05, 20.05)]


def _q_polygon_filter(spark, sf):
    # A23 coarse-to-fine geo filter (bbox prune + exact vectorized test)
    from librecatastro_spark.ops.geo import points_in_polygon

    return points_in_polygon(_synth_points(spark, sf), _SQUARE).select("c_custkey")


def _q_search_fetch_fields(spark, sf):
    idx = _index(spark, sf)
    return idx.fetch_fields(idx.search("table query", k=10),
                            ["lang", "source"])


def _rescore_oracle(text: str, rtext: str, k: int, window: int,
                    qw: float, rw: float) -> str:
    """ES rescore twin: primary top-window by BM25, secondary BM25 for
    the window docs only, final = round(qw*p + rw*coalesce(s, 0)) —
    the frozen total-mode contract of engine.score_queries.rescore_compose."""
    t1, t2 = _sql_terms(text), _sql_terms(rtext)
    w1 = bm25_sql("tf.tf", "dfq.df", "dl.dl", "g.n", "g.avgdl")
    w2 = bm25_sql("tf.tf", "dfq2.df", "dl.dl", "g.n", "g.avgdl")
    return f"""
WITH {_TOKS_CTE},
dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf WHERE term IN ({t1}) GROUP BY 1),
p AS (
  SELECT tf.doc_id, round(sum({w1}), {ROUND_DECIMALS}) AS pscore
  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN g
  WHERE tf.term IN ({t1}) GROUP BY tf.doc_id
),
win AS (SELECT doc_id, pscore FROM p ORDER BY pscore DESC, doc_id ASC LIMIT {window}),
dfq2 AS (SELECT term, count(*)::DOUBLE AS df FROM tf WHERE term IN ({t2}) GROUP BY 1),
s AS (
  SELECT tf.doc_id, round(sum({w2}), {ROUND_DECIMALS}) AS sscore
  FROM tf JOIN dfq2 USING (term) JOIN dl USING (doc_id) CROSS JOIN g
  WHERE tf.term IN ({t2}) AND tf.doc_id IN (SELECT doc_id FROM win)
  GROUP BY tf.doc_id
)
SELECT win.doc_id,
       round({qw!r} * pscore + {rw!r} * coalesce(sscore, 0.0),
             {ROUND_DECIMALS}) AS score
FROM win LEFT JOIN s USING (doc_id)
ORDER BY score DESC, doc_id ASC
LIMIT {k}"""


def _geo_index(spark, sf_dir: str):
    """documents + synthesized geo_point attrs (lon/lat derived from
    doc_id, half-degree lattice) — the ES mapping with location enabled;
    powers the geo_distance aggregation entry. Built once per sf_dir
    (resume=True + mtime-keyed cache dir, like _pos_index)."""
    import hashlib

    src = f"{sf_dir}/documents.parquet"
    mtime = int(os.path.getmtime(src)) if os.path.exists(src) else 0
    key = hashlib.sha256(f"{sf_dir}:{mtime}:geo-v1".encode()).hexdigest()[:16]
    out = os.path.join("/tmp", f"lc_geoindex_{key}")
    docs = _docs(spark, sf_dir).withColumn(
        "lon", (F.col("doc_id") % 720) / 2.0 - 180.0
    ).withColumn(
        "lat", ((F.col("doc_id") * 7) % 360) / 2.0 - 90.0
    )
    build_index(
        spark, docs, out, id_col="doc_id", text_col="text",
        attr_cols=("lon", "lat"), n_shards=4,
        block_size=128, salt_threshold=5_000, n_salts=8, resume=True,
    )
    return CompressedIndex(spark, out)


#: the stop list for the stopword-analyzer entry — both appear as real
#: tokens in the synthetic corpus, and every document keeps plenty of
#: other tokens (so SQL-side n/avgdl over docs-with-tokens equals the
#: engine's meta over all docs)
_STOP_LIST = ("a", "the")


#: replace-form synonym map for the synonym-analyzer entry — both terms
#: are real corpus tokens, so the mapping exercises a true df/cf merge
_SYN_MAP = {"join": "merge"}


def _syn_index(spark, sf_dir: str):
    """documents indexed with the ES synonym token filter (r5, replace
    form): surface tokens map to canonicals before dl/tf/position
    assignment, recorded in meta.synonyms so query analysis maps the
    same way. Built once per sf_dir (resume=True + mtime-keyed cache
    dir, like _stop_index)."""
    import hashlib

    src = f"{sf_dir}/documents.parquet"
    mtime = int(os.path.getmtime(src)) if os.path.exists(src) else 0
    key = hashlib.sha256(f"{sf_dir}:{mtime}:syn-v1".encode()).hexdigest()[:16]
    out = os.path.join("/tmp", f"lc_synindex_{key}")
    build_index(
        spark, _docs(spark, sf_dir), out, id_col="doc_id", text_col="text",
        attr_cols=("lang", "source"), n_shards=4,
        block_size=128, salt_threshold=5_000, n_salts=8, resume=True,
        synonyms=_SYN_MAP,
    )
    return CompressedIndex(spark, out)


def _stop_index(spark, sf_dir: str, index_options: str = "freqs"):
    """documents indexed with the ES stop token filter (r5): stopwords
    dropped after segmentation and before dl/tf/position assignment,
    recorded in meta.stopwords so query analysis drops them too. Built
    once per (sf_dir, ``index_options``) (resume=True + mtime-keyed
    cache dir, like _geo_index)."""
    import hashlib

    src = f"{sf_dir}/documents.parquet"
    mtime = int(os.path.getmtime(src)) if os.path.exists(src) else 0
    tag = f"{sf_dir}:{mtime}:stop-v1:{index_options}"
    key = hashlib.sha256(tag.encode()).hexdigest()[:16]
    out = os.path.join("/tmp", f"lc_stopindex_{key}")
    build_index(
        spark, _docs(spark, sf_dir), out, id_col="doc_id", text_col="text",
        attr_cols=("lang", "source"), n_shards=4,
        block_size=128, salt_threshold=5_000, n_salts=8, resume=True,
        stopwords=frozenset(_STOP_LIST), index_options=index_options,
    )
    return CompressedIndex(spark, out)


#: the token CTE of the stop-list entries: the stop filter as a NOT IN
#: before tf/dl/df/avgdl, exactly like the engine's build-time filtering
_STOP_SQL = ", ".join(f"'{s}'" for s in _STOP_LIST)
_STOP_TOKS_CTE = f"""
toks AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest({duckdb_tokens_sql('text')}) AS term FROM documents
  ) WHERE term NOT IN ({_STOP_SQL})
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
g  AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dl)"""


def _stop_phrase_oracle(text: str, slop: int = 0, k: int = 10) -> str:
    """DuckDB twin of a phrase on the stop-list positions index: BM25
    require_all over the analyzed terms with the stopwords dropped, and
    the phrase matched (``duckdb_phrase_sql``) over the stop-filtered
    token stream, the sequence the positions index."""
    seq = [t for t in analyze_text(text) if t not in _STOP_LIST]
    terms = ", ".join(f"'{t}'" for t in sorted(set(seq)))
    stream = (
        f"array_to_string(list_filter({duckdb_tokens_sql('text')}, "
        f"x -> x NOT IN ({_STOP_SQL})), ' ')"
    )
    return f"""
WITH {_STOP_TOKS_CTE},
dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf WHERE term IN ({terms}) GROUP BY 1),
scored AS (
  SELECT tf.doc_id, sum({bm25_sql("tf.tf", "dfq.df", "dl.dl", "g.n", "g.avgdl")}) AS raw,
         count(*) AS n_matched
  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN g
  WHERE tf.term IN ({terms})
  GROUP BY tf.doc_id
)
SELECT doc_id, round(raw, {ROUND_DECIMALS}) AS score FROM scored
WHERE n_matched = {len(set(seq))} AND doc_id IN (
  SELECT doc_id FROM documents WHERE {duckdb_phrase_sql(stream, seq, slop)})
ORDER BY round(raw, {ROUND_DECIMALS}) DESC, doc_id ASC
LIMIT {k}
"""


_GEO_RINGS = [(None, 3000000.0), (3000000.0, 8000000.0), (8000000.0, None)]

#: convex diamond for geo_polygon_search, centered (10.3, 5.3) with
#: semi-axes (60.1, 40.1): no half-degree lattice point of the _geo_index
#: synth lies within 1.7e-3 of an edge (checked over the full 720-point
#: cycle), so ray-cast membership == the |dx|/a + |dy|/b < 1 half-plane
#: form the DuckDB oracle uses, with no boundary ambiguity (distinct
#: from _DIAMOND above, which belongs to the lattice entry)
_GEO_POLY = [(-49.8, 5.3), (10.3, -34.8), (70.4, 5.3), (10.3, 45.4)]


def _q_geo_distance(spark, sf):
    # ES geo_distance: points within 2,000 km of (60°W, 0°N) — bbox
    # prune in Catalyst (pushed to the scan), exact haversine on the
    # survivors; dist rounded to cm so both engines hash identically
    from librecatastro_spark.ops.geo import geo_distance, haversine_m

    pts = _synth_points(spark, sf)
    return (
        geo_distance(pts, -60.0, 0.0, 2_000_000.0)
        .select(
            "c_custkey",
            F.round(
                haversine_m(F.col("lon"), F.col("lat"), -60.0, 0.0), 2
            ).alias("dist_m"),
        )
        .orderBy("c_custkey")
    )


def _addr_fixture(spark, sf) -> DataFrame:
    """Reference-format address strings synthesized from customer/nation:
    even custkeys urban ('CL … Es:/Pl:/Pt: … CP CITY (PROV)'), odd rural
    ('Polígono … Parcela … (PROV)', no CP) — the two shapes the
    reference's Address parser handles (address.py:51-153)."""
    cust = _t(spark, sf, "customer")
    nation = _t(spark, sf, "nation")
    k = F.col("c_custkey")
    urban = F.concat(
        F.lit("CL "), F.col("c_mktsegment"), F.lit(" "),
        (k % 100).cast("string"),
        F.lit(" Es:"), ((k % 3) + 1).cast("string"),
        F.lit(" Pl:0"), (k % 9).cast("string"),
        F.lit(" Pt:"), F.substr(F.lit("ABCD"), (k % 4 + 1).cast("int"), F.lit(1)),
        F.lit(" "), F.lpad(((k * 37) % 100000).cast("string"), 5, "0"),
        F.lit(" CITY"), (k % 50).cast("string"),
        F.lit(" ("), F.col("n_name"), F.lit(")"),
    )
    rural = F.concat(
        F.lit("Polígono "), ((k % 90) + 1).cast("string"),
        F.lit(" Parcela "), ((k * 13) % 999 + 1).cast("string"),
        F.lit(" DISEMINADO ("), F.col("n_name"), F.lit(")"),
    )
    return cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).select(
        "c_custkey",
        F.when(k % 2 == 0, urban).otherwise(rural).alias("full_address"),
    )


_ADDR_SRC_SQL = """
_addr_src AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 2 = 0 THEN
           'CL ' || c_mktsegment || ' ' || (c_custkey % 100)::VARCHAR
           || ' Es:' || ((c_custkey % 3) + 1)::VARCHAR
           || ' Pl:0' || (c_custkey % 9)::VARCHAR
           || ' Pt:' || substring('ABCD', (c_custkey % 4)::INT + 1, 1)
           || ' ' || lpad(((c_custkey * 37) % 100000)::VARCHAR, 5, '0')
           || ' CITY' || (c_custkey % 50)::VARCHAR
           || ' (' || n_name || ')'
         ELSE
           'Polígono ' || ((c_custkey % 90) + 1)::VARCHAR
           || ' Parcela ' || ((c_custkey * 13) % 999 + 1)::VARCHAR
           || ' DISEMINADO (' || n_name || ')'
         END AS full_address
  FROM customer JOIN nation ON c_nationkey = n_nationkey
)
"""


def _q_address_extract(spark, sf):
    # A14 FULL 13-field regex extraction suite (reference address.py:16-196:
    # '####'/CP line split, first-line-scoped Es:/Pl:/Pt:/Polígono/Parcela,
    # second-line-scoped cp/province/city-residual)
    from librecatastro_spark.ops.address import parse_address

    df = _addr_fixture(spark, sf)
    a = parse_address("full_address")
    return df.select(
        "c_custkey",
        F.col("full_address"),
        *[a[f].alias(f) for f in (
            "first_line", "second_line", "street", "cp", "city",
            "province_parentheses", "province", "doorway", "floor", "door",
            "site", "lot",
        )],
    )


def _q_coalesce_fallback(spark, sf):
    # A27 fan-out with per-element fallback lookup: per order ("parcela"),
    # fan out to its lineitems ("multiparcela"), resolve each part by id in
    # the primary dim, fall back to the secondary lookup when absent —
    # coalesce of two broadcast left joins (reference parser_xml.py:87-124
    # try-fetch-by-id-except-fetch-by-address)
    li = _t(spark, sf, "lineitem").where(F.col("l_orderkey") < 200)
    part = _t(spark, sf, "part")
    primary = part.where(F.col("p_size") >= 25).select(
        F.col("p_partkey").alias("pk1"), F.col("p_name").alias("name1")
    )
    fallback = part.select(
        F.col("p_partkey").alias("pk2"), F.col("p_name").alias("name2")
    )
    return (
        li.join(F.broadcast(primary), li.l_partkey == F.col("pk1"), "left")
        .join(F.broadcast(fallback), li.l_partkey == F.col("pk2"), "left")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.coalesce("name1", "name2").alias("p_name"),
            F.col("name1").isNull().alias("used_fallback"),
        )
    )


def _q_geohash_join(spark, sf):
    # A8/B12 reverse-geo bucket join: probe points → geohash cell → equi-
    # join against the geohashed point table (no cartesian; broadcast
    # probes). Geohash equality at precision 4 ≡ equality of the quantized
    # (qx, qy) pair, which is how the DuckDB twin computes it.
    from librecatastro_spark.ops.geo import make_geohash_udf

    gh = make_geohash_udf(4)
    pts = _synth_points(spark, sf).withColumn(
        "gh", gh(F.col("lon"), F.col("lat"))
    )
    probes = pts.where(F.col("c_custkey") <= 5).select(
        F.col("c_custkey").alias("probe_key"), "gh"
    )
    return F.broadcast(probes).join(pts, "gh").select(
        "probe_key", F.col("c_custkey").alias("match_key")
    )


def _q_nested_reform(spark, sf):
    # B13 TWO-LEVEL nested-doc semantics: constructions = array of
    # struct(line, reform{type, year}) — the reference's
    # construction.reform{type,year} shape (construction.py:9-19,
    # reform.py:7-13); predicate must hold on the INNER struct of a single
    # array element (F.exists with nested field access)
    li = _t(spark, sf, "lineitem")
    nested = li.groupBy("l_orderkey").agg(
        F.collect_list(
            F.struct(
                F.col("l_linenumber").alias("line"),
                F.struct(
                    F.col("l_returnflag").alias("type"),
                    F.year("l_shipdate").alias("year"),
                ).alias("reform"),
            )
        ).alias("constructions")
    )
    return nested.where(
        F.exists(
            "constructions",
            lambda x: (x["reform"]["type"] == "R") & (x["reform"]["year"] >= 2001),
        )
    ).select(F.col("l_orderkey").alias("orderkey"))


def _q_glob_source_scan(spark, sf):
    # A25 file-source fan-out: read a multi-file directory through a
    # pathGlobFilter that must select exactly the docs_<lang>.parquet
    # files and skip the decoys (an extra parquet that would corrupt the
    # aggregates, plus non-parquet files that would crash the scan) —
    # reference coordinates_searcher.py:28-50 dir walk + suffix filter.
    # The fixture dir is derived deterministically from the sf tables.
    import hashlib

    from librecatastro_spark.ops.filesource import glob_scan, materialize_glob_dir

    src = f"{sf}/documents.parquet"
    mtime = int(os.path.getmtime(src)) if os.path.exists(src) else 0
    key = hashlib.sha256(f"{sf}:{mtime}:glob_v1".encode()).hexdigest()[:16]
    d = materialize_glob_dir(sf, os.path.join("/tmp", f"lc_glob_{key}"))
    return (
        glob_scan(spark, d, "docs_*.parquet")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def _q_probe_first_gap(spark, sf):
    # A19 bounded probe loop: per order, walk quantities 1,2,3,… and stop
    # after 10 consecutive misses (reference parser_xml.py:154-188 street-
    # number probing) — closed-form window formulation, aggregated per key
    from librecatastro_spark.ops.probe import bounded_probe_scan

    reached = bounded_probe_scan(
        _t(spark, sf, "lineitem"), "l_orderkey", "l_quantity", max_misses=10
    )
    return reached.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_reached"),
        F.max("l_quantity").alias("max_qty"),
    )


def _index_salted(spark, sf):
    """A second gate index whose salt threshold is LOW enough that hot
    terms actually salt on the sf0.01 corpus (the main index's
    production threshold never triggers there), so the salted build+query
    path is oracle-checked, not just pytest-covered. The query fn asserts
    from the manifest that salting really happened."""
    import hashlib

    from librecatastro_spark.index.builder import manifest_records

    src = f"{sf}/documents.parquet"
    mtime = int(os.path.getmtime(src)) if os.path.exists(src) else 0
    key = hashlib.sha256(f"{sf}:{mtime}:salted_v1".encode()).hexdigest()[:16]
    out = os.path.join("/tmp", f"lc_salted_{key}")
    docs = _docs(spark, sf)
    build_index(
        spark, docs, out, id_col="doc_id", text_col="text",
        attr_cols=("lang", "source"), n_shards=4,
        block_size=64, salt_threshold=40, n_salts=4, resume=True,
    )
    rec = manifest_records(out).get("stage", {})
    if not rec.get("salted_terms"):
        raise AssertionError(
            "salted gate index did not salt any term — lower the threshold"
        )
    return CompressedIndex(spark, out)


def _q_wand_match_salted(spark, sf):
    # rank-identity through the salted layout: scores must equal the
    # unsalted oracle exactly (salting only re-buckets posting blocks)
    return _index_salted(spark, sf).search("spark join merge", k=10)


def _q_multi_match(spark, sf):
    """ES multi_match (best_fields, tie_breaker=0.3) over two analyzed
    fields — per-field sub-indexes sharing one doc-id shard split, so the
    cross-field combine happens inside each shard task (no extra
    shuffle); see engine/multifield.py. 'table' hits the text field,
    'src3' only the source field."""
    import hashlib

    from librecatastro_spark.engine.multifield import MultiFieldIndex

    src = f"{sf}/documents.parquet"
    mtime = int(os.path.getmtime(src)) if os.path.exists(src) else 0
    key = hashlib.sha256(f"{sf}:{mtime}:mf_v1".encode()).hexdigest()[:16]
    out = os.path.join("/tmp", f"lc_mf_{key}")
    docs = _docs(spark, sf)
    mf = MultiFieldIndex.build(
        spark, docs, out, fields=("text", "source"), id_col="doc_id",
        n_shards=4, block_size=64, resume=True,
    )
    return mf.multi_match("table src3", k=10, tie_breaker=0.3)


def _q_dup_clusters(spark, sf):
    """Duplicate clusters: connected components over the simhash
    near-dup pair graph — pairwise dedup made actionable (one
    representative per transitive duplicate group). Iterative min-label
    propagation, O(diameter) shuffled rounds (ops/cluster.py)."""
    from librecatastro_spark.ops.cluster import connected_components
    from librecatastro_spark.ops.dedup import simhash_near_pairs

    pairs = simhash_near_pairs(_docs(spark, sf), max_hamming=7, bands=8)
    return connected_components(pairs, a_col="doc_a", b_col="doc_b")


def _q_multi_match_cross(spark, sf):
    """multi_match type=cross_fields: term-centric combine (each term
    taken from its best field) over the same two sub-indexes."""
    import hashlib

    from librecatastro_spark.engine.multifield import MultiFieldIndex

    src = f"{sf}/documents.parquet"
    mtime = int(os.path.getmtime(src)) if os.path.exists(src) else 0
    key = hashlib.sha256(f"{sf}:{mtime}:mf_v1".encode()).hexdigest()[:16]
    out = os.path.join("/tmp", f"lc_mf_{key}")
    docs = _docs(spark, sf)
    mf = MultiFieldIndex.build(
        spark, docs, out, fields=("text", "source"), id_col="doc_id",
        n_shards=4, block_size=64, resume=True,
    )
    return mf.multi_match_cross_fields("table src3", k=10)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Exactly 50 entries — the driver's correctness file records at most
    50, so the gate set is curated (round 1 proved entries 51+ silently
    fall off). Five round-1 entries moved to extra_queries(), each
    subsumed by a surviving check: bm25_offset_page2 (B10 ↔
    wand_offset_page2), content_sha256 + doc_stats (↔
    sha_invariant_corpus_index / every rank-identical BM25 query),
    minhash_signatures (signature math re-verified inside
    dedup_minhash_lsh's oracle), simhash16 (↔ simhash_near_dup). Round 3
    rotated bm25_keyword_filter / bm25_prefix_filter / bm25_should_boost
    out (their WAND twins gate the same shapes through the production
    path) to admit glob_source_scan (A25), probe_first_gap (A19) and
    wand_match_salted (salt path at gate scale). Everything rotated out
    remains pytest-covered and oracle-checkable via tools/check_oracle.py
    --extra."""
    return {
        "bm25_match_topk": _q_match,
        "wand_match_phrase": _q_wand_match_phrase,
        "wand_fuzzy_term": _q_wand_fuzzy_term,
        "glob_source_scan": _q_glob_source_scan,
        "wand_match_salted": _q_wand_match_salted,
        "term_prefix_match": _q_term_prefix,
        "sha_invariant_corpus_index": _q_sha_invariant,
        "grid_lattice_polygon": _q_grid_lattice,
        # r5 gate rotation: the newest production paths sit under the
        # driver's own 50-entry gate — geo_distance search, rescore and
        # the positional type-ahead replace three r1-stable scalar/probe
        # shapes (now extras, still oracle-checked via --extra)
        "geo_distance_search": _q_geo_distance,
        "rescore_window": lambda spark, sf: _index(spark, sf)
        .rescore("table query", "spark merge", k=10, window_size=30,
                 query_weight=0.7, rescore_query_weight=1.3),
        "wand_match_phrase_prefix_pos": lambda spark, sf: _pos_index(spark, sf)
        .match_phrase_prefix_positional("fast s", k=10),
        "flagship_dedup_exists": _q_dedup_exists,
        "hits_total_match": _q_hits_total,
        "term_stats_top20": _q_term_stats,
        "token_count": _q_token_count,
        "wand_match_topk": _q_wand_match,
        "fastpath_match_topk": _q_fastpath_match,
        "wand_bool_must": _q_wand_bool_must,
        "wand_must_not": _q_wand_must_not,
        "wand_keyword_filter": _q_wand_filtered,
        "wand_prefix_filter": _q_wand_prefix,
        "wand_should_boost": _q_wand_should,
        "wand_offset_page2": _q_wand_offset,
        "wand_term_prefix": _q_wand_term_prefix,
        "lang_id": _q_lang_id,
        "quality_score": _q_quality,
        "dedup_exact": _q_exact_dedup,
        "dedup_ngram_jaccard": _q_jaccard,
        "dedup_minhash_lsh": _q_minhash_lsh,
        "embedding_cosine_topk": _q_cosine_topk,
        "embedding_near_dup": _q_emb_near_dup,
        "ann_lsh_topk": _q_ann_lsh,
        "ann_ivf_topk": _q_ivf,
        "doc_fingerprint": _q_fingerprint,
        "simhash_near_dup": _q_simhash_near,
        "multimodal_features": _q_multimodal_features,
        "multimodal_frame_sample": _q_frame_sample,
        "incremental_append_search": _q_incremental_search,
        "anti_join_resume": _q_anti_join,
        "upsert_last_write_wins": _q_latest_event,
        "topk_orders": _q_topk_orders,
        "wand_more_like_this": _q_wand_mlt,
        "nested_reform_exists": _q_nested_reform,
        "q1_pricing_summary": _q_q1_pricing,
        "revenue_per_nation": _q_revenue_per_nation,
        "geo_cell_agg": _q_geo_cell_agg,
        "geohash_bucket_join": _q_geohash_join,
        "polygon_filter": _q_polygon_filter,
        "address_extract": _q_address_extract,
        "coalesce_fallback_lookup": _q_coalesce_fallback,
    }


def _q_windowed_events(spark, sf):
    # event-time tumbling-window agg (batch form of the Structured
    # Streaming operator; identical plan runs on readStream — see
    # streaming/windowed.py)
    from librecatastro_spark.streaming.windowed import windowed_event_counts

    return windowed_event_counts(_t(spark, sf, "events"))


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Implemented-and-oracled queries beyond the driver's 50-entry cap
    (see queries() docstring). tools/check_oracle.py --extra gates them."""
    return {
        "bm25_offset_page2": _q_offset_page,
        "content_sha256": _q_content_sha,
        "doc_stats": _q_doc_stats,
        "minhash_signatures": _q_minhash_sig,
        "simhash16": _q_simhash16,
        "windowed_event_counts": _q_windowed_events,
        # rotated out in round 3 for glob_source_scan / probe_first_gap /
        # wand_match_salted (50-entry cap): each stays subsumed by its
        # gated WAND twin running the same query shape through the
        # production path (wand_keyword_filter / wand_prefix_filter /
        # wand_should_boost); the exact-scorer path itself remains gated
        # via bm25_match_topk / bm25_bool_must / bm25_must_not.
        "bm25_keyword_filter": _q_keyword,
        "bm25_prefix_filter": _q_prefix,
        "bm25_should_boost": _q_should_boost,
        # rotated out for wand_match_phrase (round-3 phrase capability):
        # the AND shape stays gated through the production path via
        # wand_bool_must, and the phrase gate itself exercises the same
        # require_all scoring
        "bm25_bool_must": _q_bool_must,
        # rotated out for wand_fuzzy_term (round-3 fuzzy capability): the
        # must_not shape stays gated through the production path via
        # wand_must_not
        "bm25_must_not": _q_must_not,
        # rotated out for wand_more_like_this (round-3 MLT capability):
        # two-level nesting stays gated via nested_reform_exists
        "nested_exists": _q_nested_exists,
        # exact-engine twins of the gated phrase/fuzzy/MLT queries
        "bm25_match_phrase": _q_match_phrase_exact,
        "bm25_fuzzy_term": _q_fuzzy_term_exact,
        "bm25_more_like_this": _q_mlt_exact,
        # ES highlight analog, both paths (extra-only: the 50 gated slots
        # all carry distinct capabilities already)
        "wand_highlight": _q_wand_highlight,
        "bm25_highlight": _q_highlight_exact,
        # ES search_after keyset pagination — the O(k)-per-shard deep-page
        # form (wand_offset_page2 gates the same window via offset; this
        # must return the identical page through the cursor path)
        "wand_search_after": _q_wand_search_after,
        # ES multi_match best_fields over two analyzed fields (per-field
        # sub-indexes, shard-local cross-field combine)
        "multi_match_best_fields": _q_multi_match,
        # training-pipeline ops: overlapping-token-window chunking and
        # unigram-LM quality scoring
        "doc_chunking": _q_doc_chunking,
        "unigram_logprob": _q_unigram_logprob,
        # ES field collapsing: best hit per key, keys ranked by their best
        # (the flagship dedup query's scale-clean generalization)
        "collapse_by_source": lambda spark, sf: _index(spark, sf)
        .collapse_search("table query", "source", k=5),
        # ES range query on a numeric attr — bounds pushed to the attrs scan
        "range_filter_search": lambda spark, sf: _index(spark, sf)
        .search("table query", k=10, ranges={"n_chars": (120, 220)}),
        # ES terms aggregation over the full match set (exact, unlike ES)
        "facet_counts_source": lambda spark, sf: _index(spark, sf)
        .facet_counts("table query", "source", top_n=10),
        # ES terms query: multi-value keyword filter pushed as In(...)
        "terms_filter_search": lambda spark, sf: _index(spark, sf)
        .search("table query", k=10, filters={"source": ["src1", "src4"]}),
        # ES completion-suggester lite: prefix -> top dictionary terms
        "suggest_terms": lambda spark, sf: _index(spark, sf)
        .suggest_terms("s", k=10),
        # sloppy phrase (per-gap slop: the positional kernel chains
        # positions under the rule of the RE2 oracle twin —
        # analyzer._phrase_body)
        "wand_match_phrase_slop": lambda spark, sf: _pos_index(spark, sf)
        .match_phrase("scan merge", k=10, slop=2),
        "bm25_match_phrase_slop": lambda spark, sf: _engine(spark, sf)
        .match_phrase("scan merge", k=10, slop=2),
        # positional-postings phrase path (index_options="positions") on
        # the stop-list index: a phrase spanning a stopword is adjacent
        # in the stop-filtered stream the positions index; the oracle
        # matches the phrase over that filtered token stream.
        "wand_match_phrase_pos": _q_wand_match_phrase_pos,
        "wand_match_phrase_pos_slop": _q_wand_match_phrase_pos_slop,
        # type-ahead phrase, index-only (r4): complete-term position
        # r5 gate rotation: three r1-stable shapes moved here from the
        # gated set (their slots now exercise geo/rescore/type-ahead);
        # still oracle-checked every sweep via --extra
        "probe_first_gap": _q_probe_first_gap,
        "scalar_encode_b64_json": _q_scalar_encode,
        "sample_search_det": _q_sample_search,
        # ES compound scoring queries (engine/score_queries.py): transforms
        # apply to RAW sums with ONE final round (cross-engine protocol)
        "function_score_field": lambda spark, sf: _index(spark, sf)
        .function_score("table query", "n_chars", k=10, modifier="log1p",
                        factor=0.01, boost_mode="multiply"),
        "bm25_function_score": lambda spark, sf: _engine(spark, sf)
        .function_score("table query", "n_chars", k=10, modifier="log1p",
                        factor=0.01, boost_mode="multiply"),
        "dis_max_clauses": lambda spark, sf: _index(spark, sf)
        .dis_max(["table query", "merge sort"], k=10, tie_breaker=0.3),
        "bm25_dis_max": lambda spark, sf: _engine(spark, sf)
        .dis_max(["table query", "merge sort"], k=10, tie_breaker=0.3),
        "boosting_demote": lambda spark, sf: _index(spark, sf)
        .boosting("table query", "merge", k=10, negative_boost=0.4),
        "bm25_boosting": lambda spark, sf: _engine(spark, sf)
        .boosting("table query", "merge", k=10, negative_boost=0.4),
        # ES constant_score + ids query (In on the primary key)
        "constant_score_ids": lambda spark, sf: _index(spark, sf)
        .constant_score(k=20, boost=2.0, filters={"lang": "en"},
                        ids=_CS_IDS),
        # ES filters / range aggregations: named and numeric buckets over
        # the match set, per-shard map-side combine (O(shards x buckets))
        "filters_agg_buckets": lambda spark, sf: _index(spark, sf)
        .filters_agg("table query", {
            "en_src1": {"lang": "en", "source": "src1"},
            "de_docs": {"lang": "de"},
        }),
        "range_agg_nchars": lambda spark, sf: _index(spark, sf)
        .range_agg("table query", "n_chars",
                   [(None, 150), (150, 250), (250, None)]),
        # ES exists query as a search filter (IsNotNull pushed to the scan)
        "exists_filter_search": lambda spark, sf: _index(spark, sf)
        .search("table query", k=10, exists_cols=["source"],
                filters={"lang": "en"}),
        # index write API: delete_batch (ES _delete_by_query analog) —
        # queries over the mutated index must equal BM25 over the corpus
        # MINUS the victims with N/avgdl/df all recomputed (stronger than
        # ES tombstones); update_batch = index-level last-write-wins
        "delete_then_search": lambda spark, sf: _del_index(spark, sf)
        .search("table query", k=10),
        "update_then_search": lambda spark, sf: _upd_index(spark, sf)
        .search("zzzupdated marker table", k=10, require_all=False),
        # ES match_phrase_prefix ("type-ahead phrase"): complete terms
        # adjacent, then a token starting with the last analyzed token;
        # scored on the complete terms only (documented divergence from
        # ES's max_expansions-dependent expansion scoring)
        "wand_match_phrase_prefix": lambda spark, sf: _pos_index(spark, sf)
        .match_phrase_prefix("fast s", k=10),
        "bm25_match_phrase_prefix": lambda spark, sf: _engine(spark, sf)
        .match_phrase_prefix("fast s", k=10),
        # ES minimum_should_match: >= m distinct matched terms, all three
        # paths (production WAND, coordinator fast path, exact oracle)
        "wand_min_should_match": lambda spark, sf: _index(spark, sf)
        .search("spark merge window batch", k=10, min_match=3),
        "bm25_min_should_match": lambda spark, sf: _engine(spark, sf)
        .search("spark merge window batch", k=10, min_match=3),
        "fastpath_min_should_match": lambda spark, sf: spark.createDataFrame(
            [
                (int(r.doc_id), float(r.score))
                for r in _index(spark, sf)
                .search_local("spark merge window batch", k=10, min_match=3)
                .itertuples()
            ],
            "doc_id long, score double",
        ),
        # ES wildcard / regexp term queries: dictionary expansion (vocab
        # scan, prefix range pushed for wildcard) -> In(term) postings scan
        "wildcard_term_search": lambda spark, sf: _index(spark, sf)
        .wildcard_term_search("s?a*", k=10),
        "regexp_term_search": lambda spark, sf: _index(spark, sf)
        .regexp_term_search("(bat|dat|has)[a-z]+", k=10),
        # ES aggregations over the FULL match set (stats / histogram /
        # cardinality / top_hits) — per-shard map-side combine throughout
        "stats_agg_nchars": lambda spark, sf: _index(spark, sf)
        .stats_agg("spark", "n_chars"),
        "histogram_agg_nchars": lambda spark, sf: _index(spark, sf)
        .histogram_agg("spark", "n_chars", 25),
        "cardinality_agg_source": lambda spark, sf: _index(spark, sf)
        .cardinality_agg("spark", "source"),
        "top_hits_by_source": lambda spark, sf: _index(spark, sf)
        .top_hits_agg("table query", "source", k_per_group=2, n_groups=3),
        # ES terms agg WITH SUB-AGGREGATIONS: per-bucket count + numeric
        # metrics, exact, O(shards x keys) shuffle (the dashboard shape)
        "facet_metric_agg_source": lambda spark, sf: _index(spark, sf)
        .facet_metric_agg("spark", "source", "n_chars", top_n=10),
        # ES date_histogram (calendar intervals — months are calendar
        # months, not fixed windows) over the events table, per type
        "date_histogram_events": lambda spark, sf: __import__(
            "librecatastro_spark.ops.events", fromlist=["date_histogram"]
        ).date_histogram(
            spark.read.parquet(f"{sf}/events.parquet"), "day", by_type=True
        ),
        # ES percentiles agg — EXACT interpolated quantiles (ES ships a
        # t-digest); O(matches) value shuffle is the documented cost
        "percentiles_agg_nchars": lambda spark, sf: _index(spark, sf)
        .percentiles_agg("spark", "n_chars", [25.0, 50.0, 75.0, 95.0]),
        # ES composite agg — keyset-paginated bucket export: page 2 of
        # the source buckets, resuming after 'src12'
        "composite_agg_page2": lambda spark, sf: _index(spark, sf)
        .composite_agg("spark", "source", size=4, after="src12"),
        # ES significant_terms: JLH-scored over-representation of the
        # match set's terms vs the index background (exact, unlike ES)
        "significant_terms_dup": lambda spark, sf: _index(spark, sf)
        .significant_terms(
            "dup", _docs(spark, sf), top_n=10,
            source_id_col="doc_id", source_text_col="text",
        ),
        # multi_match type=cross_fields (term-centric combine)
        "multi_match_cross_fields": _q_multi_match_cross,
        # duplicate clusters: connected components over near-dup pairs
        "dup_clusters": _q_dup_clusters,
        # exactness baseline for the gated banded near-dup (its oracle is
        # the exact cross-product, so this pairing keeps BOTH the exact
        # semantics and the approximate scale path oracle-checked)
        "embedding_near_dup_exact": _q_emb_near_dup_exact,
        # scale-path simhash drop-list (distinct-sig collapse + combo keys)
        "simhash_dedup_scaled": _q_simhash_dedup,
        # the curation ops chained end-to-end (ops/pipeline.py)
        "training_data_pipeline": _q_training_pipeline,
        # …and the same chain batch-by-batch against durable state,
        # gated against the ONE-SHOT twin (streaming/curation.py)
        "incremental_curation": _q_incremental_curation,
        # benchmark decontamination: broadcast n-gram probe set from a
        # deterministic "eval slice" (doc_id % 97 == 0), one doc-keyed
        # shuffle (ops/decontaminate.py)
        "decontaminate_ngram": _q_decontaminate,
        # Gopher-style repetition filters: top-bigram fraction via a
        # shuffle-free sorted-run fold; oracle recomputes it the
        # set-based way (ops/text.py repetition_signals)
        "repetition_signals": _q_repetition_signals,
        # PII scrub (email/IP/phone regex families, sequential passes,
        # Catalyst codegen) over a deterministically salted corpus
        "redact_pii": _q_redact_pii,
        # CCNet/Dolma paragraph-level dedup: global paragraph df counts,
        # duplicate set broadcast back, order-preserving rebuild
        # (ops/dedup.py dedup_paragraphs)
        "dedup_paragraphs": lambda spark, sf: __import__(
            "librecatastro_spark.ops.dedup", fromlist=["dedup_paragraphs"]
        ).dedup_paragraphs(_docs(spark, sf), para_tokens=3, min_df=2),
        # sequence packing for pretraining: bucket-parallel cumulative
        # token windows, seq_id = floor(begin/budget) (ops/chunk.py)
        "pack_sequences": lambda spark, sf: __import__(
            "librecatastro_spark.ops.chunk", fromlist=["pack_sequences"]
        ).pack_sequences(_docs(spark, sf), budget=200, n_buckets=4,
                         text_col="text"),
        # deterministic stratified sampling (domain mixing): md5-bucket
        # survival per lang rate, pure Catalyst (ops/sampling.py)
        "stratified_sample": lambda spark, sf: __import__(
            "librecatastro_spark.ops.sampling", fromlist=["stratified_sample"]
        ).stratified_sample(
            _docs(spark, sf), {"en": 0.8, "de": 0.25, "fr": 0.5}
        ),
        # ES geo_bounding_box query (r4): the pure-Catalyst bbox filter
        # (half-open [lo, hi) bounds pushed to the scan — ops/geo.py
        # bbox_filter, the same predicate the polygon/radius pruners use)
        "geo_bbox_search": lambda spark, sf: __import__(
            "librecatastro_spark.ops.geo", fromlist=["bbox_filter"]
        ).bbox_filter(
            _synth_points(spark, sf), (-70.0, -10.0, -40.0, 15.0)
        ).select("c_custkey").orderBy("c_custkey"),
        # ES geo_distance AGGREGATION (r4): distance-ring buckets from an
        # origin over the match set — range_agg's map-side-combine shape
        # with the shared haversine as the ring metric (engine/wand.py
        # geo_distance_agg over the lon/lat-attr geo index)
        "geo_distance_ring_agg": lambda spark, sf: _geo_index(spark, sf)
        .geo_distance_agg("spark", "lon", "lat", 0.0, 0.0, _GEO_RINGS),
        # ES _source/docvalue_fields (r4): top-k hits decorated with
        # stored attr columns — In(doc_id) pushed to the attrs scan,
        # O(hits) row groups at any corpus size
        "search_fetch_fields": _q_search_fetch_fields,
        # ES pinned query (r4): promoted ids first in list order (scores
        # PINNED_BASE - i, absent ids skipped), organic hits below with
        # the pinned set excluded (engine/score_queries.py pinned_compose)
        "pinned_promoted": lambda spark, sf: _index(spark, sf)
        .pinned([42, 7, 999999999, 13], "table query", k=10),
        # ES geo_polygon as a search FILTER clause (r5): BM25 search with
        # geo=(lon, lat, polygon) — the reference's flagship geo
        # predicate (geo_polygon.py:36-54) as a first-class filter;
        # vertex-bbox prune pushed to the attrs scan, exact Arrow ray
        # cast on survivors (ops/geo.py geo_clause_cond). The diamond is
        # convex and lattice-safe, so the ray cast equals the oracle's
        # half-plane inequality exactly
        "geo_polygon_search": lambda spark, sf: _geo_index(spark, sf)
        .search("spark", k=10_000, geo=("lon", "lat", _GEO_POLY)),
        # ES nested query WITH scoring (r5): inner docs scored as
        # independent BM25 documents (the ES nested→Lucene mapping),
        # matching inner scores combined per parent via score_mode
        # (engine/nested.py — avg here); parent = doc_id DIV 8 makes the
        # documents table the inner-doc space, so the oracle reuses the
        # standard token CTE verbatim
        "nested_scored_match": lambda spark, sf: __import__(
            "librecatastro_spark.engine.nested",
            fromlist=["nested_scored_match"],
        ).nested_scored_match(
            _docs(spark, sf).withColumn("parent", F.expr("doc_id DIV 8")),
            "spark merge", parent_col="parent", k=10, score_mode="avg",
        ),
        # stopword analyzer (r5): the ES stop token filter recorded in
        # meta and honored end-to-end — the query's stopword vanishes at
        # analysis, and df/dl/avgdl all reflect the FILTERED token
        # stream (the oracle applies the same NOT IN in its token CTE)
        "match_stopword_analyzer": lambda spark, sf: _stop_index(spark, sf)
        .search("the table query", k=10),
        # synonym analyzer (r5): the ES synonym filter (replace form)
        # recorded in meta and honored end-to-end — the surface form in
        # the query maps to its canonical at analysis, and df/cf merge
        # the two forms' postings (the oracle applies the same CASE WHEN
        # in its token CTE). Query uses the SURFACE form to prove the
        # query-side mapping too.
        "match_synonym_analyzer": lambda spark, sf: _syn_index(spark, sf)
        .search("join sort", k=10),
    }


def oracle_sql() -> dict[str, str]:
    return {
        "bm25_match_topk": _bm25_oracle("spark join merge", k=10),
        "bm25_bool_must": _bm25_oracle("table window batch", k=10, require_all=True),
        "wand_match_phrase": _bm25_oracle(
            "scan merge", k=10, require_all=True, phrase=True
        ),
        "bm25_match_phrase": _bm25_oracle(
            "scan merge", k=10, require_all=True, phrase=True
        ),
        "bm25_must_not": _bm25_oracle("spark", k=10, must_not_text="window"),
        "bm25_keyword_filter": _bm25_oracle("merge sort", k=10, filters={"source": "src3"}),
        "bm25_prefix_filter": _bm25_oracle("query scan", k=10, prefix=("source", "src1")),
        "bm25_should_boost": _bm25_oracle(
            "join merge", k=10, should_text="window stream"
        ),
        "bm25_offset_page2": _bm25_oracle("table query", k=10, offset=10),
        "term_prefix_match": f"""
WITH {_TOKS_CTE}
SELECT doc_id, 1.0::DOUBLE AS score FROM (
  SELECT DISTINCT doc_id FROM toks WHERE term LIKE 's%'
) ORDER BY doc_id ASC LIMIT 10
""",
        # fuzzy: classic Levenshtein (duckdb levenshtein == Spark
        # F.levenshtein), constant score, doc_id order — same contract
        # as term_prefix_match
        "wand_fuzzy_term": f"""
WITH {_TOKS_CTE}
SELECT doc_id, 1.0::DOUBLE AS score FROM (
  SELECT DISTINCT doc_id FROM toks WHERE levenshtein(term, 'marge') <= 1
) ORDER BY doc_id ASC LIMIT 10
""",
        "bm25_fuzzy_term": f"""
WITH {_TOKS_CTE}
SELECT doc_id, 1.0::DOUBLE AS score FROM (
  SELECT DISTINCT doc_id FROM toks WHERE levenshtein(term, 'marge') <= 1
) ORDER BY doc_id ASC LIMIT 10
""",
        "wand_more_like_this": _mlt_oracle(7, k=10, max_query_terms=8, min_doc_freq=2),
        "bm25_more_like_this": _mlt_oracle(7, k=10, max_query_terms=8, min_doc_freq=2),
        "wand_highlight": _highlight_oracle("spark join merge", k=10),
        "bm25_highlight": _highlight_oracle("spark join merge", k=10),
        "content_sha256": "SELECT doc_id, sha256(text) AS sha FROM documents",
        "sha_invariant_corpus_index": """
SELECT count(*)::BIGINT AS n_docs, 0::BIGINT AS n_mismatch FROM documents
""",
        "scalar_encode_b64_json": """
SELECT doc_id, to_base64(encode(substring(text, 1, 48))) AS b64,
       to_json(struct_pack(lang := lang, source := source)) AS js
FROM documents
""",
        "sample_search_det": """
SELECT o_orderkey FROM orders
ORDER BY md5(o_orderkey::VARCHAR), o_orderkey ASC LIMIT 10
""",
        "grid_lattice_polygon": """
WITH pts AS (
  SELECT x / 1.0 AS lon, y / 1.0 AS lat
  FROM generate_series(-30, 30) AS t1(x), generate_series(-21, 20) AS t2(y)
)
SELECT lon, lat FROM pts
WHERE (30.0 * (lat + 20.05) - 20.1 * (lon - 0.05)) > 0
  AND (-30.0 * (lat - 0.05) - 20.0 * (lon - 30.05)) > 0
  AND (-30.0 * (lat - 20.05) + 20.0 * (lon - 0.05)) > 0
  AND (30.0 * (lat - 0.05) + 20.1 * (lon + 29.95)) > 0
""",
        "flagship_dedup_exists": """
SELECT count(*) AS total_hits, count(*) > 0 AS found FROM (
  SELECT doc_id FROM documents
  WHERE lang = 'en' AND source LIKE 'src1%' LIMIT 11
)
""",
        "hits_total_match": f"""
WITH {_TOKS_CTE}
SELECT count(DISTINCT doc_id) AS total_hits FROM toks WHERE term IN ('spark')
""",
        "term_stats_top20": f"""
WITH {_TOKS_CTE}
SELECT term, count(*)::BIGINT AS df, sum(cnt)::BIGINT AS cf FROM (
  SELECT doc_id, term, count(*) AS cnt FROM toks GROUP BY 1, 2
) GROUP BY term ORDER BY df DESC, term ASC LIMIT 20
""",
        "doc_stats": f"""
WITH {_TOKS_CTE}
SELECT count(*)::BIGINT AS n_docs, round(avg(dl), {ROUND_DECIMALS}) AS avgdl FROM dl
""",
        "token_count": f"""
SELECT doc_id, len({duckdb_tokens_sql('text')})::INT AS n_tokens FROM documents
""",
        "wand_match_topk": _bm25_oracle("spark join merge", k=10),
        "fastpath_match_topk": _bm25_oracle("spark join merge", k=10),
        "wand_bool_must": _bm25_oracle("table window batch", k=10, require_all=True),
        "wand_must_not": _bm25_oracle("spark", k=10, must_not_text="window"),
        "wand_keyword_filter": _bm25_oracle("merge sort", k=10, filters={"source": "src3"}),
        "wand_prefix_filter": _bm25_oracle("query scan", k=10, prefix=("source", "src1")),
        "wand_should_boost": _bm25_oracle(
            "join merge", k=10, should_text="window stream"
        ),
        "wand_offset_page2": _bm25_oracle("table query", k=10, offset=10),
        "wand_search_after": _bm25_oracle("table query", k=10, search_after=True),
        "multi_match_best_fields": _multi_match_oracle(
            "table src3", fields=["text", "source"], tie_breaker=0.3, k=10
        ),
        "doc_chunking": duckdb_chunks_sql(max_tokens=40, overlap=8, text_col="text"),
        "unigram_logprob": unigram_logprob_sql("text"),
        "collapse_by_source": _collapse_oracle("table query", "source", k=5),
        "range_filter_search": _bm25_oracle(
            "table query", k=10, ranges={"n_chars": (120, 220)}
        ),
        "terms_filter_search": _bm25_oracle(
            "table query", k=10, filters={"source": ["src1", "src4"]}
        ),
        "multi_match_cross_fields": _multi_match_oracle(
            "table src3", fields=["text", "source"], tie_breaker=0.0,
            k=10, cross_fields=True,
        ),
        "suggest_terms": f"""
WITH {_TOKS_CTE}
SELECT term, count(DISTINCT doc_id)::BIGINT AS df
FROM toks
WHERE term LIKE 's%'
GROUP BY term
ORDER BY df DESC, term ASC
LIMIT 10""",
        "facet_counts_source": f"""
WITH {_TOKS_CTE},
matched AS (
  SELECT DISTINCT doc_id FROM toks WHERE term IN ({_sql_terms('table query')})
)
SELECT d.source AS facet_key, count(*)::BIGINT AS cnt
FROM matched m JOIN documents d USING (doc_id)
GROUP BY d.source
ORDER BY cnt DESC, facet_key ASC
LIMIT 10""",
        "wand_match_phrase_slop": _bm25_oracle(
            "scan merge", k=10, require_all=True, phrase=True, phrase_slop=2
        ),
        "bm25_match_phrase_slop": _bm25_oracle(
            "scan merge", k=10, require_all=True, phrase=True, phrase_slop=2
        ),
        "wand_match_phrase_pos": _stop_phrase_oracle("scan the merge"),
        "wand_match_phrase_pos_slop": _stop_phrase_oracle("scan the merge", slop=2),
        "function_score_field": _function_score_oracle(
            "table query", "n_chars", "log1p", 0.01, "multiply", k=10
        ),
        "bm25_function_score": _function_score_oracle(
            "table query", "n_chars", "log1p", 0.01, "multiply", k=10
        ),
        "dis_max_clauses": _dis_max_oracle(
            ["table query", "merge sort"], 0.3, k=10
        ),
        "bm25_dis_max": _dis_max_oracle(
            ["table query", "merge sort"], 0.3, k=10
        ),
        "boosting_demote": _boosting_oracle("table query", "merge", 0.4, k=10),
        "bm25_boosting": _boosting_oracle("table query", "merge", 0.4, k=10),
        "constant_score_ids": f"""
SELECT doc_id, 2.0::DOUBLE AS score FROM documents
WHERE lang = 'en' AND doc_id IN ({", ".join(str(i) for i in _CS_IDS)})
ORDER BY doc_id ASC LIMIT 20""",
        "exists_filter_search": _bm25_oracle(
            "table query", k=10, filters={"lang": "en"},
            exists_cols=["source"],
        ),
        "filters_agg_buckets": f"""
WITH toks AS (
  SELECT doc_id, unnest({duckdb_tokens_sql('text')}) AS term FROM documents
),
matched AS (
  SELECT DISTINCT doc_id FROM toks
  WHERE term IN ({_sql_terms("table query")})
),
m AS (SELECT d.* FROM documents d JOIN matched USING (doc_id))
SELECT * FROM (
  SELECT 'de_docs' AS bucket,
         (SELECT count(*) FROM m WHERE lang = 'de')::BIGINT AS cnt
  UNION ALL
  SELECT 'en_src1',
         (SELECT count(*) FROM m WHERE lang = 'en' AND source = 'src1')::BIGINT
) ORDER BY bucket""",
        "range_agg_nchars": f"""
WITH toks AS (
  SELECT doc_id, unnest({duckdb_tokens_sql('text')}) AS term FROM documents
),
matched AS (
  SELECT DISTINCT doc_id FROM toks
  WHERE term IN ({_sql_terms("table query")})
),
m AS (SELECT d.n_chars::DOUBLE AS v FROM documents d JOIN matched USING (doc_id))
SELECT bucket, cnt FROM (
  SELECT '*-150' AS bucket, (SELECT count(*) FROM m WHERE v < 150)::BIGINT AS cnt, 0 AS o
  UNION ALL
  SELECT '150-250', (SELECT count(*) FROM m WHERE v >= 150 AND v < 250)::BIGINT, 1
  UNION ALL
  SELECT '250-*', (SELECT count(*) FROM m WHERE v >= 250)::BIGINT, 2
) ORDER BY o""",
        "delete_then_search": _mutated_bm25_oracle(
            "table query", 10,
            "WHERE doc_id NOT IN (%s)" % ", ".join(map(str, _DEL_IDS)),
        ),
        "update_then_search": _mutated_bm25_oracle(
            "zzzupdated marker table", 10, "",
            text_expr=(
                "CASE WHEN doc_id IN (%s) THEN text || '%s' ELSE text END"
                % (", ".join(map(str, _UPD_IDS)), _UPD_MARK)
            ),
        ),
        "wand_match_phrase_prefix": _bm25_oracle(
            "fast", k=10, require_all=True, phrase_prefix="s"
        ),
        "wand_match_phrase_prefix_pos": _bm25_oracle(
            "fast", k=10, require_all=True, phrase_prefix="s"
        ),
        "bm25_match_phrase_prefix": _bm25_oracle(
            "fast", k=10, require_all=True, phrase_prefix="s"
        ),
        "wand_min_should_match": _bm25_oracle(
            "spark merge window batch", k=10, min_match=3
        ),
        "bm25_min_should_match": _bm25_oracle(
            "spark merge window batch", k=10, min_match=3
        ),
        "fastpath_min_should_match": _bm25_oracle(
            "spark merge window batch", k=10, min_match=3
        ),
        "significant_terms_dup": f"""
WITH {_TOKS_CTE},
matched AS (SELECT DISTINCT doc_id FROM toks WHERE term IN ({_sql_terms('dup')})),
nfg AS (SELECT count(*)::DOUBLE AS n_fg FROM matched),
fg AS (
  SELECT term, count(DISTINCT doc_id)::DOUBLE AS fg
  FROM toks JOIN matched USING (doc_id) GROUP BY term
),
bg AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM toks GROUP BY term),
nn AS (SELECT count(*)::DOUBLE AS n FROM documents)
SELECT term, fg::BIGINT AS fg,
       round((fg/n_fg - df/n) * ((fg/n_fg) / (df/n)), {ROUND_DECIMALS}) AS score
FROM fg JOIN bg USING (term) CROSS JOIN nfg CROSS JOIN nn
WHERE fg/n_fg > df/n
ORDER BY score DESC, term ASC
LIMIT 10""",
        # wildcard 's?a*' == LIKE 's_a%' (same anchored-term semantics)
        "wildcard_term_search": f"""
WITH {_TOKS_CTE}
SELECT doc_id, 1.0::DOUBLE AS score FROM (
  SELECT DISTINCT doc_id FROM toks WHERE term LIKE 's_a%'
) ORDER BY doc_id ASC LIMIT 10
""",
        "regexp_term_search": f"""
WITH {_TOKS_CTE}
SELECT doc_id, 1.0::DOUBLE AS score FROM (
  SELECT DISTINCT doc_id FROM toks
  WHERE regexp_full_match(term, '(bat|dat|has)[a-z]+')
) ORDER BY doc_id ASC LIMIT 10
""",
        "stats_agg_nchars": f"""
WITH {_TOKS_CTE},
matched AS (
  SELECT DISTINCT doc_id FROM toks WHERE term IN ({_sql_terms('spark')})
)
SELECT count(*)::BIGINT AS cnt,
       min(n_chars)::DOUBLE AS min_val,
       max(n_chars)::DOUBLE AS max_val,
       sum(n_chars)::DOUBLE AS sum_val,
       round(sum(n_chars)::DOUBLE / count(*), {ROUND_DECIMALS}) AS avg_val
FROM matched JOIN documents USING (doc_id)""",
        "histogram_agg_nchars": f"""
WITH {_TOKS_CTE},
matched AS (
  SELECT DISTINCT doc_id FROM toks WHERE term IN ({_sql_terms('spark')})
)
SELECT floor(n_chars::DOUBLE / 25) * 25 AS bucket, count(*)::BIGINT AS cnt
FROM matched JOIN documents USING (doc_id)
GROUP BY 1 ORDER BY 1""",
        "facet_metric_agg_source": f"""
WITH {_TOKS_CTE},
matched AS (
  SELECT DISTINCT doc_id FROM toks WHERE term IN ({_sql_terms('spark')})
)
SELECT source AS facet_key, count(*)::BIGINT AS cnt,
       min(n_chars)::DOUBLE AS min_val,
       max(n_chars)::DOUBLE AS max_val,
       round(sum(n_chars)::DOUBLE / count(*), {ROUND_DECIMALS}) AS avg_val
FROM matched JOIN documents USING (doc_id)
GROUP BY 1 ORDER BY cnt DESC, facet_key ASC LIMIT 10""",
        "date_histogram_events": date_histogram_sql("day", by_type=True),
        "percentiles_agg_nchars": f"""
WITH {_TOKS_CTE},
matched AS (
  SELECT DISTINCT doc_id FROM toks WHERE term IN ({_sql_terms('spark')})
),
v AS (SELECT n_chars::DOUBLE AS val FROM matched JOIN documents USING (doc_id)),
q AS (SELECT quantile_cont(val, [0.25, 0.5, 0.75, 0.95]) AS qs FROM v)
SELECT ([25.0, 50.0, 75.0, 95.0][i])::DOUBLE AS pct,
       round(qs[i], {ROUND_DECIMALS}) AS value
FROM q CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS i)
ORDER BY pct""",
        "composite_agg_page2": f"""
WITH {_TOKS_CTE},
matched AS (
  SELECT DISTINCT doc_id FROM toks WHERE term IN ({_sql_terms('spark')})
)
SELECT source AS facet_key, count(*)::BIGINT AS cnt
FROM matched JOIN documents USING (doc_id)
WHERE source > 'src12'
GROUP BY 1 ORDER BY 1 LIMIT 4""",
        "cardinality_agg_source": f"""
WITH {_TOKS_CTE},
matched AS (
  SELECT DISTINCT doc_id FROM toks WHERE term IN ({_sql_terms('spark')})
)
SELECT count(DISTINCT source)::BIGINT AS cardinality
FROM matched JOIN documents USING (doc_id)""",
        "top_hits_by_source": f"""
WITH {_TOKS_CTE},
dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf
        WHERE term IN ({_sql_terms('table query')}) GROUP BY 1),
scored AS (
  SELECT tf.doc_id, sum({bm25_sql('tf.tf', 'dfq.df', 'dl.dl', 'g.n', 'g.avgdl')}) AS raw
  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN g
  WHERE tf.term IN ({_sql_terms('table query')}) GROUP BY tf.doc_id
),
ranked AS (
  SELECT s.doc_id, round(s.raw, {ROUND_DECIMALS}) AS score, d.source AS group_key
  FROM scored s JOIN documents d USING (doc_id)
),
inkey AS (
  SELECT *, row_number() OVER (
              PARTITION BY group_key ORDER BY score DESC, doc_id ASC) AS rn,
         max(score) OVER (PARTITION BY group_key) AS best
  FROM ranked
),
keys AS (
  SELECT group_key FROM (
    SELECT group_key, dense_rank() OVER (ORDER BY best DESC, group_key ASC) AS kr
    FROM (SELECT DISTINCT group_key, best FROM inkey)
  ) WHERE kr <= 3
)
SELECT doc_id, score, group_key
FROM inkey JOIN keys USING (group_key)
WHERE rn <= 2
ORDER BY score DESC, doc_id ASC""",
        "wand_term_prefix": f"""
WITH {_TOKS_CTE}
SELECT doc_id, 1.0::DOUBLE AS score FROM (
  SELECT DISTINCT doc_id FROM toks WHERE term LIKE 's%'
) ORDER BY doc_id ASC LIMIT 10
""",
        # A25: the glob selected exactly the per-lang files — any decoy
        # leak (duplicate-row parquet) breaks every count/sum below
        "glob_source_scan": """
SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars
FROM documents GROUP BY lang
""",
        # A19: probe-until-10-consecutive-misses, aggregated per key
        "probe_first_gap": f"""
SELECT l_orderkey, count(*)::BIGINT AS n_reached, max(l_quantity) AS max_qty
FROM ({_probe_scan_sql()}) GROUP BY l_orderkey
""",
        # salted build is rank-identical to the plain BM25 oracle
        "wand_match_salted": _bm25_oracle("spark join merge", k=10),
        **_ops_oracles(),
    }


def _probe_scan_sql() -> str:
    from librecatastro_spark.ops.probe import bounded_probe_scan_sql

    return bounded_probe_scan_sql("lineitem", "l_orderkey", "l_quantity", 10)


def _address_extract_oracle() -> str:
    from librecatastro_spark.ops.address import (
        _sql_lines,
        address_fields_sql,
        city_base_sql,
    )

    return f"""
WITH {_ADDR_SRC_SQL},
{_sql_lines('full_address').strip().rstrip()}
, base AS (SELECT *, {city_base_sql()} AS _city_base FROM split)
SELECT c_custkey, full_address, {address_fields_sql()} FROM base
"""


def _ops_oracles() -> dict[str, str]:
    from librecatastro_spark.ops.dedup import (
        exact_duplicates_sql,
        jaccard_pairs_sql,
        minhash_lsh_pairs_sql,
        minhash_signature_sql,
        simhash16_sql,
        simhash_dedup_sql,
        simhash_near_pairs_sql,
    )
    from librecatastro_spark.ops.pipeline import training_data_pipeline_sql
    from librecatastro_spark.ops.similarity import (
        ann_lsh_topk_sql,
        embedding_near_dup_banded_sql,
        ivf_topk_sql,
    )
    from librecatastro_spark.ops.text import (
        fingerprint_sql,
        lang_id_sql,
        quality_score_sql,
    )

    cos = (
        "round(list_sum(list_transform(list_zip(e.embedding::DOUBLE[], {b}), p -> p[1] * p[2]))"
        " / (sqrt(list_sum(list_transform(e.embedding::DOUBLE[], x -> x * x)))"
        " * sqrt(list_sum(list_transform({b}, x -> x * x)))), 4)"
    )
    return {
        "lang_id": f"SELECT doc_id, {lang_id_sql('text')} AS lang_pred FROM documents",
        "quality_score": f"SELECT doc_id, {quality_score_sql('text')} AS quality FROM documents",
        "dedup_exact": exact_duplicates_sql(),
        "dedup_ngram_jaccard": jaccard_pairs_sql(threshold=0.5),
        # banded twin (same minhash fold, band keys, and verify as the
        # engine) so the oracle is corpus-independent; recall vs the
        # exact dedup_ngram_jaccard gate is pytest-measured
        "dedup_minhash_lsh": minhash_lsh_pairs_sql(
            threshold=0.5, n_hashes=32, bands=16
        ),
        "minhash_signatures": minhash_signature_sql(n_hashes=8),
        "simhash16": f"SELECT doc_id, {simhash16_sql('text')} AS simhash16 FROM documents",
        "simhash_near_dup": simhash_near_pairs_sql(max_hamming=7),
        "dup_clusters": _dup_clusters_oracle(),
        "simhash_dedup_scaled": simhash_dedup_sql(),
        "doc_fingerprint": (
            f"SELECT doc_id, {fingerprint_sql('text')} AS fingerprint FROM documents"
        ),
        "ann_ivf_topk": ivf_topk_sql(query_id=0, k=10, n_cells=8, n_probe=2),
        # LSH twin: the seeded hyperplanes frozen as SQL literals (same
        # pattern as the IVF oracle) — closes the r1 no_oracle gap
        "ann_lsh_topk": ann_lsh_topk_sql(query_id=0, k=10, dim=64, n_planes=6, seed=13),
        "embedding_cosine_topk": f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id AS vec_id, {cos.format(b='q.qv')} AS cosine
FROM embeddings e, q
ORDER BY cosine DESC, vec_id ASC LIMIT 10
""",
        # banded-LSH twin: the seeded planes frozen as SQL literals so the
        # oracle computes the SAME candidate set as the Spark path on any
        # corpus — an approximate operator cannot be gated against the
        # exact cross product (it misses 13/920 pairs at sf0.1; recall vs
        # brute force stays pytest-measured)
        "embedding_near_dup": embedding_near_dup_banded_sql(
            threshold=0.4, dim=64, n_planes=16, bands=8, seed=13
        ),
        # the exact all-pairs baseline (extra_queries) against the exact
        # cross-product twin
        "training_data_pipeline": training_data_pipeline_sql(),
        # incremental curation converges to the one-shot pipeline — same twin
        "incremental_curation": training_data_pipeline_sql(),
        "decontaminate_ngram": decontaminate_sql(
            "doc_id % 97 = 0", text_col="text", n=5
        ),
        "repetition_signals": repetition_signals_sql("text"),
        "dedup_paragraphs": dedup_paragraphs_sql(para_tokens=3, min_df=2),
        "pack_sequences": pack_sequences_sql(budget=200, n_buckets=4),
        "stratified_sample": stratified_sample_sql(
            {"en": 0.8, "de": 0.25, "fr": 0.5}
        ),
        "redact_pii": f"""
WITH pii_docs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0 THEN text || '{_PII_TAIL}' ELSE text END AS text
  FROM documents
)
{redact_pii_sql(source='pii_docs')}""",
        "embedding_near_dup_exact": f"""
SELECT e.vec_id AS vec_a, b.vec_id AS vec_b, {cos.format(b='b.embedding::DOUBLE[]')} AS cosine
FROM embeddings e JOIN embeddings b ON e.vec_id < b.vec_id
WHERE {cos.format(b='b.embedding::DOUBLE[]')} >= 0.4
""",
        "multimodal_frame_sample": """
SELECT doc_id::VARCHAR AS media_id,
       unnest(generate_series(0, greatest(n_chars - 1, 0), 1000))::BIGINT AS frame_ts_ms
FROM documents
""",
        "incremental_append_search": _bm25_oracle("spark join merge", k=10),
        "anti_join_resume": """
SELECT c_custkey FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
""",
        "upsert_last_write_wins": """
SELECT user_id, event_type, event_id, value FROM events
QUALIFY row_number() OVER (
  PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1
""",
        "topk_orders": """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
""",
        "nested_exists": """
SELECT DISTINCT o_custkey AS custkey FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice > 200000
""",
        "q1_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       count(*)::BIGINT AS count_order
FROM lineitem WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
        "revenue_per_nation": """
SELECT n_name, round(sum(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
        "geo_cell_agg": """
SELECT floor(((c_custkey % 3600) / 10.0 - 180.0) * 0.1)::BIGINT AS cell_lon,
       floor((((c_custkey * 7) % 1800) / 10.0 - 90.0) * 0.1)::BIGINT AS cell_lat,
       count(*)::BIGINT AS n
FROM customer GROUP BY 1, 2
""",
        "polygon_filter": """
SELECT c_custkey FROM (
  SELECT c_custkey,
         (c_custkey % 3600) / 10.0 - 180.0 AS lon,
         ((c_custkey * 7) % 1800) / 10.0 - 90.0 AS lat
  FROM customer
) WHERE lon > -50.05 AND lon < 50.05 AND lat > -20.05 AND lat < 20.05
""",
        "address_extract": _address_extract_oracle(),
        "multimodal_features": """
WITH m AS (
  SELECT i,
         'm' || lpad(i::VARCHAR, 4, '0') AS media_id,
         CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         sha256(repeat(sha256('media' || i::VARCHAR), 4)) AS h
  FROM generate_series(0, 63) t(i)
),
d AS (SELECT j FROM generate_series(0, 15) t(j))
SELECT media_id, kind, j::INT AS dim,
       (  ('0x' || substring(h, 2*((4*j)%32) + 1, 2))::BIGINT
        + ('0x' || substring(h, 2*((4*j)%32+1) + 1, 2))::BIGINT * 256
        + ('0x' || substring(h, 2*((4*j)%32+2) + 1, 2))::BIGINT * 65536
        + ('0x' || substring(h, 2*((4*j)%32+3) + 1, 2))::BIGINT * 16777216
       ) / 2147483648.0 - 1.0 AS value
FROM m, d
""",
        "nested_reform_exists": """
SELECT DISTINCT l_orderkey AS orderkey FROM lineitem
WHERE l_returnflag = 'R' AND year(l_shipdate) >= 2001
""",
        # same haversine, spelled out (sin*sin, not pow — matches the
        # Spark expression term-for-term; mean Earth radius 6371 km)
        "geo_distance_search": """
WITH p AS (
  SELECT c_custkey,
         (c_custkey % 3600) / 10.0 - 180.0 AS lon,
         ((c_custkey * 7) % 1800) / 10.0 - 90.0 AS lat
  FROM customer
),
d AS (
  SELECT c_custkey,
         2.0 * 6371000.0 * asin(sqrt(
             sin(radians(lat - 0.0) / 2) * sin(radians(lat - 0.0) / 2)
           + cos(radians(0.0)) * cos(radians(lat))
             * sin(radians(lon - -60.0) / 2) * sin(radians(lon - -60.0) / 2)
         )) AS dist_m
  FROM p
)
SELECT c_custkey, round(dist_m, 2) AS dist_m
FROM d WHERE dist_m <= 2000000.0
ORDER BY c_custkey
""",
        "rescore_window": _rescore_oracle(
            "table query", "spark merge", k=10, window=30, qw=0.7, rw=1.3
        ),
        # synonym analyzer: same BM25 over the CASE-WHEN-mapped token
        # stream — tf/dl/df/avgdl all derive from canonical tokens, and
        # the query's surface form analyzes to the same canonicals
        "match_synonym_analyzer": f"""
WITH toks AS (
  SELECT doc_id, CASE WHEN term = 'join' THEN 'merge' ELSE term END AS term
  FROM (
    SELECT doc_id, unnest({duckdb_tokens_sql('text')}) AS term FROM documents
  )
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
g  AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dl),
dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf
        WHERE term IN ('merge', 'sort') GROUP BY 1)
SELECT tf.doc_id,
       round(sum({bm25_sql("tf.tf", "dfq.df", "dl.dl", "g.n", "g.avgdl")}),
             {ROUND_DECIMALS}) AS score
FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN g
WHERE tf.term IN ('merge', 'sort')
GROUP BY tf.doc_id
ORDER BY score DESC, doc_id ASC LIMIT 10
""",
        # nested scored: raw inner BM25 sums averaged per parent with ONE
        # final round (the frozen rounding protocol)
        "nested_scored_match": f"""
WITH {_TOKS_CTE},
dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf
        WHERE term IN ({_sql_terms('spark merge')}) GROUP BY 1),
s AS (
  SELECT tf.doc_id,
         sum({bm25_sql("tf.tf", "dfq.df", "dl.dl", "g.n", "g.avgdl")}) AS raw
  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN g
  WHERE tf.term IN ({_sql_terms('spark merge')})
  GROUP BY tf.doc_id
)
SELECT doc_id // 8 AS parent, round(avg(raw), {ROUND_DECIMALS}) AS score
FROM s GROUP BY 1
ORDER BY score DESC, parent ASC LIMIT 10
""",
        # stopword analyzer: same BM25, with the stop filter as a NOT IN
        # in the token CTE — tf/dl/df/avgdl all derive from the filtered
        # stream, exactly like the engine's build-time filtering
        "match_stopword_analyzer": f"""
WITH {_STOP_TOKS_CTE},
dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf
        WHERE term IN ('query', 'table') GROUP BY 1)
SELECT tf.doc_id,
       round(sum({bm25_sql("tf.tf", "dfq.df", "dl.dl", "g.n", "g.avgdl")}),
             {ROUND_DECIMALS}) AS score
FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN g
WHERE tf.term IN ('query', 'table')
GROUP BY tf.doc_id
ORDER BY score DESC, doc_id ASC LIMIT 10
""",
        # geo_polygon filter clause: the convex lattice-safe _GEO_POLY's
        # ray-cast membership equals this half-plane inequality exactly
        # (see the _GEO_POLY comment), over the same doc_id-derived
        # lon/lat the _geo_index synthesizes
        "geo_polygon_search": _bm25_oracle(
            "spark", k=10_000,
            raw_doc_cond="""doc_id IN (SELECT doc_id FROM (
  SELECT doc_id, (doc_id % 720) / 2.0 - 180.0 AS lon,
         ((doc_id * 7) % 360) / 2.0 - 90.0 AS lat FROM documents)
  WHERE abs(lon - 10.3) / 60.1 + abs(lat - 5.3) / 40.1 < 1.0)""",
        ),
        "pinned_promoted": f"""
WITH {_TOKS_CTE},
dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf
        WHERE term IN ({_sql_terms('table query')}) GROUP BY 1),
p AS (
  SELECT tf.doc_id,
         round(sum({bm25_sql("tf.tf", "dfq.df", "dl.dl", "g.n", "g.avgdl")}),
               {ROUND_DECIMALS}) AS score
  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN g
  WHERE tf.term IN ({_sql_terms('table query')}) GROUP BY tf.doc_id
),
organic AS (
  SELECT doc_id, score FROM p
  WHERE doc_id NOT IN (42, 7, 999999999, 13)
  ORDER BY score DESC, doc_id ASC LIMIT 14
),
pin AS (
  SELECT v.doc_id::BIGINT AS doc_id, v.score::DOUBLE AS score
  FROM (VALUES (42, 1000000000.0), (7, 999999999.0),
               (999999999, 999999998.0), (13, 999999997.0)) v(doc_id, score)
  WHERE v.doc_id IN (SELECT doc_id FROM documents)
)
SELECT doc_id, score
FROM (SELECT * FROM pin UNION ALL SELECT * FROM organic)
ORDER BY score DESC, doc_id ASC LIMIT 10
""",
        "search_fetch_fields": f"""
WITH {_TOKS_CTE},
dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf
        WHERE term IN ({_sql_terms('table query')}) GROUP BY 1),
p AS (
  SELECT tf.doc_id,
         round(sum({bm25_sql("tf.tf", "dfq.df", "dl.dl", "g.n", "g.avgdl")}),
               {ROUND_DECIMALS}) AS score
  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN g
  WHERE tf.term IN ({_sql_terms('table query')}) GROUP BY tf.doc_id
),
topk AS (SELECT doc_id, score FROM p ORDER BY score DESC, doc_id ASC LIMIT 10)
SELECT topk.doc_id, topk.score, d.lang, d.source
FROM topk JOIN documents d USING (doc_id)
ORDER BY topk.score DESC, topk.doc_id ASC
""",
        "geo_distance_ring_agg": f"""
WITH {_TOKS_CTE},
matched AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'spark'),
geo AS (
  SELECT doc_id,
         (doc_id % 720) / 2.0 - 180.0 AS lon,
         ((doc_id * 7) % 360) / 2.0 - 90.0 AS lat
  FROM matched
),
d AS (
  SELECT 2.0 * 6371000.0 * asin(sqrt(
             sin(radians(lat - 0.0) / 2) * sin(radians(lat - 0.0) / 2)
           + cos(radians(0.0)) * cos(radians(lat))
             * sin(radians(lon - 0.0) / 2) * sin(radians(lon - 0.0) / 2)
         )) AS dist
  FROM geo
)
SELECT b.bucket, coalesce(c.cnt, 0)::BIGINT AS cnt
FROM (VALUES ('*-3000000.0', 0), ('3000000.0-8000000.0', 1),
             ('8000000.0-*', 2)) b(bucket, ord)
LEFT JOIN (
  SELECT CASE WHEN dist < 3000000.0 THEN '*-3000000.0'
              WHEN dist < 8000000.0 THEN '3000000.0-8000000.0'
              ELSE '8000000.0-*' END AS bucket,
         count(*)::BIGINT AS cnt
  FROM d GROUP BY 1
) c USING (bucket)
ORDER BY b.ord
""",
        "geo_bbox_search": """
SELECT c_custkey FROM (
  SELECT c_custkey,
         (c_custkey % 3600) / 10.0 - 180.0 AS lon,
         ((c_custkey * 7) % 1800) / 10.0 - 90.0 AS lat
  FROM customer
) WHERE lon >= -70.0 AND lon < -40.0 AND lat >= -10.0 AND lat < 15.0
ORDER BY c_custkey
""",
        "geohash_bucket_join": """
WITH p AS (
  SELECT c_custkey,
         (c_custkey % 3600) / 10.0 - 180.0 AS lon,
         ((c_custkey * 7) % 1800) / 10.0 - 90.0 AS lat
  FROM customer
),
q AS (
  SELECT c_custkey,
         least(floor((lon + 180.0) / 360.0 * 1024.0), 1023)::BIGINT AS qx,
         least(floor((lat + 90.0) / 180.0 * 1024.0), 1023)::BIGINT AS qy
  FROM p
)
SELECT a.c_custkey AS probe_key, b.c_custkey AS match_key
FROM q a JOIN q b ON a.qx = b.qx AND a.qy = b.qy
WHERE a.c_custkey <= 5
""",
        "coalesce_fallback_lookup": """
SELECT l_orderkey, l_linenumber,
       coalesce(p1.p_name, p2.p_name) AS p_name,
       p1.p_name IS NULL AS used_fallback
FROM lineitem
LEFT JOIN (SELECT p_partkey, p_name FROM part WHERE p_size >= 25) p1
  ON l_partkey = p1.p_partkey
LEFT JOIN part p2 ON l_partkey = p2.p_partkey
WHERE l_orderkey < 200
""",
        "windowed_event_counts": _windowed_sql(),
    }


def _windowed_sql() -> str:
    from librecatastro_spark.streaming.windowed import windowed_event_counts_sql

    return windowed_event_counts_sql(1)
