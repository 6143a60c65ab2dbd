"""function_score / dis_max / boosting / constant_score + exists & ids
filters — rank-identity between the exact engine and the compressed
index, plus semantics pins.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from librecatastro_spark.bm25 import ROUND_DECIMALS
from librecatastro_spark.corpus import assign_doc_ids, generate_corpus
from librecatastro_spark.engine import ExactBM25
from librecatastro_spark.engine.wand import CompressedIndex
from librecatastro_spark.index.builder import build_index


@pytest.fixture(scope="module")
def corpus(spark):
    docs = generate_corpus(spark, 400, min_tokens=20, max_tokens=150, partitions=4)
    docs = assign_doc_ids(docs)
    # numeric field for function_score + a nullable col for exists +
    # a geo_point pair for the geo clause
    return docs.withColumn(
        "stars", (F.col("doc_id") % 17).cast("double")
    ).withColumn(
        "license",
        F.when(F.col("doc_id") % 3 == 0, F.lit("mit")).otherwise(F.lit(None)),
    ).withColumn(
        "lon", (F.col("doc_id") % 360).cast("double") - 180.0
    ).withColumn(
        "lat", ((F.col("doc_id") * 7) % 180).cast("double") - 90.0
    ).cache()


ATTRS = ("repo", "lang", "stars", "license", "lon", "lat")


@pytest.fixture(scope="module")
def exact(corpus):
    return ExactBM25(corpus, attr_cols=ATTRS, cache=True)


@pytest.fixture(scope="module")
def cidx(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sqidx"))
    build_index(
        spark, corpus, out, attr_cols=ATTRS,
        n_shards=4, block_size=16, salt_threshold=120, n_salts=4,
    )
    return CompressedIndex(spark, out)


def rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


# ------------------------------------------------------- function_score --

@pytest.mark.parametrize("modifier,boost_mode", [
    ("log1p", "multiply"), ("sqrt", "multiply"), ("none", "sum"),
])
def test_function_score_paths_identical(exact, cidx, modifier, boost_mode):
    e = rows(exact.function_score(
        "def return", "stars", k=25, modifier=modifier, factor=2.0,
        boost_mode=boost_mode,
    ))
    c = rows(cidx.function_score(
        "def return", "stars", k=25, modifier=modifier, factor=2.0,
        boost_mode=boost_mode,
    ))
    assert e == c
    assert e, "function_score must match docs on this corpus"


def test_function_score_semantics(exact):
    """score' ≈ bm25 * log1p(factor*field) for sampled docs (the engine
    transforms the RAW sum — the rounded-base replica here is within one
    rounding quantum scaled by the factor)."""
    base = {d: s for d, s in rows(exact.search("def return", k=10_000))}
    out = rows(exact.function_score("def return", "stars", k=10_000,
                                    modifier="log1p", factor=2.0))
    assert out
    for d, s in out[:20]:
        want = round(base[d] * math.log1p(2.0 * (d % 17)), ROUND_DECIMALS)
        assert s == pytest.approx(want, abs=4 * 10 ** (-ROUND_DECIMALS))


def test_function_score_rejects_bad_args(exact, cidx):
    with pytest.raises(ValueError):
        exact.function_score("def", "stars", modifier="exp")
    with pytest.raises(ValueError):
        cidx.function_score("def", "nosuchcol")


# --------------------------------------------------------------- dis_max --

@pytest.mark.parametrize("tie", [0.0, 0.3, 1.0])
def test_dis_max_paths_identical(exact, cidx, tie):
    clauses = ["def return", "class self", "import"]
    e = rows(exact.dis_max(clauses, k=25, tie_breaker=tie))
    c = rows(cidx.dis_max(clauses, k=25, tie_breaker=tie))
    assert e == c
    assert e


def test_dis_max_semantics(exact):
    """tie=0 → best single clause; tie=1 → plain sum of clause scores."""
    a = {d: s for d, s in rows(exact.search("def return", k=10_000))}
    b = {d: s for d, s in rows(exact.search("import", k=10_000))}
    t0 = {d: s for d, s in rows(exact.dis_max(["def return", "import"],
                                              k=10_000, tie_breaker=0.0))}
    t1 = {d: s for d, s in rows(exact.dis_max(["def return", "import"],
                                              k=10_000, tie_breaker=1.0))}
    assert set(t0) == set(a) | set(b)
    for d in list(t0)[:30]:
        best = max(a.get(d, 0.0), b.get(d, 0.0))
        tot = a.get(d, 0.0) + b.get(d, 0.0)
        assert t0[d] == pytest.approx(best, abs=2e-4)
        assert t1[d] == pytest.approx(round(tot, ROUND_DECIMALS), abs=2e-4)


# -------------------------------------------------------------- boosting --

def test_boosting_paths_identical(exact, cidx):
    e = rows(exact.boosting("def return", "import", k=25, negative_boost=0.3))
    c = rows(cidx.boosting("def return", "import", k=25, negative_boost=0.3))
    assert e == c
    assert e


def test_boosting_demotes_not_excludes(exact):
    pos = {d for d, _ in rows(exact.search("def return", k=10_000))}
    neg = {d for d, _ in rows(exact.search("import", k=10_000))}
    out = {d: s for d, s in rows(exact.boosting("def return", "import",
                                                k=10_000, negative_boost=0.5))}
    # membership unchanged (demotion, not must_not)
    assert set(out) == pos
    base = {d: s for d, s in rows(exact.search("def return", k=10_000))}
    both = pos & neg
    assert both, "corpus must have overlap for this test"
    for d in list(both)[:20]:
        # the rounded-base replica is ambiguous exactly at half
        # boundaries (odd 4th decimal x 0.5) — 1.5 quanta of slack
        assert out[d] == pytest.approx(
            round(base[d] * 0.5, ROUND_DECIMALS), abs=1.5e-4
        )


# -------------------------------------------- constant_score / exists/ids --

def test_constant_score_paths_identical(exact, cidx):
    e = rows(exact.constant_score(k=50, boost=1.5, filters={"lang": "py"},
                                  exists_cols=["license"]))
    c = rows(cidx.constant_score(k=50, boost=1.5, filters={"lang": "py"},
                                 exists_cols=["license"]))
    assert e == c
    assert e
    assert all(s == 1.5 for _, s in e)


def test_constant_score_geo_clause_and_unknown_clause(exact, cidx, corpus):
    """constant_score takes search's clauses, geo included, on both
    engines — and a misspelled clause name raises instead of silently
    scoring every doc."""
    import numpy as np

    from librecatastro_spark.ops.geo import haversine_np

    geo = ("lon", "lat", 20.0, 10.0, 3_000_000.0)
    pts = corpus.select("doc_id", "lon", "lat").collect()
    dist = haversine_np(
        np.array([r["lon"] for r in pts]), np.array([r["lat"] for r in pts]),
        20.0, 10.0,
    )
    want = sorted(r["doc_id"] for r, d in zip(pts, dist) if d <= 3_000_000.0)
    assert 0 < len(want) < len(pts)
    for eng in (exact, cidx):
        got = rows(eng.constant_score(k=10_000, boost=2.0, geo=geo))
        assert got == [(d, 2.0) for d in want]
        with pytest.raises(TypeError):
            eng.constant_score(k=10, filter={"lang": "py"})


def test_exists_filter_search_paths(exact, cidx, corpus):
    e = rows(exact.search("def return", k=10_000, exists_cols=["license"]))
    c = rows(cidx.search("def return", k=10_000, exists_cols=["license"]))
    assert e == c
    want = {
        r["doc_id"] for r in corpus.where(F.col("license").isNotNull())
        .select("doc_id").collect()
    }
    assert {d for d, _ in e} <= want
    lo = cidx.search_local("def return", k=10_000, exists_cols=["license"])
    assert list(zip(lo["doc_id"], lo["score"])) == e


def test_ids_filter_search_paths(exact, cidx):
    ids = [3, 5, 8, 13, 21, 34, 55, 89]
    e = rows(exact.search("def return", k=100, ids=ids))
    c = rows(cidx.search("def return", k=100, ids=ids))
    assert e == c
    assert {d for d, _ in e} <= set(ids)
    lo = cidx.search_local("def return", k=100, ids=ids)
    assert list(zip(lo["doc_id"], lo["score"])) == e


def test_function_score_nonnumeric_field_is_missing_zero(exact, cidx):
    """A non-numeric keyword field must follow the missing=0 contract
    (try_cast -> null -> 0.0) on every path — under Spark's default ANSI
    mode a plain cast would THROW CAST_INVALID_INPUT mid-query instead
    (regression: hit on a string 'path'-like column)."""
    import math as _m

    e = rows(exact.function_score("def return", "repo", k=10,
                                  modifier="log1p", factor=2.0))
    c = rows(cidx.function_score("def return", "repo", k=10,
                                 modifier="log1p", factor=2.0))
    assert e == c and e
    # log1p(0) == 0 and boost_mode=multiply -> every score is 0.0
    assert all(s == 0.0 for _, s in e)


def test_field_values_parse_like_spark_try_cast(spark):
    """The executor kernel reads ``function_score``'s field from the
    attrs files and casts it itself; each value must come out as
    Spark's ``try_cast(... as double)`` gives it (null → NaN)."""
    import numpy as np

    from librecatastro_spark.engine.fscore import try_double_np

    vals = ["1", " 2.5 ", "1e3", "-.5", "1.5f", "2D", "0x1.8p1", "inf",
            "-Infinity", "NaN", "+nan", "abc", "1_0", "", "\t7\n", "0x10",
            "1e400", "1.2.3", None]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    want = [r[0] for r in df.select(F.col("v").try_cast("double")).collect()]
    got = list(try_double_np(np.array(vals, dtype=object)))
    flags = spark.createDataFrame([(True,), (None,), (False,)], "v boolean")
    vals += [True, None, False]
    want += [r[0] for r in flags.select(F.col("v").try_cast("double")).collect()]
    got += list(try_double_np(np.array([True, None, False], dtype=object)))
    for v, w, g in zip(vals, want, got):
        assert (w is None or math.isnan(w)) if math.isnan(g) else w == g, v


@pytest.mark.parametrize("modifier", ["sqrt", "log1p"])
def test_function_score_negative_product_clamped(exact, cidx, modifier):
    """Negative field*factor is clamped to 0 before sqrt/log1p on every
    path — without the clamp it yields NaN, which numpy's lexsort drops
    from per-shard top-k while Spark's desc ordering ranks NaN FIRST,
    silently breaking cross-path rank identity on legal inputs (ES
    rejects NaN function_score results outright)."""
    e = rows(exact.function_score("def return", "stars", k=25,
                                  modifier=modifier, factor=-2.0))
    c = rows(cidx.function_score("def return", "stars", k=25,
                                 modifier=modifier, factor=-2.0))
    assert e == c and e
    # clamp -> factor term is 0 for every doc -> multiply zeroes all scores
    assert all(s == 0.0 for _, s in e)
    assert not any(math.isnan(s) for _, s in e)


def test_function_score_negative_sum_mode_no_nan(exact, cidx):
    """boost_mode=sum with a negative product: the clamped factor adds 0,
    so scores equal the plain BM25 ranking — and stay NaN-free."""
    base = rows(exact.search("def return", k=25))
    e = rows(exact.function_score("def return", "stars", k=25,
                                  modifier="sqrt", factor=-1.5,
                                  boost_mode="sum"))
    c = rows(cidx.function_score("def return", "stars", k=25,
                                 modifier="sqrt", factor=-1.5,
                                 boost_mode="sum"))
    assert e == c == base


# --------------------------------------------------------------- rescore --

def test_rescore_paths_identical(exact, cidx):
    for mode in ("total", "multiply"):
        e = rows(exact.rescore("def return", "import class", k=10,
                               window_size=40, query_weight=0.7,
                               rescore_query_weight=1.3, score_mode=mode))
        c = rows(cidx.rescore("def return", "import class", k=10,
                              window_size=40, query_weight=0.7,
                              rescore_query_weight=1.3, score_mode=mode))
        assert e == c and e


def test_rescore_semantics(exact):
    """Window restriction + weighted-total math: the result set is a
    subset of the primary top-window, and each final score equals
    qw*primary + rw*secondary (0 when the doc misses the rescore
    query)."""
    win = rows(exact.search("def return", k=25))
    prim = dict(win)
    sec = dict(rows(exact.search("import class", k=10_000,
                                 ids=[d for d, _ in win])))
    out = rows(exact.rescore("def return", "import class", k=25,
                             window_size=25, query_weight=0.5,
                             rescore_query_weight=2.0))
    assert {d for d, _ in out} <= set(prim)
    for d, s in out:
        want = round(0.5 * prim[d] + 2.0 * sec.get(d, 0.0), ROUND_DECIMALS)
        assert s == pytest.approx(want, abs=10 ** (-ROUND_DECIMALS))
    # multiply mode: a doc missing the secondary keeps qw*primary
    out_m = dict(rows(exact.rescore("def return", "import class", k=25,
                                    window_size=25, query_weight=0.5,
                                    rescore_query_weight=2.0,
                                    score_mode="multiply")))
    missing = [d for d in prim if d not in sec]
    for d in missing[:5]:
        assert out_m[d] == pytest.approx(
            round(0.5 * prim[d], ROUND_DECIMALS), abs=10 ** (-ROUND_DECIMALS)
        )


def test_rescore_rejects_bad_args(exact):
    with pytest.raises(ValueError):
        exact.rescore("def", "import", k=20, window_size=10)
    with pytest.raises(ValueError):
        exact.rescore("def", "import", score_mode="avg")


# ---------------------------------------------------------- fetch_fields --

def test_fetch_fields_paths(exact, cidx):
    """ES _source fields analog: (doc_id, score, *attrs) in hit order,
    identical across engines; unknown columns and over-cap hit frames
    rejected."""
    h_e = exact.search("def return", k=8)
    e = [(r["doc_id"], r["score"], r["repo"], r["lang"])
         for r in exact.fetch_fields(h_e, ["repo", "lang"]).collect()]
    h_c = cidx.search("def return", k=8)
    c = [(r["doc_id"], r["score"], r["repo"], r["lang"])
         for r in cidx.fetch_fields(h_c, ["repo", "lang"]).collect()]
    assert e == c and len(e) == 8
    assert all(x[2] is not None and x[3] is not None for x in e)
    # hit order preserved == the search ranking
    assert [(d, s) for d, s, *_ in e] == rows(exact.search("def return", k=8))
    with pytest.raises(ValueError):
        cidx.fetch_fields(h_c, ["nosuchcol"])
    with pytest.raises(ValueError):
        cidx.fetch_fields(h_c, ["repo"], max_fetch=3)


# --------------------------------------------------------------- pinned --

def test_pinned_paths_identical(exact, cidx):
    """ES pinned query: promoted ids first in list order (absent ids
    skipped), organic hits below with pinned excluded — identical across
    engines."""
    ids = [42, 7, 999999, 13]  # 999999 absent from the 400-doc corpus
    e = rows(exact.pinned(ids, "def return", k=10))
    c = rows(cidx.pinned(ids, "def return", k=10))
    assert e == c and e
    # the present pinned ids lead, in list order
    assert [d for d, _ in e[:3]] == [42, 7, 13]
    assert all(s > 1e8 for _, s in e[:3]) and all(s < 1e8 for _, s in e[3:])
    # organic tail excludes the pinned ids and preserves the base ranking
    organic = [d for d, _ in rows(exact.search("def return", k=14))
               if d not in ids]
    assert [d for d, _ in e[3:]] == organic[:7]
    # empty pin list degrades to plain search
    assert rows(exact.pinned([], "def return", k=5)) == rows(
        exact.search("def return", k=5))
    with pytest.raises(ValueError):
        exact.pinned([1, 1], "def return")


def test_rescore_empty_window_both_engines(exact, cidx):
    """A primary query matching zero docs returns an EMPTY (doc_id,
    score) frame on BOTH engines (r5 regression: the early return used
    engine.spark, which the exact engine doesn't have — it must use
    attrs.sparkSession like pinned_compose)."""
    for eng in (exact, cidx):
        out = eng.rescore("zzznotindexedterm", "import class", k=5)
        assert out.columns == ["doc_id", "score"]
        assert out.count() == 0


def test_nested_scored_match_semantics(spark, corpus):
    """ES nested query with score_mode (r5): inner docs score as
    independent BM25 documents; parents combine MATCHING inner scores
    via avg/sum/max on RAW sums with one final round, rank (score DESC,
    parent ASC); parents with no matching inner doc are absent."""
    from librecatastro_spark.engine.nested import nested_scored_match

    inner = corpus.withColumn("parent", F.expr("doc_id DIV 16"))
    eng = ExactBM25(inner, text_col="content")
    raw = {
        r["doc_id"]: r["score"]
        for r in eng.match_scores("def return").collect()
    }
    pmap = {r["doc_id"]: r["parent"]
            for r in inner.select("doc_id", "parent").collect()}
    import collections
    groups = collections.defaultdict(list)
    for d, s in raw.items():
        groups[pmap[d]].append(s)
    for mode, fn in (("avg", lambda v: sum(v) / len(v)),
                     ("sum", sum), ("max", max)):
        got = [(r["parent"], r["score"]) for r in nested_scored_match(
            inner, "def return", parent_col="parent", k=10_000,
            text_col="content", score_mode=mode).collect()]
        want = sorted(
            ((p, round(fn(v), ROUND_DECIMALS)) for p, v in groups.items()),
            key=lambda t: (-t[1], t[0]),
        )
        assert [p for p, _ in got] == [p for p, _ in want]
        for (gp, gs), (wp, ws) in zip(got, want):
            assert gs == pytest.approx(ws, abs=10 ** (-ROUND_DECIMALS))
        assert set(g for g, _ in got) == set(groups)  # no-match parents absent
    with pytest.raises(ValueError):
        nested_scored_match(inner, "def", parent_col="parent",
                            text_col="content", score_mode="min")
