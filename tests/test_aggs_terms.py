"""Wildcard/regexp term queries and full-match-set aggregations
(stats / histogram / cardinality / top_hits) vs independent Catalyst
reference computations over the exact scorer's match set."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from librecatastro_spark.analyzer import tokenize_expr
from librecatastro_spark.bm25 import ROUND_DECIMALS
from librecatastro_spark.corpus import assign_doc_ids, generate_corpus
from librecatastro_spark.engine import ExactBM25
from librecatastro_spark.engine.wand import CompressedIndex
from librecatastro_spark.index.builder import build_index


@pytest.fixture(scope="module")
def corpus(spark):
    docs = generate_corpus(spark, 400, min_tokens=20, max_tokens=150, partitions=4)
    return assign_doc_ids(docs).cache()


@pytest.fixture(scope="module")
def exact(corpus):
    return ExactBM25(corpus, attr_cols=("repo", "path", "lang"), cache=True)


@pytest.fixture(scope="module")
def wand(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("aidx"))
    build_index(
        spark, corpus, out, attr_cols=("repo", "path", "lang"),
        n_shards=4, block_size=16, salt_threshold=120, n_salts=4,
    )
    return CompressedIndex(spark, out)


def _term_expansion_docs(corpus, rx, k):
    """Reference: doc_ids containing >=1 token full-matching rx."""
    return [
        r["doc_id"]
        for r in corpus.select(
            "doc_id", F.explode(tokenize_expr("content")).alias("t")
        )
        .where(F.col("t").rlike(f"^(?:{rx})$"))
        .select("doc_id")
        .distinct()
        .orderBy("doc_id")
        .limit(k)
        .collect()
    ]


def test_wildcard_matches_reference(corpus, wand):
    got = [r["doc_id"] for r in wand.wildcard_term_search("re?ur*", k=15).collect()]
    assert got == _term_expansion_docs(corpus, "re.ur.*", 15)
    assert got  # non-degenerate: 'return' is in the generator vocabulary


def test_wildcard_leading_star_full_vocab_scan(corpus, wand):
    got = [r["doc_id"] for r in wand.wildcard_term_search("*ssion", k=10).collect()]
    assert got == _term_expansion_docs(corpus, ".*ssion", 10)


def test_wildcard_no_match(wand):
    assert wand.wildcard_term_search("zz?qq*x", k=10).count() == 0


def test_regexp_matches_reference(corpus, wand):
    rx = "(def|class|imp[a-z]+)"
    got = [r["doc_id"] for r in wand.regexp_term_search(rx, k=20).collect()]
    assert got == _term_expansion_docs(corpus, rx, 20)
    assert got


def test_expansion_cap_bounds_driver_and_keeps_best_df(corpus, wand):
    """ES max_expansions on a leading-* pattern matching the WHOLE
    vocabulary: the expansion keeps the best max_expansions terms by
    (df desc, term asc). ``_cap_expansion``, the cut of a dictionary too
    large to hold (a distributed TakeOrderedAndProject — a 10^12-file
    code corpus has a vocab in the billions, the uid tail, so an
    uncapped collect is a driver OOM), collects exactly that set; this
    resident index cuts the same set on the driver, and the result is
    exactly the docs containing ≥1 of it."""
    n = 5
    exp = [
        r["term"] for r in wand.term_stats
        .orderBy(F.desc("df"), F.asc("term")).limit(n).collect()
    ]
    assert wand._cap_expansion(wand.term_stats, n) == exp
    got = [r["doc_id"] for r in
           wand.wildcard_term_search("*", k=10_000, max_expansions=n).collect()]
    want = [
        r["doc_id"] for r in corpus.select(
            "doc_id", F.explode(tokenize_expr("content")).alias("t")
        ).where(F.col("t").isin(exp)).select("doc_id").distinct()
        .orderBy("doc_id").collect()
    ]
    assert got == want and got
    # same cap semantics on the regexp expansion path
    exp_rx = [
        r["term"] for r in wand.term_stats
        .where(F.col("term").rlike("^(?:[a-z]+)$"))
        .orderBy(F.desc("df"), F.asc("term")).limit(n).collect()
    ]
    got_rx = [r["doc_id"] for r in
              wand.regexp_term_search("[a-z]+", k=10_000, max_expansions=n)
              .collect()]
    want_rx = [
        r["doc_id"] for r in corpus.select(
            "doc_id", F.explode(tokenize_expr("content")).alias("t")
        ).where(F.col("t").isin(exp_rx)).select("doc_id").distinct()
        .orderBy("doc_id").collect()
    ]
    assert got_rx == want_rx and got_rx
    with pytest.raises(ValueError):
        wand.wildcard_term_search("*", max_expansions=0)
    with pytest.raises(ValueError):
        wand.fuzzy_term_search("def", max_expansions=-1)


def _match_docs(exact, text):
    return exact.match_scores(text).select("doc_id")


def test_stats_agg_matches_reference(corpus, exact, wand):
    # reference: count/min/max/sum/avg of dl-independent attr over match set;
    # the index stores no numeric attr in this fixture, so use doc length
    # via n_chars analog: compare against the lang-cardinality-free column
    # 'doc_id' is meaningless — use length(content) persisted as attr? the
    # fixture attrs are strings, so stats run on doc_id as the numeric col.
    got = wand.stats_agg("def return", "doc_id").collect()[0]
    ref = (
        _match_docs(exact, "def return")
        .agg(
            F.count("*").alias("cnt"),
            F.min("doc_id").cast("double").alias("min_val"),
            F.max("doc_id").cast("double").alias("max_val"),
            F.sum("doc_id").cast("double").alias("sum_val"),
        )
        .collect()[0]
    )
    assert got["cnt"] == ref["cnt"]
    assert got["min_val"] == ref["min_val"]
    assert got["max_val"] == ref["max_val"]
    assert got["sum_val"] == ref["sum_val"]
    assert got["avg_val"] == round(ref["sum_val"] / ref["cnt"], ROUND_DECIMALS)


def test_histogram_agg_matches_reference(exact, wand):
    got = {
        r["bucket"]: r["cnt"]
        for r in wand.histogram_agg("def return", "doc_id", 50).collect()
    }
    ref = {
        r["bucket"]: r["cnt"]
        for r in _match_docs(exact, "def return")
        .select((F.floor(F.col("doc_id") / 50) * 50).cast("double").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert got == ref and got


def test_cardinality_agg_matches_reference(corpus, exact, wand):
    got = wand.cardinality_agg("def return", "lang").collect()[0]["cardinality"]
    ref = (
        _match_docs(exact, "def return")
        .join(corpus.select("doc_id", "lang"), "doc_id")
        .agg(F.count_distinct("lang"))
        .collect()[0][0]
    )
    assert got == ref and got > 0


@pytest.mark.parametrize("text,j,n", [("def return import", 2, 3), ("id0001 def", 3, 2)])
def test_top_hits_matches_reference(corpus, exact, wand, text, j, n):
    got = [
        (r["doc_id"], r["score"], r["group_key"])
        for r in wand.top_hits_agg(text, "lang", k_per_group=j, n_groups=n).collect()
    ]
    scored = (
        exact.match_scores(text)
        .withColumn("score", F.round("score", ROUND_DECIMALS))
        .join(corpus.select("doc_id", F.col("lang").alias("group_key")), "doc_id")
    )
    in_key = Window.partitionBy("group_key").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = scored.withColumn("rn", F.row_number().over(in_key)).where(
        F.col("rn") <= j
    )
    best = ranked.withColumn(
        "best", F.max("score").over(Window.partitionBy("group_key"))
    )
    keys = (
        best.select("group_key", "best")
        .distinct()
        .withColumn(
            "kr", F.dense_rank().over(Window.orderBy(F.desc("best"), F.asc("group_key")))
        )
        .where(F.col("kr") <= n)
        .select("group_key")
    )
    ref = [
        (r["doc_id"], r["score"], r["group_key"])
        for r in ranked.join(keys, "group_key", "left_semi")
        .select("doc_id", "score", "group_key")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .collect()
    ]
    assert got == ref and got


@pytest.mark.parametrize("m", [1, 2, 3])
def test_min_should_match_rank_identity(exact, wand, m):
    text = "def return import class"
    got = [
        (r["doc_id"], r["score"])
        for r in wand.search(text, k=12, min_match=m).collect()
    ]
    ref = [
        (r["doc_id"], r["score"])
        for r in exact.search(text, k=12, min_match=m).collect()
    ]
    assert got == ref and got
    fast = [
        (int(r.doc_id), float(r.score))
        for r in wand.search_local(text, k=12, min_match=m).itertuples()
    ]
    assert fast == ref


def test_min_should_match_monotone_and_bounds(exact, wand):
    text = "def return import class"
    # m = len(terms) ≡ require_all; m beyond the vocab ⇒ empty; m<1 ⇒ error
    all_m = [
        (r["doc_id"], r["score"]) for r in wand.search(text, k=50, min_match=4).collect()
    ]
    req = [
        (r["doc_id"], r["score"])
        for r in wand.search(text, k=50, require_all=True).collect()
    ]
    assert all_m == req
    assert wand.search(text, k=10, min_match=9).count() == 0
    with pytest.raises(ValueError):
        wand.search(text, min_match=0)
    with pytest.raises(ValueError):
        exact.search(text, min_match=2, require_all=True)


def test_significant_terms_matches_reference(corpus, exact, wand):
    got = [
        (r["term"], r["fg"], r["score"])
        for r in wand.significant_terms("id0001 id0002", corpus, top_n=8).collect()
    ]
    # independent reference: fg over the exact match set, bg over corpus
    matched = _match_docs(exact, "id0001 id0002")
    n_fg = matched.count()
    n = corpus.count()
    per_doc = corpus.join(matched, "doc_id", "left_semi").select(
        "doc_id", F.explode(F.array_distinct(tokenize_expr("content"))).alias("t")
    )
    fg = {r["t"]: r["c"] for r in per_doc.groupBy("t").agg(F.count("*").alias("c")).collect()}
    bg = {
        r["t"]: r["c"]
        for r in corpus.select(
            F.explode(F.array_distinct(tokenize_expr("content"))).alias("t")
        )
        .groupBy("t")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    scored = []
    for t, f in fg.items():
        fr, br = f / n_fg, bg[t] / n
        if fr > br:
            scored.append((t, f, round((fr - br) * (fr / br), ROUND_DECIMALS)))
    ref = sorted(scored, key=lambda x: (-x[2], x[0]))[:8]
    assert got == ref and got
    # the query's own rare terms must rank as significant
    assert {t for t, _, _ in got} >= {"id0001", "id0002"}


def test_match_doc_ids_is_full_match_set(corpus, exact, wand):
    got = sorted(r["doc_id"] for r in wand.match_doc_ids("def return").collect())
    ref = sorted(r["doc_id"] for r in _match_docs(exact, "def return").collect())
    assert got == ref and got


def test_top_hits_cross_shard_key_depth(corpus, exact, wand):
    # the j>=2 hazard the implementation documents: a key's j-th hit must
    # survive even when locally dominated in its shard — n_groups=1 makes
    # any per-shard key-cap cut observable
    got = [
        (r["doc_id"], r["group_key"])
        for r in wand.top_hits_agg("def return import", "lang", 4, 1).collect()
    ]
    assert len({g for _, g in got}) == 1 and len(got) == 4


def test_percentiles_agg_matches_numpy(exact, wand):
    import numpy as np

    got = {r["pct"]: r["value"]
           for r in wand.percentiles_agg("def return", "doc_id",
                                         [10.0, 50.0, 90.0]).collect()}
    vals = np.array(
        [r["doc_id"] for r in _match_docs(exact, "def return").collect()],
        dtype=np.float64,
    )
    for p in (10.0, 50.0, 90.0):
        # numpy 'linear' == Spark percentile == DuckDB quantile_cont
        assert got[p] == pytest.approx(
            round(float(np.percentile(vals, p)), ROUND_DECIMALS), abs=1e-4
        )
    assert list(got) == sorted(got)


def test_percentiles_empty_and_bounds(wand):
    assert wand.percentiles_agg("zzzznotaterm", "doc_id").count() == 0
    with pytest.raises(ValueError):
        wand.percentiles_agg("def", "doc_id", [101.0])


def test_composite_agg_pages_tile_facet_space(exact, wand, corpus):
    """Walking composite pages with the after cursor must enumerate
    EXACTLY the full (key, cnt) bucket set, in key order, no overlap."""
    ref = {
        r["lang"]: r["cnt"]
        for r in _match_docs(exact, "def return")
        .join(corpus.select("doc_id", "lang"), "doc_id")
        .groupBy("lang").agg(F.count("*").alias("cnt")).collect()
    }
    pages, after, seen = [], None, 0
    while True:
        page = wand.composite_agg("def return", "lang", size=2, after=after).collect()
        if not page:
            break
        keys = [r["facet_key"] for r in page]
        assert keys == sorted(keys) and len(keys) <= 2
        pages.extend((r["facet_key"], r["cnt"]) for r in page)
        after = keys[-1]
        seen += 1
        assert seen < 50  # terminate
    assert dict(pages) == ref and len(pages) == len(ref) > 2


def test_facet_metric_agg_matches_reference(corpus, exact, wand):
    got = {r["facet_key"]: r
           for r in wand.facet_metric_agg("def return", "lang", "doc_id").collect()}
    ref = {
        r["lang"]: r
        for r in _match_docs(exact, "def return")
        .join(corpus.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("cnt"),
            F.min("doc_id").cast("double").alias("min_val"),
            F.max("doc_id").cast("double").alias("max_val"),
            F.sum("doc_id").cast("double").alias("sum_val"),
        )
        .collect()
    }
    assert set(got) == set(ref) and got
    for k, r in ref.items():
        g = got[k]
        assert g["cnt"] == r["cnt"]
        assert g["min_val"] == r["min_val"] and g["max_val"] == r["max_val"]
        assert g["avg_val"] == round(r["sum_val"] / r["cnt"], ROUND_DECIMALS)


def test_date_histogram_calendar_semantics(spark):
    from datetime import datetime

    from librecatastro_spark.ops.events import date_histogram

    rows = [
        (1, datetime(2024, 1, 31, 23, 59), "a", 1.0),
        (2, datetime(2024, 2, 1, 0, 0), "a", 2.0),   # next calendar month
        (3, datetime(2024, 2, 29, 12, 0), "b", 3.0),  # leap-day, same month
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    got = [(r["bucket"], r["cnt"], r["sum_value"])
           for r in date_histogram(ev, "month").collect()]
    assert got == [
        (datetime(2024, 1, 1), 1, 1.0),
        (datetime(2024, 2, 1), 2, 5.0),
    ]
    with pytest.raises(ValueError):
        date_histogram(ev, "fortnight")


def _match_docs_df(exact, text):
    return exact.match_scores(text).select("doc_id")


def test_filters_agg_vs_reference(wand, exact, corpus):
    """ES filters agg: named equality-filter buckets over the match set;
    a doc may land in several buckets; empty buckets stay with cnt 0."""
    buckets = {
        "py_docs": {"lang": "py"},
        "go_docs": {"lang": "go"},
        "none_such": {"lang": "zzz"},
    }
    got = {
        r["bucket"]: r["cnt"]
        for r in wand.filters_agg("def return", buckets).collect()
    }
    matched = _match_docs_df(exact, "def return")
    joined = matched.join(corpus.select("doc_id", "lang"), "doc_id")
    want = {
        n: joined.where(F.col("lang") == spec["lang"]).count()
        for n, spec in buckets.items()
    }
    assert got == want
    assert got["none_such"] == 0
    assert sum(v for k, v in got.items() if k != "none_such") > 0


def test_filters_agg_multi_column_and_overlap(wand, exact, corpus):
    """A bucket with two equality conditions ANDs them; overlapping
    buckets double-count the same doc (ES semantics, unlike terms)."""
    some_repo = corpus.select("repo").first()["repo"]
    buckets = {
        "all_py": {"lang": "py"},
        "py_in_repo": {"lang": "py", "repo": some_repo},
    }
    got = {
        r["bucket"]: r["cnt"]
        for r in wand.filters_agg("def", buckets).collect()
    }
    assert got["py_in_repo"] <= got["all_py"]


def test_range_agg_vs_reference(wand, exact, corpus):
    """ES range agg: [lo, hi) half-open buckets, open ends, order by
    bucket bound, empties kept."""
    bounds = [(None, 50), (50, 120), (120, None), (100000, None)]
    got = [(r["bucket"], r["cnt"]) for r in
           wand.range_agg("def return", "doc_id", bounds).collect()]
    assert [b for b, _ in got] == ["*-50", "50-120", "120-*", "100000-*"]
    matched = _match_docs_df(exact, "def return")
    joined = matched.select("doc_id")
    v = F.col("doc_id").cast("double")
    want = [
        joined.where(v < 50).count(),
        joined.where((v >= 50) & (v < 120)).count(),
        joined.where(v >= 120).count(),
        joined.where(v >= 100000).count(),
    ]
    assert [c for _, c in got] == want
    assert got[-1][1] == 0  # out-of-domain bucket kept, empty
    assert sum(c for _, c in got[:3]) == joined.count()


def test_range_agg_caller_order_and_duplicate_bounds(wand):
    """Rows come back in CALLER bounds order (not sorted by lower bound),
    and duplicate (lo, hi) bounds are rejected up front — the bucket key
    doubles as a map key in the ordering expression, which would throw
    mid-query under mapKeyDedupPolicy=EXCEPTION, and the zero-frame
    groupBy would silently merge the duplicates' counts."""
    bounds = [(120, None), (None, 50), (50, 120)]  # deliberately unsorted
    got = [r["bucket"] for r in
           wand.range_agg("def return", "doc_id", bounds).collect()]
    assert got == ["120-*", "*-50", "50-120"]
    with pytest.raises(ValueError, match="duplicate"):
        wand.range_agg("def return", "doc_id", [(None, 50), (None, 50)])


_ABSENT = "zzzznotaterm qqqqabsent"  # no term is in the dictionary


@pytest.mark.parametrize("call,schema,want", [
    (lambda w: w.collapse_search(_ABSENT, "lang"),
     "doc_id:bigint score:double collapse_key:string", []),
    (lambda w: w.facet_counts(_ABSENT, "lang"),
     "facet_key:string cnt:bigint", []),
    (lambda w: w.stats_agg(_ABSENT, "doc_id"),
     "cnt:bigint min_val:double max_val:double sum_val:double avg_val:double",
     []),
    (lambda w: w.histogram_agg(_ABSENT, "doc_id", 50),
     "bucket:double cnt:bigint", []),
    (lambda w: w.cardinality_agg(_ABSENT, "lang"), "cardinality:bigint", []),
    (lambda w: w.filters_agg(_ABSENT, {"py": {"lang": "py"},
                                       "go": {"lang": "go"}}),
     "bucket:string cnt:bigint", [("go", 0), ("py", 0)]),
    (lambda w: w.range_agg(_ABSENT, "doc_id", [(50, None), (None, 50)]),
     "bucket:string cnt:bigint", [("50-*", 0), ("*-50", 0)]),
    (lambda w: w.geo_distance_agg(_ABSENT, "doc_id", "doc_id", 0.0, 0.0,
                                  [(None, 1000.0), (1000.0, None)]),
     "bucket:string cnt:bigint", [("*-1000.0", 0), ("1000.0-*", 0)]),
    (lambda w: w.facet_metric_agg(_ABSENT, "lang", "doc_id"),
     "facet_key:string cnt:bigint min_val:double max_val:double "
     "avg_val:double", []),
    (lambda w: w.percentiles_agg(_ABSENT, "doc_id"),
     "pct:double value:double", []),
    (lambda w: w.composite_agg(_ABSENT, "lang", size=3),
     "facet_key:string cnt:bigint", []),
    (lambda w: w.top_hits_agg(_ABSENT, "lang"),
     "doc_id:bigint score:double group_key:string", []),
    (lambda w: w.match_doc_ids(_ABSENT), "doc_id:bigint", []),
], ids=[
    "collapse_search", "facet_counts", "stats_agg", "histogram_agg",
    "cardinality_agg", "filters_agg", "range_agg", "geo_distance_agg",
    "facet_metric_agg", "percentiles_agg", "composite_agg", "top_hits_agg",
    "match_doc_ids",
])
def test_aggregations_on_empty_match_set(wand, call, schema, want):
    """Every full-match-set aggregation on a query none of whose terms is
    indexed: its column names and Spark types, and zero rows — or, for
    the keyed-bucket aggregations, every bucket with cnt 0 in order."""
    df = call(wand)
    got_schema = " ".join(
        f"{f.name}:{f.dataType.simpleString()}" for f in df.schema.fields
    )
    assert got_schema == schema
    assert [tuple(r) for r in df.collect()] == want


def test_top_hits_reads_its_stage_once(wand):
    """top_hits_agg's executed plan scans the per-shard stage's RDD once:
    the winning keys and their hits come out of one groupBy, not a
    second read of the postings for a semi-join."""
    df = wand.top_hits_agg("def return", "lang", k_per_group=2, n_groups=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") == 1, plan
    assert df.count() > 0
