"""Decode-volume-sized fan-out of the distributed per-shard stage.

Every distributed kernel — scored queries, phrases, expansion tails,
the match-set aggregations, the compound scorers and multi_match — runs
in executor tasks (``CompressedIndex._dispatch``): a decode-volume
estimate within the one-task limit runs every shard in one Spark task
(one job, one stage, one task with the merge or the reduce, no
Exchange); a larger one runs one task per shard. The kernel runs once
per shard either way, so the answers must not depend on the plan.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from librecatastro_spark.bm25 import ROUND_DECIMALS
from librecatastro_spark.corpus import assign_doc_ids, generate_corpus
from librecatastro_spark.engine import ExactBM25
from librecatastro_spark.engine.multifield import (
    MultiFieldIndex,
    cross_fields_exact,
    multi_match_exact,
)
from librecatastro_spark.engine.wand import CompressedIndex
from librecatastro_spark.index.builder import build_index

ATTRS = ("repo", "path", "lang")


@pytest.fixture(scope="module")
def corpus(spark):
    docs = generate_corpus(spark, 400, min_tokens=20, max_tokens=150, partitions=4)
    return assign_doc_ids(docs).cache()


@pytest.fixture(scope="module")
def exact(corpus):
    return ExactBM25(corpus, attr_cols=ATTRS, cache=True)


@pytest.fixture(scope="module")
def pidx(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fanidx"))
    build_index(
        spark, corpus, out, attr_cols=ATTRS,
        n_shards=4, block_size=16, salt_threshold=120, n_salts=4,
        index_options="positions",
    )
    return CompressedIndex(spark, out)


def rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


_group = itertools.count()


def spark_counts(spark, run):
    """(jobs, stages, tasks) Spark ran for ``run()``, read from the status
    tracker under a job group of its own."""
    sc = spark.sparkContext
    group = f"fan-out-{next(_group)}"
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    tasks = sum(tracker.getStageInfo(s).numTasks for s in stages)
    return len(jobs), len(stages), tasks


SEARCHES = {
    "or": dict(text="def return import"),
    "require_all": dict(text="def return", require_all=True),
    "must_not": dict(text="def import", must_not_text="yield"),
    "filters": dict(text="def return", filters={"lang": "py"}),
}


@pytest.mark.parametrize("call", [
    lambda ix: ix.search("def return", k=10),
    lambda ix: ix.search("def return", k=10, filters={"lang": "py"}),
    lambda ix: ix.match_phrase_positional("def return", k=10),
    lambda ix: ix.match_phrase_prefix_positional("def re", k=10),
    lambda ix: ix.term_prefix_search("ret", k=10),
], ids=["search", "search_filters", "phrase", "phrase_prefix",
        "constant_score_tail"])
def test_small_query_runs_one_job_one_stage_one_task(spark, pidx, call):
    """A small decode-volume estimate runs the query as ONE Spark job of
    one stage and one task: no shuffle ahead of the merge (the filter
    clauses included)."""
    got = []
    assert spark_counts(spark, lambda: got.extend(call(pidx).collect())) == (1, 1, 1)
    assert got  # non-degenerate: every call matches documents


def test_aggregation_estimate_is_the_postings_alone(spark, pidx, monkeypatch):
    """A match-set aggregation reads each shard's attrs rows inside the
    shard's own task, so its estimate is the query terms' Σ df alone:
    with the one-task limit at exactly that, ``facet_counts`` runs as
    one job, one stage and one task (the per-shard stage and the
    reduce), and its plan holds no pandas grouped or cogrouped map."""
    monkeypatch.setattr(
        CompressedIndex, "_ONE_TASK_MAX_POSTINGS",
        pidx._df_sum(["def", "return"]),
    )
    agg = pidx.facet_counts("def return", "lang")
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    assert "FlatMapCoGroupsInPandas" not in plan
    got = []
    assert spark_counts(spark, lambda: got.extend(agg.collect())) == (1, 1, 1)
    assert got


@pytest.mark.parametrize("name", sorted(SEARCHES))
def test_search_fan_out_identity(spark, pidx, exact, monkeypatch, name):
    """With the one-task limit at 0 every stage keeps the shuffled plan;
    the ranked lists equal the one-task run and the exact engine's, on
    the first page and on the search_after page behind it."""
    kw = SEARCHES[name]
    one = rows(pidx.search(k=8, **kw))
    cursor = (one[-1][1], one[-1][0])
    one_after = rows(pidx.search(k=8, search_after=cursor, **kw))
    monkeypatch.setattr(CompressedIndex, "_ONE_TASK_MAX_POSTINGS", 0)
    assert spark_counts(spark, lambda: pidx.search(k=8, **kw).collect())[2] > 1
    assert rows(pidx.search(k=8, **kw)) == one == rows(exact.search(k=8, **kw))
    assert rows(pidx.search(k=8, search_after=cursor, **kw)) == one_after == rows(
        exact.search(k=8, search_after=cursor, **kw)
    )
    assert one and one_after


@pytest.fixture(scope="module")
def mf(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fan_mf"))
    return MultiFieldIndex.build(
        spark, corpus, out, fields=("content", "path"), n_shards=4, block_size=16,
    )


@pytest.fixture(scope="module")
def exact_fields(corpus):
    return {f: ExactBM25(corpus, text_col=f, cache=True) for f in ("content", "path")}


def _match_ids(e):
    """The exact engine's full match set as (doc_id,) rows, doc_id ASC."""
    return e.match_scores("def return").select("doc_id").orderBy("doc_id")


#: name → (the compressed call, its exact twin or None: only the
#: one-task vs fanned-out identity is checked)
FAN_CALLS = {
    "phrase": (lambda ix: ix.match_phrase_positional("def return", k=20),
               lambda e: e.match_phrase("def return", k=20)),
    "phrase_prefix": (lambda ix: ix.match_phrase_prefix_positional("def re", k=20),
                      lambda e: e.match_phrase_prefix("def re", k=20)),
    "fuzzy": (lambda ix: ix.fuzzy_term_search("returm", k=20),
              lambda e: e.fuzzy_term_search("returm", k=20)),
    "facet": (lambda ix: ix.facet_counts("def return", "lang"),
              lambda e: e.facet_counts("def return", "lang")),
    "function_score": (
        lambda ix: ix.function_score("def return", "doc_id", k=20, modifier="sqrt"),
        lambda e: e.function_score("def return", "doc_id", k=20, modifier="sqrt"),
    ),
    "dis_max": (
        lambda ix: ix.dis_max(["def return", "import yield"], k=20, tie_breaker=0.3),
        lambda e: e.dis_max(["def return", "import yield"], k=20, tie_breaker=0.3),
    ),
    "boosting": (lambda ix: ix.boosting("def return", "import", k=20),
                 lambda e: e.boosting("def return", "import", k=20)),
    "collapse": (lambda ix: ix.collapse_search("def return", "repo", k=8),
                 lambda e: e.collapse_search("def return", "repo", k=8)),
    "match_doc_ids": (
        lambda ix: ix.match_doc_ids("def return").orderBy("doc_id"), _match_ids,
    ),
    "top_hits": (lambda ix: ix.top_hits_agg("def return", "lang", 2, 3), None),
    "percentiles": (lambda ix: ix.percentiles_agg("def return", "doc_id"), None),
}


def test_phrase_expansion_and_agg_fan_out_identity(pidx, exact, monkeypatch):
    """The positional phrase twins, one expansion tail, the match-set
    aggregations and the compound scorers give the same answer fanned
    out as in one task, and the same as the exact engine where it has
    the method."""
    one = {n: [tuple(r) for r in c(pidx).collect()] for n, (c, _) in FAN_CALLS.items()}
    monkeypatch.setattr(CompressedIndex, "_ONE_TASK_MAX_POSTINGS", 0)
    for name, (c, twin) in FAN_CALLS.items():
        assert [tuple(r) for r in c(pidx).collect()] == one[name], name
        if twin is not None:
            assert [tuple(r) for r in twin(exact).collect()] == one[name], name
        assert one[name], name


#: multi_match's keyword arguments per case of the fan-out identity
MULTI_MATCH = {
    "best_fields": dict(match_type="best_fields"),
    "most_fields": dict(match_type="most_fields"),
    "tie_breaker": dict(tie_breaker=0.3),
}


@pytest.mark.parametrize("name", [*MULTI_MATCH, "cross_fields"])
def test_multi_match_fan_out_identity(mf, exact_fields, monkeypatch, name):
    """multi_match (best_fields, most_fields, best_fields with a
    tie_breaker) and multi_match_cross_fields — one seek plan across the
    sub-indexes — give the same page fanned out as in one task, and the
    same as their DataFrame twins over per-field exact engines. The
    tie_breaker combines raw per-field sums and rounds once: combining
    scores rounded first makes decimal ties (2.9259 + 0.3 × 0.0445 =
    2.93925) that numpy and Spark round apart."""
    text = "def mod4 return"
    if name == "cross_fields":
        call = lambda: mf.multi_match_cross_fields(text, k=15, offset=2)  # noqa: E731
        want = rows(cross_fields_exact(exact_fields, text, k=15, offset=2))
    else:
        kw = dict(k=15, offset=2, **MULTI_MATCH[name])
        call = lambda: mf.multi_match(text, **kw)  # noqa: E731
        want = rows(multi_match_exact(exact_fields, text, **kw))
    one = rows(call())
    monkeypatch.setattr(CompressedIndex, "_ONE_TASK_MAX_POSTINGS", 0)
    assert rows(call()) == one == want and want


def test_multi_match_tie_breaker_fan_out_identity(mf, monkeypatch):
    """best_fields with a tie_breaker: the same page fanned out, in one
    task and on the coordinator (``multi_match_local``)."""
    kw = dict(k=15, offset=2, tie_breaker=0.3)
    one = rows(mf.multi_match("def mod4 return", **kw))
    local = mf.multi_match_local("def mod4 return", **kw)
    monkeypatch.setattr(CompressedIndex, "_ONE_TASK_MAX_POSTINGS", 0)
    assert rows(mf.multi_match("def mod4 return", **kw)) == one
    assert list(zip(local["doc_id"], local["score"])) == one and one


@pytest.fixture(scope="module")
def nullable(spark, corpus, tmp_path_factory):
    """(exact engine, index) over a long attr ``num`` that is null in
    every doc of shard 0 (doc ids 0-99: 400 docs, 4 range shards) and in
    every 7th doc elsewhere."""
    docs = corpus.withColumn("num", F.when(
        (F.col("doc_id") >= 100) & (F.col("doc_id") % 7 != 0), F.col("doc_id") % 13
    ).cast("long"))
    out = str(tmp_path_factory.mktemp("fan_null"))
    build_index(spark, docs, out, attr_cols=("lang", "num"), n_shards=4, block_size=16)
    return ExactBM25(docs, attr_cols=("lang", "num")), CompressedIndex(spark, out)


def test_nullable_attr_aggregations_skip_nulls(nullable, monkeypatch):
    """A null attr value reaches the Catalyst reduce as a null, not a
    NaN: stats, percentiles and the per-facet min / max skip it — also
    from shard 0, whose matched values are all null — one task, fanned
    out and over the exact engine's match set alike, while a facet
    bucket's cnt counts its documents (count(*)) and its avg_val is
    round(sum / count(*)); a collapse key is the long's text ('3', not
    '3.0'), as ExactBM25's key cast to string, and a null one stays
    null."""
    exact, ix = nullable
    text = "def return"
    m = exact.match_scores(text).select("doc_id").join(exact.attrs, "doc_id")
    pcts = [25.0, 50.0, 75.0, 95.0]
    want = {
        "stats": m.agg(
            F.count("*"), F.min("num").cast("double"), F.max("num").cast("double"),
            F.sum("num").cast("double"),
            F.round(F.sum("num") / F.count("*"), ROUND_DECIMALS),
        ).collect(),
        "percentiles": [
            (p, round(v, ROUND_DECIMALS)) for p, v in zip(pcts, m.agg(F.percentile(
                F.col("num").cast("double"), F.array(*[F.lit(p / 100) for p in pcts])
            )).first()[0])
        ],
        "facet_metrics": m.groupBy("lang").agg(
            F.count("*"), F.min("num").cast("double"), F.max("num").cast("double"),
            F.round(F.sum("num") / F.count("*"), ROUND_DECIMALS),
        ).orderBy("lang").collect(),
        "collapse": exact.collapse_search(text, "num", k=50).withColumn(
            "collapse_key", F.col("collapse_key").cast("string")
        ).collect(),
    }
    calls = {
        "stats": lambda: ix.stats_agg(text, "num").collect(),
        "percentiles": lambda: ix.percentiles_agg(text, "num", pcts).collect(),
        "facet_metrics": lambda: ix.facet_metric_agg(text, "lang", "num").select(
            "facet_key", "cnt", "min_val", "max_val", "avg_val"
        ).orderBy("facet_key").collect(),
        "collapse": lambda: ix.collapse_search(text, "num", k=50).collect(),
    }
    one = {n: [tuple(r) for r in c()] for n, c in calls.items()}
    assert None in {r[2] for r in one["collapse"]}
    for name, rows_ in want.items():
        assert one[name] == [tuple(r) for r in rows_], name
    monkeypatch.setattr(CompressedIndex, "_ONE_TASK_MAX_POSTINGS", 0)
    for name, c in calls.items():
        assert [tuple(r) for r in c()] == one[name] and one[name], name


def test_integer_attr_keys_read_alike_on_every_shard(spark, tmp_path, monkeypatch):
    """An integer attr keys as its text ('3') whatever dtype pandas reads
    a shard's rows as: on 8 docs in 2 shards, a long ``num`` null in
    docs 1 and 3 reads as float64 in shard 0 and as int64 in shard 1,
    yet each value is ONE bucket in the terms, composite, metric and
    cardinality aggregations — one task, fanned out and (composite) on
    the coordinator — and one top_hits key, and a rendered null reads
    'None', as a string column's does."""
    docs = spark.createDataFrame(
        [(i, "query scan doc", None if i in (1, 3) else i % 3) for i in range(8)],
        "doc_id long, text string, num long",
    )
    out = str(tmp_path / "idx")
    build_index(
        spark, docs, out, id_col="doc_id", text_col="text", attr_cols=("num",),
        n_shards=2, shards_per_job=2, resume=False,
    )
    ix = CompressedIndex(spark, out)
    text = "query scan"
    calls = {
        "facet": lambda: ix.facet_counts(text, "num").collect(),
        "composite": lambda: ix.composite_agg(text, "num").collect(),
        "metric": lambda: ix.facet_metric_agg(text, "num", "num").collect(),
        "cardinality": lambda: ix.cardinality_agg(text, "num").collect(),
    }
    want = {
        "facet": [("0", 2), ("1", 2), ("2", 2)],
        "composite": [("0", 2), ("1", 2), ("2", 2), ("None", 2)],
        "metric": [("0", 2, 0.0, 0.0, 0.0), ("1", 2, 1.0, 1.0, 1.0),
                   ("2", 2, 2.0, 2.0, 2.0), ("None", 2, None, None, None)],
        "cardinality": [(4,)],
    }
    for fan_out in (False, True):
        if fan_out:
            monkeypatch.setattr(CompressedIndex, "_ONE_TASK_MAX_POSTINGS", 0)
        for name, call in calls.items():
            assert [tuple(r) for r in call()] == want[name], (name, fan_out)
    local = ix.composite_agg_local(text, "num")
    assert list(zip(local["facet_key"], local["cnt"])) == want["composite"]
    hits = ix.top_hits_agg(text, "num", k_per_group=2, n_groups=4).collect()
    assert sorted((r["group_key"], r["doc_id"]) for r in hits) == [
        ("0", 0), ("0", 6), ("1", 4), ("1", 7), ("2", 2), ("2", 5)
    ]
