"""Decode-volume-sized fan-out of the distributed per-shard grouped map.

Every distributed kernel runs in ``CompressedIndex._per_shard``: a
decode-volume estimate within the one-task limit runs the whole query as
one Spark job, one stage and one task (coalesce(1), no Exchange); a
larger one keeps the shuffled grouped map. Grouping stays per shard either way,
so the ranked answers must not depend on the plan. The phrase doc-window
now comes from the coordinator footer-stats seek instead of a Spark
min/max job; it must equal that aggregation on every index state.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from librecatastro_spark.corpus import assign_doc_ids, generate_corpus
from librecatastro_spark.engine import ExactBM25
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
    one stage and one task: no shuffle ahead of the grouped map (the
    filters cogroup included), no second job for the phrase doc-window."""
    got = []
    assert spark_counts(spark, lambda: got.extend(call(pidx).collect())) == (1, 1, 1)
    assert got  # non-degenerate: every call matches documents


def _shuffles_on_shard(df) -> bool:
    """Whether the plan hash-partitions on shard ahead of a grouped map."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "hashpartitioning(shard" in plan


def test_aggregation_stage_counts_the_attrs_scan(pidx, monkeypatch):
    """A match-set aggregation cogroups the whole attrs table, so its
    estimate is the Σ df plus n_docs: small, the match-set stage runs in
    one task with no shuffle on shard; with the one-task limit at the
    Σ df alone it keeps the shuffled plan, while a search over the same
    terms (no attrs side) still runs in one task."""
    agg = lambda: pidx.facet_counts("def return", "lang")  # noqa: E731
    assert not _shuffles_on_shard(agg())
    monkeypatch.setattr(
        CompressedIndex, "_ONE_TASK_MAX_POSTINGS",
        pidx._df_sum(["def", "return"]),
    )
    assert _shuffles_on_shard(agg())
    assert not _shuffles_on_shard(pidx.search("def return", k=10))


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


def test_phrase_expansion_and_agg_fan_out_identity(pidx, exact, monkeypatch):
    """Both positional phrase twins, one expansion tail and one
    match-set aggregation give the same answer fanned out as in one
    task, and the same as the exact engine."""
    calls = {
        "phrase": (lambda e: e.match_phrase("def return", k=20)),
        "phrase_prefix": (lambda e: e.match_phrase_prefix("def re", k=20)),
        "fuzzy": (lambda e: e.fuzzy_term_search("returm", k=20)),
        "facet": (lambda e: e.facet_counts("def return", "lang")),
    }
    compressed = {
        "phrase": lambda: pidx.match_phrase_positional("def return", k=20),
        "phrase_prefix": lambda: pidx.match_phrase_prefix_positional("def re", k=20),
        "fuzzy": lambda: pidx.fuzzy_term_search("returm", k=20),
        "facet": lambda: pidx.facet_counts("def return", "lang"),
    }
    one = {n: [tuple(r) for r in c().collect()] for n, c in compressed.items()}
    monkeypatch.setattr(CompressedIndex, "_ONE_TASK_MAX_POSTINGS", 0)
    for name, c in compressed.items():
        want = [tuple(r) for r in calls[name](exact).collect()]
        assert [tuple(r) for r in c().collect()] == one[name] == want, name
        assert want, name


def _window_ref(ix: CompressedIndex, terms: list[str]):
    """The doc-window as the Spark min/max aggregation over the posting
    blocks computed it before the seek replaced it."""
    spans = ix.postings.where(F.col("term").isin(terms)).groupBy("term").agg(
        F.min("first_doc_id").alias("lo"), F.max("last_doc_id").alias("hi")
    ).collect()
    if len(spans) < len(terms):
        return None
    lo = max(int(r["lo"]) for r in spans)
    hi = min(int(r["hi"]) for r in spans)
    return (lo, hi) if lo <= hi else None


def _disjoint_pair(ix: CompressedIndex) -> list[str]:
    """Two indexed terms whose posting doc ranges do not overlap."""
    spans = (
        ix.postings.groupBy("term")
        .agg(F.min("first_doc_id").alias("lo"), F.max("last_doc_id").alias("hi"))
        .orderBy("hi", "term").collect()
    )
    first = spans[0]
    later = next(r for r in spans if r["lo"] > first["hi"])
    return sorted([first["term"], later["term"]])


def _check_windows(ix: CompressedIndex) -> None:
    pair = _disjoint_pair(ix)
    for terms in (["def", "return"], ["import"], ["def", "import", "return"],
                  pair, ["def", "zzznotindexed"]):
        assert ix._doc_window(terms) == _window_ref(ix, terms), terms
    assert ix._doc_window(pair) is None
    assert ix._doc_window(["zzznotindexed"]) is None
    assert ix._doc_window(["def", "return"]) is not None


def test_doc_window_seek_equals_spark_aggregation(spark, corpus, tmp_path_factory):
    """The seek-based window equals the Spark min/max aggregation on a
    fresh index, after append_batch + refresh() and after delete_batch;
    None for an unindexed term and for non-overlapping ranges."""
    from librecatastro_spark.streaming.incremental import append_batch, delete_batch

    out = str(tmp_path_factory.mktemp("winidx"))
    build_index(
        spark, corpus.where(F.col("doc_id") < 300), out, attr_cols=ATTRS,
        n_shards=4, block_size=16, salt_threshold=120, n_salts=4,
    )
    ix = CompressedIndex(spark, out)
    _check_windows(ix)
    append_batch(spark, out, corpus.where(F.col("doc_id") >= 300))
    ix.refresh()
    _check_windows(ix)
    assert ix._doc_window(["def", "return"])[1] >= 300  # sees the appended docs
    deleted = [r["doc_id"] for r in corpus.where(F.col("doc_id") >= 350).collect()]
    assert delete_batch(spark, out, deleted) == len(deleted)
    ix.refresh()
    _check_windows(ix)
