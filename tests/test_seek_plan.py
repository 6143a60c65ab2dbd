"""The term-dictionary seek both execution sites share.

``CompressedIndex._seek_plan`` turns the resident footer stats into the
row groups a query reads (shard → [(postings file, row groups)]); the
coordinator reads them through its column-chunk cache, the misses on its
thread pool, the distributed path inside executor tasks. The plan must
read exactly the row groups ``perfbench.obs.Footprint`` says an
exact-term seek must read, and must lose no posting of a phrase
prefix's [pfx, successor) range. The
constant-score tails read only the columns ``_doc_page`` decodes, and a
malformed filter clause or an attr column the attrs files lack is refused
on the driver before any Spark job.
"""

from __future__ import annotations

import itertools
import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from librecatastro_spark.corpus import assign_doc_ids, generate_corpus
from librecatastro_spark.engine import ExactBM25, wand
from librecatastro_spark.engine.wand import CompressedIndex
from librecatastro_spark.index.builder import build_index
from perfbench.obs import Footprint

ATTRS = ("repo", "path", "lang")
COLS = ("term", "first_doc_id", "n_docs")


@pytest.fixture(scope="module")
def corpus(spark):
    docs = generate_corpus(spark, 400, min_tokens=20, max_tokens=150, partitions=4)
    return assign_doc_ids(docs).cache()


@pytest.fixture(scope="module")
def small_rg_index(spark, corpus, tmp_path_factory):
    """A positions index whose postings files are rewritten (same rows,
    same term order) into 40-row row groups, so prefixes and terms span
    row-group boundaries."""
    out = str(tmp_path_factory.mktemp("seekidx"))
    build_index(
        spark, corpus, out, attr_cols=ATTRS,
        n_shards=4, block_size=16, salt_threshold=120, n_salts=4,
        index_options="positions",
    )
    post = os.path.join(out, "postings")
    for d in os.listdir(post):
        for f in os.listdir(os.path.join(post, d)):
            if f.endswith(".parquet"):
                path = os.path.join(post, d, f)
                tbl = pq.ParquetFile(path).read()
                pq.write_table(tbl, path, row_group_size=40)
                crc = os.path.join(post, d, f".{f}.crc")  # Hadoop checksum
                if os.path.exists(crc):
                    os.remove(crc)
    return CompressedIndex(spark, out)


def planned_row_groups(plan) -> int:
    return sum(len(rgs) for files in plan.values() for _, rgs in files)


def brute_force(ix: CompressedIndex, pfx: str) -> set:
    """Every posting block whose term starts with ``pfx``, read from every
    row group of every postings file."""
    got = set()
    for path, _, shard, _, _ in ix._files()[0]:
        tbl = pq.ParquetFile(path).read(columns=list(COLS))
        tbl = tbl.filter(pc.starts_with(tbl.column("term"), pfx))
        got |= {(shard, *r) for r in zip(*(tbl.column(c).to_pylist() for c in COLS))}
    return got


def sought(ix: CompressedIndex, pfx: str) -> set:
    b = ix._seek_blocks([(ix, wand._Seek((), pfx))], COLS)
    return set(zip(b["shard"].tolist(), *(b[c].tolist() for c in COLS)))


def boundary_prefix(ix: CompressedIndex) -> tuple[str, str, int]:
    """(prefix, file, i): a prefix whose terms fill both sides of the
    boundary between row groups i and i + 1 of one postings file."""
    for path, n_rgs, _, mins, maxs in ix._files()[0]:
        for i in range(n_rgs - 1):
            a, b = maxs[i], mins[i + 1]
            common = os.path.commonprefix([a, b])
            if common and a != b:
                return common, path, i
    raise AssertionError("no row-group boundary inside a prefix")


def test_exact_term_plan_equals_footprint(small_rg_index):
    ix = small_rg_index
    fp = Footprint(ix.out_dir)
    assert fp.n_row_groups > 4 * len(ix._files()[0])  # many groups per file
    vocab = ix._dict.term.tolist()
    for terms in (["def", "return"], ["import"], vocab[::97], ["zzznotindexed"],
                  vocab[:3] + vocab[-3:]):
        plan = ix._seek_plan(terms)
        assert planned_row_groups(plan) == fp.cost(terms)["row_groups"], terms
    assert ix._seek_plan(["zzznotindexed"]) == {}


@pytest.mark.parametrize("cold", [False, True], ids=["resident", "no_dictionary"])
def test_prefix_plan_loses_no_posting(spark, small_rg_index, monkeypatch, cold):
    """The [pfx, successor) plan reads every posting block a brute-force
    scan of all row groups finds: for a prefix spanning a row-group
    boundary (the plan holds both sides), common prefixes, and a prefix
    no term has — also on an index whose dictionary is not resident,
    since the plan reads only footer stats."""
    ix = small_rg_index
    if cold:
        monkeypatch.setattr(CompressedIndex, "_LOCAL_TERMSTATS_BYTES", 0)
        ix = CompressedIndex(spark, small_rg_index.out_dir)
        assert ix._dict is None
    pfx, path, i = boundary_prefix(ix)
    plan = ix._seek_plan([], pfx)
    rgs = dict(itertools.chain.from_iterable(plan.values()))[path]
    assert {i, i + 1} <= set(rgs)
    for p in (pfx, "re", "d", "i", "zzzq"):
        want = brute_force(ix, p)
        assert sought(ix, p) == want, p
        assert bool(want) == (p != "zzzq"), p
    if cold:
        ix.term_stats.unpersist()


def test_boundary_prefix_rows_same_on_every_route(small_rg_index, corpus):
    """Over the small-row-group index the boundary prefix answers the
    same on the distributed tail, the coordinator tail and the exact
    engine; so does a phrase prefix ending in it."""
    ix = small_rg_index
    pfx, _, _ = boundary_prefix(ix)
    exact = ExactBM25(corpus, attr_cols=ATTRS)
    rows = [tuple(r) for r in ix.term_prefix_search(pfx, k=50).collect()]
    assert rows and rows == [tuple(r) for r in exact.term_prefix_search(pfx, k=50).collect()]
    local = ix.match_phrase_prefix_local(pfx, k=50)
    assert list(zip(local["doc_id"], local["score"])) == rows
    text = f"def {pfx}"
    want = [tuple(r) for r in exact.match_phrase_prefix(text, k=20).collect()]
    assert [tuple(r) for r in ix.match_phrase_prefix(text, k=20).collect()] == want
    local = ix.match_phrase_prefix_local(text, k=20)
    assert list(zip(local["doc_id"], local["score"])) == want


def test_constant_score_local_reads_doc_columns_only(small_rg_index, monkeypatch):
    """The coordinator expansion tail and the single-token phrase prefix
    seek ("term", "n_docs", "docs_enc") only — the columns ``_doc_page``
    decodes —
    and answer as the distributed twins do; a repeat reads nothing (the
    column-chunk cache holds the chunks)."""
    ix = small_rg_index
    want = {
        "fuzzy": [tuple(r) for r in ix.fuzzy_term_search("returm", k=30).collect()],
        "prefix": [tuple(r) for r in ix.term_prefix_search("re", k=30).collect()],
    }
    seen = []
    read = wand._read_columns

    def spy(path, reads):
        seen.extend(tuple(cols) for _, cols in reads)
        return read(path, reads)

    monkeypatch.setattr(wand, "_read_columns", spy)
    for name, call in (
        ("fuzzy", lambda: ix.fuzzy_term_search_local("returm", k=30)),
        ("prefix", lambda: ix.match_phrase_prefix_local("re", k=30)),
    ):
        ix.refresh()  # a cold cache: the read shows its columns
        seen.clear()
        got = call()
        assert seen and set(seen) == {("term", "n_docs", "docs_enc")}, name
        assert list(zip(got["doc_id"], got["score"])) == want[name] and want[name]
        seen.clear()
        again = call()
        assert not seen, name
        assert list(zip(again["doc_id"], again["score"])) == want[name]


def test_distributed_sites_read_only_kernel_columns(small_rg_index, monkeypatch):
    """The executor seek reads the kernel's columns: no ``pos_enc`` for a
    search on a positions index, the position columns for a phrase and
    the doc-id columns (``n_docs``, ``docs_enc``) for an expansion tail."""
    ix = small_rg_index
    cols = []
    dispatch = ix._dispatch

    def spy(seek, c, *args, **kwargs):
        cols.append(tuple(c))
        return dispatch(seek, c, *args, **kwargs)

    monkeypatch.setattr(ix, "_dispatch", spy)
    ix.search("def return", k=5).collect()
    ix.match_phrase("def return", k=5).collect()
    ix.term_prefix_search("re", k=5).collect()
    assert cols == [ix._SEEK_COLS, ix._POS_COLS, ("term", "n_docs", "docs_enc")]
    assert "pos_enc" not in cols[0] and "pos_enc" in cols[1]


_group = itertools.count()


def jobs_run(spark, run) -> int:
    sc = spark.sparkContext
    group = f"seek-plan-{next(_group)}"
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("clause", [
    dict(filters={"nope": "py"}),
    dict(prefix=("nope", "p")),
    dict(ranges={"nope": (1, 2)}),
    dict(exists_cols=["nope"]),
    dict(geo=("lon", "lat", [(0.0, 0.0), (1.0, 1.0)])),
    dict(geo=("lon", "lat", 1.0, 2.0)),
    dict(geo=("nope", "lat", 0.0, 0.0, 1000.0)),
], ids=["filters", "prefix", "ranges", "exists", "geo_2_vertices",
        "geo_malformed", "geo_column"])
def test_bad_clause_refused_before_any_job(spark, small_rg_index, clause):
    ix = small_rg_index

    def run(call):
        with pytest.raises(ValueError):
            call()

    assert jobs_run(spark, lambda: run(lambda: ix.search("def", k=5, **clause))) == 0
    run(lambda: ix.search_local("def", k=5, **clause))


@pytest.mark.parametrize("call", [
    lambda ix: ix.stats_agg("def", "nope"),
    lambda ix: ix.histogram_agg("def", "nope", 10),
    lambda ix: ix.cardinality_agg("def", "nope"),
    lambda ix: ix.percentiles_agg("def", "nope"),
    lambda ix: ix.function_score("def", "spark_only"),
    lambda ix: ix.facet_metric_agg("def", "lang", "spark_only"),
], ids=["stats", "histogram", "cardinality", "percentiles", "function_score",
        "facet_metric"])
def test_unknown_attr_column_refused_before_any_job(spark, small_rg_index, monkeypatch,
                                                    call):
    """A column the attrs files lack — unknown, or only in the Spark attrs
    frame — is refused on the driver, not inside an executor task."""
    ix = small_rg_index
    monkeypatch.setattr(ix, "attrs", ix.attrs.withColumn("spark_only", F.lit(1)))

    def run():
        with pytest.raises(ValueError, match="lack columns"):
            call(ix)

    assert jobs_run(spark, run) == 0


def test_blocks_arrive_in_one_order_on_both_sites(spark, tmp_path):
    """Both sites hand a kernel its blocks in ``wand._ordered`` order:
    over an appended index whose shards hold several posting files, the
    coordinator seek (``_seek_blocks``) and an executor task
    (``_shard_task``, run in-process with a spy kernel) give the same
    rows per shard, sorted by (term, first_doc_id) within a shard, by
    (term, shard, first_doc_id) whole-index, with ``tc`` the term's rank
    among the frame's distinct terms."""
    from librecatastro_spark.streaming.incremental import append_batch

    docs = assign_doc_ids(generate_corpus(
        spark, 300, min_tokens=20, max_tokens=80, partitions=2
    ))
    out = str(tmp_path / "idx")
    build_index(spark, docs.where(F.col("doc_id") < 200), out,
                n_shards=2, block_size=16)
    append_batch(spark, out, docs.where(F.col("doc_id") >= 200))
    ix = CompressedIndex(spark, out)
    files = [s for s, _ in wand._shard_files(os.path.join(out, "postings"))]
    assert max(files.count(s) for s in set(files)) >= 2
    seek = wand._Seek(("def", "return", "import", "class", "value"))
    cols = ix._SEEK_COLS

    def check(b, keys):
        assert list(b.sort_values(keys, kind="stable").index) == list(b.index)
        ranks = {t: i for i, t in enumerate(sorted(set(b["term"])))}
        assert b["tc"].tolist() == [ranks[t] for t in b["term"]]

    driver = ix._seek_blocks([(ix, seek)], cols)
    check(driver, ["term", "shard", "first_doc_id"])
    seen = []

    def spy(blocks, attrs=None, cache=None):
        seen.append(blocks)
        return wand._empty()

    groups = [
        (shard, [(p, rgs, seek) for p, rgs in fl], [])
        for shard, fl in ix._seek_plan(seek.terms).items()
    ]
    list(wand._shard_task(groups, cols, spy, wand._Clauses(), None, None, None,
                          wand._RESULT_SCHEMA))
    assert len(seen) == 2
    for b in seen:
        check(b, ["term", "first_doc_id"])
        mine = driver[driver["shard"] == b["shard"].iloc[0]]
        assert mine.drop(columns="tc").reset_index(drop=True).equals(
            b.drop(columns="tc").reset_index(drop=True)
        )
