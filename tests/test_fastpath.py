"""Coordinator fast path (CompressedIndex.search_local): rank-identity
with the distributed Spark path on every golden query shape.

The fast path runs the SAME per-shard numpy kernel over pyarrow
row-group-pruned reads on the driver — the ES query-node analog — so
(doc_id, score) lists must match the Spark path exactly.
"""

from __future__ import annotations

import functools

import numpy as np
import pytest

from librecatastro_spark.index.builder import build_index
from librecatastro_spark.engine import wand
from librecatastro_spark.engine.wand import CompressedIndex

GOLDEN = [
    dict(text="spark join merge", k=10),
    dict(text="query", k=10, must_not_text="window"),
    dict(text="batch stream line", k=10, require_all=True),
    dict(text="query scan", k=10, filters={"lang": "en"}),
    dict(text="query scan", k=10, prefix=("source", "src1")),
    dict(text="spark join", k=10, should_text="window"),
    dict(text="spark join merge", k=5, offset=5),
    dict(text="table value", k=100),
]


@pytest.fixture(scope="module")
def index(spark, documents, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fastpath") / "idx")
    build_index(
        spark, documents, out, id_col="doc_id", text_col="text",
        attr_cols=("lang", "source"), n_shards=4, shards_per_job=4,
        salt_threshold=500, n_salts=4, resume=False,
    )
    return CompressedIndex(spark, out)


def _spark_rows(index, q):
    q = dict(q)
    k = q.pop("k")
    text = q.pop("text")
    return [
        (r["doc_id"], r["score"])
        for r in index.search(text, k=k, **q).collect()
    ]


def _local_rows(index, q):
    q = dict(q)
    k = q.pop("k")
    text = q.pop("text")
    pdf = index.search_local(text, k=k, **q)
    return list(zip(pdf["doc_id"].tolist(), pdf["score"].tolist()))


@pytest.mark.parametrize("qi", range(len(GOLDEN)))
def test_fastpath_rank_identical(index, qi):
    q = GOLDEN[qi]
    assert _local_rows(index, q) == _spark_rows(index, q)


def test_fuzzy_local_rank_identical(index):
    """Coordinator fuzzy twin (r4): on a resident dictionary both sites
    expand on the driver, so this compares the two constant-score tails
    (the coordinator seek against the executor tasks) over one
    expansion — including the max_expansions best-by-df cap, and under
    prefix_len pinning. The expansion itself is checked against the scan
    oracle and the Catalyst rendering in test_dictionary.py."""
    for kw in (
        dict(max_edits=1),
        dict(max_edits=2),
        dict(max_edits=1, prefix_len=1),
        dict(max_edits=2, max_expansions=3),
    ):
        d = [(r["doc_id"], r["score"]) for r in
             index.fuzzy_term_search("quer", k=10_000, **kw).collect()]
        lo = index.fuzzy_term_search_local("quer", k=10_000, **kw)
        assert list(zip(lo["doc_id"].tolist(), lo["score"].tolist())) == d
        assert d
    with pytest.raises(ValueError):
        index.fuzzy_term_search_local("quer", max_expansions=0)
    with pytest.raises(ValueError):
        index.fuzzy_term_search_local("two words")


def test_wildcard_regexp_local_rank_identical(index):
    """Coordinator twins for the other two expansion queries (r4): the
    two tails over one driver-side expansion (see
    test_fuzzy_local_rank_identical), incl. the max_expansions cap, a
    leading wildcard, and the '*' full-vocab shape."""
    for pat, kw in (("quer?", {}), ("*ery", {}), ("qu*", {}),
                    ("*", dict(max_expansions=5))):
        d = [(r["doc_id"], r["score"]) for r in
             index.wildcard_term_search(pat, k=10_000, **kw).collect()]
        lo = index.wildcard_term_search_local(pat, k=10_000, **kw)
        assert list(zip(lo["doc_id"].tolist(), lo["score"].tolist())) == d
    for rx, kw in (("quer(y|ies)", {}), ("[a-z]+", dict(max_expansions=4))):
        d = [(r["doc_id"], r["score"]) for r in
             index.regexp_term_search(rx, k=10_000, **kw).collect()]
        lo = index.regexp_term_search_local(rx, k=10_000, **kw)
        assert list(zip(lo["doc_id"].tolist(), lo["score"].tolist())) == d
    with pytest.raises(ValueError):
        index.wildcard_term_search_local("")
    with pytest.raises(ValueError):
        index.regexp_term_search_local("x", max_expansions=0)


def test_composite_local_identical(index):
    """Coordinator composite twin (r4): same buckets/counts/page order
    as the distributed keyset-paged aggregation, on first and deep
    pages."""
    for after in (None, "src1"):
        d = [(r["facet_key"], r["cnt"]) for r in
             index.composite_agg("query scan", "source", size=4,
                                 after=after).collect()]
        lo = index.composite_agg_local("query scan", "source", size=4,
                                       after=after)
        assert list(zip(lo["facet_key"].tolist(),
                        lo["cnt"].tolist())) == d
        assert d or after is not None
    with pytest.raises(ValueError):
        index.composite_agg_local("query", "nosuchcol")


def test_fastpath_nonempty(index):
    assert len(_local_rows(index, GOLDEN[0])) == 10


def test_fastpath_threading_invariant(index, monkeypatch):
    """The coordinator seek reads on a thread pool (r3); the pool size
    must never change results — 1 worker ≡ 8 workers on every golden
    shape."""
    results = {}
    for n in (1, 8):
        monkeypatch.setattr(CompressedIndex, "_FASTPATH_THREADS", n)
        monkeypatch.setattr(index, "_pool", None, raising=False)
        index.refresh()  # a cold cache: the reads run on the pool
        results[n] = [_local_rows(index, q) for q in GOLDEN]
        assert index._pool._max_workers == n
        index._pool.shutdown()
    assert results[1] == results[8]


def test_fastpath_cache_invariant(index, monkeypatch):
    """The coordinator cache — decompressed posting column chunks and
    decoded postings in one LRU under one budget — must never change
    results: budget 0 (LC_POSTING_CACHE_MB=0 — nothing is cached, so
    every call reads its chunks from disk), tiny (1 MB: entries that do
    not fit are served uncached, others are evicted across queries, and
    the byte count never exceeds the budget) and default (512 MB: a
    repeat of each shape reads nothing) all agree on every golden shape
    and on ``composite_agg_local``, whose match set decodes through the
    same cache. This fixture holds every (shard, term) in one block, so
    ``_make_decoder``'s small-slice branch (requests covering < half a
    term's postings decode uncached) never runs here;
    ``test_make_decoder_equals_uncached_decode`` covers it."""
    reads = []
    read = wand._read_columns

    def spy(path, wants):
        reads.append(path)
        return read(path, wants)

    monkeypatch.setattr(wand, "_read_columns", spy)

    def composite():
        out = index.composite_agg_local("query scan", "source", size=4)
        return list(zip(out["facet_key"].tolist(), out["cnt"].tolist()))

    shapes = [functools.partial(_local_rows, index, q) for q in GOLDEN]
    shapes.append(composite)
    results = {}
    for mb in ("0", "1", None):
        if mb is None:
            monkeypatch.delenv("LC_POSTING_CACHE_MB", raising=False)
        else:
            monkeypatch.setenv("LC_POSTING_CACHE_MB", mb)
        budget = int(mb or 512) << 20
        index.refresh()  # drop any previously filled cache
        assert not index._dec_cache and index._dec_cache_bytes == 0
        rows = []
        for i, call in enumerate(shapes):
            rows.append(call())
            assert index._dec_cache_bytes <= budget, (mb, i)
        for i, (call, want) in enumerate(zip(shapes, rows)):
            reads.clear()
            assert call() == want, (mb, i)
            if mb == "0":
                assert reads, i
            elif mb is None:
                assert not reads, i
        if mb == "0":
            assert not index._dec_cache and index._dec_cache_bytes == 0
        results[mb or "512"] = rows
    assert results["512"][-1]
    assert results["0"] == results["512"]
    assert results["1"] == results["512"]


def test_make_decoder_equals_uncached_decode(spark, documents, tmp_path, monkeypatch):
    """The decoded-postings cache gathers exactly what the uncached
    ``positions._decode_impacts`` decodes, bit for bit: each term's full
    rows (the cache fills), a slice under half a term (decoded uncached,
    nothing cached), the same rows again (cache hits) and with
    LC_POSTING_CACHE_MB=0 (nothing is ever cached). Small blocks give
    the hot terms several blocks per shard."""
    from librecatastro_spark.engine.positions import _decode_impacts

    out = str(tmp_path / "idx")
    build_index(
        spark, documents, out, id_col="doc_id", text_col="text",
        n_shards=2, block_size=16, resume=False,
    )
    index = CompressedIndex(spark, out)

    def same(rows, decoder):
        got = decoder(rows)
        want = _decode_impacts(rows, index.meta.avgdl)
        assert [(a.dtype, a.tobytes()) for a in got] == [
            (a.dtype, a.tobytes()) for a in want
        ]

    d = index._dict
    hot = d.term[np.argsort(d.df, kind="stable")][-3:].tolist()
    for mb in ("0", None):
        if mb is None:
            monkeypatch.delenv("LC_POSTING_CACHE_MB", raising=False)
        else:
            monkeypatch.setenv("LC_POSTING_CACHE_MB", mb)
        index.refresh()
        blocks = index._seek_blocks(
            [(index, wand._Seek(hot + ["join", "query"]))], index._SEEK_COLS
        )
        groups = blocks.groupby(["shard", "term"]).indices
        big = max(groups, key=lambda g: len(groups[g]))
        key = (int(big[0]), big[1])
        sl = blocks.iloc[groups[big][:1]]
        assert 2 * sl["n_docs"].sum() < blocks.iloc[groups[big]]["n_docs"].sum()
        decoder = index._make_decoder(blocks)
        same(sl, decoder)
        assert key not in index._dec_cache
        for t in sorted(set(blocks["term"])):
            same(blocks[blocks["term"] == t], decoder)
        assert (key in index._dec_cache) == (mb is None)
        for t in sorted(set(blocks["term"])):
            same(blocks[blocks["term"] == t], decoder)
        same(sl, decoder)


def test_search_local_after_append_and_refresh(spark, tmp_path):
    """A warm coordinator cache does not outlive its index generation:
    after ``append_batch`` + ``refresh()`` the cache is empty, and
    ``search_local`` — cold, then warm — equals ``ExactBM25`` over the
    grown corpus."""
    from pyspark.sql import functions as F

    from librecatastro_spark.corpus import assign_doc_ids, generate_corpus
    from librecatastro_spark.engine import ExactBM25
    from librecatastro_spark.streaming.incremental import append_batch

    docs = assign_doc_ids(generate_corpus(
        spark, 300, min_tokens=20, max_tokens=80, partitions=2
    )).cache()
    out = str(tmp_path / "idx")
    build_index(spark, docs.where(F.col("doc_id") < 200), out,
                n_shards=2, block_size=16)
    ix = CompressedIndex(spark, out)
    queries = ("def return", "import class value")
    for text in queries:
        ix.search_local(text, k=20)
    assert ix._dec_cache_bytes > 0
    append_batch(spark, out, docs.where(F.col("doc_id") >= 200))
    ix.refresh()
    assert not ix._dec_cache and ix._dec_cache_bytes == 0
    exact = ExactBM25(docs)
    for text in queries:
        want = [(r["doc_id"], r["score"]) for r in exact.search(text, k=20).collect()]
        assert want
        for _ in range(2):
            got = ix.search_local(text, k=20)
            assert list(zip(got["doc_id"].tolist(), got["score"].tolist())) == want


@pytest.mark.parametrize("path", ["search", "search_local"])
def test_edge_cases_contract(index, path):
    """Degenerate inputs behave identically on both serving paths:
    zero-analyzed-term queries raise (a silent empty would hide caller
    bugs), unknown terms / k=0 / unsatisfiable filters return empty,
    k > corpus returns every match."""
    fn = getattr(index, path)

    def rows(res):
        return res.collect() if hasattr(res, "collect") else list(res.itertuples())

    with pytest.raises(ValueError, match="zero terms"):
        fn("", k=5)
    with pytest.raises(ValueError, match="zero terms"):
        fn("", k=5, must_not_text="query")
    assert rows(fn("zzzqqq nosuchtoken", k=5)) == []
    assert rows(fn("query", k=0)) == []
    assert rows(fn("query", k=5, filters={"lang": "zz"})) == []
    assert rows(fn("query", k=5, prefix=("source", "zzz"))) == []
    big = rows(fn("query", k=10**6))
    assert 0 < len(big) < 10**6


@pytest.mark.parametrize("path", ["search", "search_local"])
def test_offset_and_search_after_rejected_on_both_paths(index, path):
    """``offset`` with ``search_after`` is rejected before analysis on
    both serving paths — even when no query term is indexed, where an
    empty answer would otherwise hide the caller's mistake."""
    fn = getattr(index, path)
    for text in ("zzzqqq nosuchtoken", "query scan"):
        with pytest.raises(ValueError, match="mutually exclusive"):
            fn(text, k=5, offset=5, search_after=(1.0, 3))


def test_composite_local_null_facet(spark, tmp_path_factory):
    """Nullable facet column (r5 regression): the distributed kernel's
    pandas astype(str) counts nulls as a 'None' bucket; the coordinator
    twin must mirror that conversion exactly — the earlier pyarrow
    string cast KEPT nulls, which value_counts then silently dropped,
    breaking the twins' bucket identity on any nullable facet."""
    docs = spark.createDataFrame(
        [(0, "query scan alpha", None), (1, "query scan beta", "s1"),
         (2, "query scan gamma", None), (3, "query scan delta", "s2"),
         (4, "other words here", None)],
        "doc_id long, text string, src string",
    )
    out = str(tmp_path_factory.mktemp("nullfacet") / "idx")
    build_index(
        spark, docs, out, id_col="doc_id", text_col="text",
        attr_cols=("src",), n_shards=2, shards_per_job=2,
        salt_threshold=500, n_salts=2, resume=False,
    )
    idx = CompressedIndex(spark, out)
    for after in (None, "None"):
        d = [(r["facet_key"], r["cnt"]) for r in
             idx.composite_agg("query scan", "src", size=10,
                               after=after).collect()]
        lo = idx.composite_agg_local("query scan", "src", size=10,
                                     after=after)
        assert list(zip(lo["facet_key"].tolist(),
                        lo["cnt"].tolist())) == d
    full = [(r["facet_key"], r["cnt"]) for r in
            idx.composite_agg("query scan", "src", size=10).collect()]
    assert ("None", 2) in full  # doc 4 doesn't match the query
