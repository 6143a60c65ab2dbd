"""Stopword analyzer option (r5): the ES stop token filter as part of
the frozen analyzer chain — recorded in meta like ``analyzer_re`` and
honored by build, append, query analysis and the positional kernels.

Contract: stopwords are dropped AFTER segmentation and BEFORE dl/tf/
position assignment, so positions index the FILTERED token sequence —
phrase adjacency means "adjacent after stopword removal". That makes a
stopworded index EQUIVALENT to a default index over text with the stop
tokens textually removed, which is the strongest possible gate: every
query must be rank-identical across the two builds.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from librecatastro_spark.analyzer import Analyzer
from librecatastro_spark.corpus import assign_doc_ids, generate_corpus
from librecatastro_spark.engine.wand import CompressedIndex
from librecatastro_spark.index.builder import build_index, read_meta

STOP = frozenset({"the", "a", "of", "def", "return"})


def rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def lrows(pdf):
    return list(zip(pdf["doc_id"].tolist(), pdf["score"].tolist()))


@pytest.fixture(scope="module")
def corpus(spark):
    docs = generate_corpus(spark, 300, min_tokens=20, max_tokens=120, partitions=4)
    return assign_doc_ids(docs).cache()


@pytest.fixture(scope="module")
def stripped(spark, corpus):
    """The same corpus with stop tokens textually removed (default-chain
    tokens filtered, rejoined with spaces) — the equivalence twin."""
    an = Analyzer()
    sw = F.array(*[F.lit(s) for s in sorted(STOP)])
    return corpus.withColumn(
        "content",
        F.array_join(
            F.filter(an.tokenize_expr("content"),
                     lambda x: ~F.array_contains(sw, x)),
            " ",
        ),
    ).cache()


@pytest.fixture(scope="module")
def sidx(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("stopidx"))
    build_index(
        spark, corpus, out, attr_cols=("repo", "lang"), n_shards=4,
        block_size=16, salt_threshold=120, n_salts=4,
        index_options="positions", stopwords=STOP,
    )
    return CompressedIndex(spark, out)


@pytest.fixture(scope="module")
def tidx(spark, stripped, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("stripidx"))
    build_index(
        spark, stripped, out, attr_cols=("repo", "lang"), n_shards=4,
        block_size=16, salt_threshold=120, n_salts=4,
        index_options="positions",
    )
    return CompressedIndex(spark, out)


def test_meta_records_stopwords(sidx):
    assert read_meta(sidx.out_dir).stopwords == sorted(STOP)


def test_stopword_index_equals_stripped_text_index(sidx, tidx):
    """Every query shape rank-identical between the stopworded build and
    the default build over stop-stripped text: same dl, df, idf,
    positions — the whole chain agrees."""
    for q in ("import class", "the import class", "spark merge query"):
        assert rows(sidx.search(q, k=50)) == rows(tidx.search(q, k=50))
        assert lrows(sidx.search_local(q, k=50)) == lrows(
            tidx.search_local(q, k=50)
        )
    # positional phrase: adjacency AFTER stopword removal
    for ph in ("import class", "spark merge"):
        a = rows(sidx.match_phrase_positional(ph, k=10_000))
        b = rows(tidx.match_phrase_positional(ph, k=10_000))
        assert a == b
        assert lrows(sidx.match_phrase_local(ph, k=10_000)) == a
    a = rows(sidx.match_phrase_prefix_positional("import cla", k=10_000))
    assert a == rows(tidx.match_phrase_prefix_positional("import cla", k=10_000))
    assert lrows(sidx.match_phrase_prefix_local("import cla", k=10_000)) == a


def test_phrase_skips_stopword_gap(spark, tmp_path):
    """"quick fox" matches "quick the fox" on a stopworded index (the
    stop token vanishes before positions are assigned)."""
    docs = spark.createDataFrame(
        [(0, "quick the fox jumps"), (1, "quick brown fox jumps"),
         (2, "fox the quick")],
        "doc_id long, content string",
    )
    out = str(tmp_path / "sp")
    build_index(spark, docs, out, n_shards=2, block_size=16,
                salt_threshold=100, n_salts=2,
                index_options="positions", stopwords=frozenset({"the"}))
    idx = CompressedIndex(spark, out)
    got = {d for d, _ in rows(idx.match_phrase_positional("quick fox", k=10))}
    assert got == {0}
    assert {d for d, _ in lrows(idx.match_phrase_local("quick fox", k=10))} == {0}
    # query-side analysis drops stopwords too: "quick the fox" == "quick fox"
    assert rows(idx.match_phrase_positional("quick the fox", k=10)) == rows(
        idx.match_phrase_positional("quick fox", k=10)
    )


def test_all_stopword_query_raises(sidx):
    with pytest.raises(ValueError, match="zero terms"):
        sidx.search("the of a", k=10)


def test_highlight_drops_stopwords(sidx, corpus):
    out = sidx.search_highlighted(
        "import class", corpus, k=5, source_text_col="content"
    ).collect()
    assert out
    for r in out:
        if r["snippet"] is None:
            continue
        toks = r["snippet"].replace("<em>", "").replace("</em>", "").split()
        assert not (set(toks) & STOP)
