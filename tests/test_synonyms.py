"""Synonym analyzer option (r5): the ES synonym token filter in replace
form (``src => dst``, 1:1 token mapping) — recorded in meta like
``analyzer_re``/``stopwords`` and honored by build, append, query
analysis, the positional phrase kernels and highlight.

Frozen chain order: lowercase → split → drop empties → synonyms →
stopwords. The 1:1 map preserves token count and position, so a synonym
index is EQUIVALENT to a default index over text with surface forms
textually replaced — the strongest gate: every query rank-identical
across the two builds.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from librecatastro_spark.analyzer import Analyzer
from librecatastro_spark.corpus import assign_doc_ids, generate_corpus
from librecatastro_spark.engine.wand import CompressedIndex
from librecatastro_spark.index.builder import build_index, read_meta

# canonicalize two surface forms onto existing corpus vocabulary
SYN = {"join": "merge", "scan": "query"}


def rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def lrows(pdf):
    return list(zip(pdf["doc_id"].tolist(), pdf["score"].tolist()))


@pytest.fixture(scope="module")
def corpus(spark):
    docs = generate_corpus(spark, 300, min_tokens=20, max_tokens=120, partitions=4)
    return assign_doc_ids(docs).cache()


@pytest.fixture(scope="module")
def replaced(spark, corpus):
    """The same corpus with surface forms textually replaced (default
    tokens mapped, rejoined with spaces) — the equivalence twin."""
    an = Analyzer()
    m = F.create_map(
        *[F.lit(x) for k in sorted(SYN) for x in (k, SYN[k])]
    )
    return corpus.withColumn(
        "content",
        F.array_join(
            F.transform(
                an.tokenize_expr("content"),
                lambda x: F.coalesce(F.element_at(m, x), x),
            ),
            " ",
        ),
    ).cache()


@pytest.fixture(scope="module")
def yidx(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("synidx"))
    build_index(
        spark, corpus, out, attr_cols=("repo", "lang"), n_shards=4,
        block_size=16, salt_threshold=120, n_salts=4,
        index_options="positions", synonyms=SYN,
    )
    return CompressedIndex(spark, out)


@pytest.fixture(scope="module")
def tidx(spark, replaced, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("replidx"))
    build_index(
        spark, replaced, out, attr_cols=("repo", "lang"), n_shards=4,
        block_size=16, salt_threshold=120, n_salts=4,
        index_options="positions",
    )
    return CompressedIndex(spark, out)


def test_meta_records_synonyms(yidx):
    assert read_meta(yidx.out_dir).synonyms == SYN


def test_synonym_index_equals_replaced_text_index(yidx, tidx):
    """Every query shape rank-identical between the synonym build and
    the default build over replaced text — df/cf merge, dl, positions
    and query analysis all agree."""
    # CANONICAL-vocabulary queries (surface-form queries analyze
    # differently on the default-analyzer twin by design — the synonym
    # map is the feature; surface==canonical is tested separately)
    for q in ("merge query", "spark merge", "sort query table"):
        assert rows(yidx.search(q, k=50)) == rows(tidx.search(q, k=50))
        assert lrows(yidx.search_local(q, k=50)) == lrows(
            tidx.search_local(q, k=50)
        )
    for ph in ("merge query", "sort merge"):
        a = rows(yidx.match_phrase_positional(ph, k=10_000))
        assert a == rows(tidx.match_phrase_positional(ph, k=10_000))
        assert lrows(yidx.match_phrase_local(ph, k=10_000)) == a


def test_surface_and_canonical_queries_identical(yidx):
    """Query analysis maps surface forms: searching "join" IS searching
    "merge" on this index."""
    assert rows(yidx.search("join", k=50)) == rows(yidx.search("merge", k=50))
    assert rows(yidx.match_phrase_positional("sort join", k=100)) == rows(
        yidx.match_phrase_positional("sort merge", k=100)
    )


def test_verify_first_phrase_alternates_surface_forms(spark, tmp_path):
    """match_phrase on a synonym index matches BOTH surface forms (both
    analyze to the canonical term the positions were indexed under), on
    both routes, including a doc that uses the mapped surface form."""
    docs = spark.createDataFrame(
        [(0, "fast join path alpha"), (1, "fast merge path beta"),
         (2, "merge fast path gamma"), (3, "fast query path delta")],
        "doc_id long, content string",
    )
    out = str(tmp_path / "vsyn")
    build_index(spark, docs, out, n_shards=2, block_size=16,
                salt_threshold=100, n_salts=2,
                index_options="positions", synonyms={"join": "merge"})
    idx = CompressedIndex(spark, out)
    po = rows(idx.match_phrase("fast join", k=100))
    lo = lrows(idx.match_phrase_local("fast join", k=100))
    assert lo == po
    assert {d for d, _ in po} == {0, 1}  # both surface forms, not doc 2/3
    # highlight maps surface forms to canonical in the fragment
    out_hl = {
        r["doc_id"]: r["snippet"]
        for r in idx.search_highlighted(
            "join", docs, k=10, source_text_col="content"
        ).collect()
    }
    assert out_hl and all("<em>merge</em>" in s for s in out_hl.values())
    # documented divergence from ES: doc 0 wrote the surface form, and its
    # snippet shows the canonical one
    assert "join" not in out_hl[0]


@pytest.mark.parametrize("syn", [
    {"alpha": "beta", "beta": "gamma"},  # chain
    {"alpha": "beta", "beta": "alpha"},  # 2-cycle
])
def test_chained_or_cyclic_synonyms_rejected(spark, corpus, tmp_path, syn):
    """The Arrow build path rewrites pair by pair while query analysis
    maps each token once, so a map whose target is itself a mapped
    source would index a surface form under a term no query reaches:
    Analyzer and build_index both reject it, before any write."""
    with pytest.raises(ValueError, match="chains"):
        Analyzer(synonyms=syn)
    out = tmp_path / "chained"
    with pytest.raises(ValueError, match="chains"):
        build_index(spark, corpus, str(out), n_shards=2, synonyms=syn)
    assert not out.exists()
    assert Analyzer(synonyms=SYN).analyze("join scan") == ["merge", "query"]


def test_append_honors_synonyms(spark, tmp_path):
    from librecatastro_spark.streaming.incremental import append_batch

    docs = spark.createDataFrame(
        [(0, "fast join alpha"), (1, "slow merge beta")],
        "doc_id long, content string",
    )
    out = str(tmp_path / "asyn")
    build_index(spark, docs, out, n_shards=2, block_size=16,
                salt_threshold=100, n_salts=2, synonyms={"join": "merge"})
    batch = spark.createDataFrame(
        [(2, "another join gamma")], "doc_id long, content string"
    )
    append_batch(spark, out, batch, text_col="content")
    idx = CompressedIndex(spark, out)
    got = {d for d, _ in rows(idx.search("merge", k=10))}
    assert got == {0, 1, 2}  # the appended surface "join" indexed as merge


def test_significant_terms_counts_with_index_analyzer(yidx, tidx, corpus, replaced):
    """The foreground is tokenized with the index's analyzer: a matched
    doc that wrote only the surface form "join" counts toward "merge",
    so the synonym index and its replaced-text twin agree term for
    term."""
    from librecatastro_spark.analyzer import analyze_text

    matched = [
        set(analyze_text(r["content"]))
        for r in corpus.join(yidx.match_doc_ids("merge"), "doc_id", "left_semi")
        .select("content").collect()
    ]
    assert any("join" in t and "merge" not in t for t in matched)
    assert any("merge" in t for t in matched)
    got = yidx.significant_terms("merge", corpus, top_n=20).collect()
    assert got and got == tidx.significant_terms("merge", replaced, top_n=20).collect()
