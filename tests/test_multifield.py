"""multi_match (ES best_fields / most_fields over per-field sub-indexes).

Exactness gates: MultiFieldIndex.multi_match must be rank-identical to
the DataFrame twin (multi_match_exact over per-field ExactBM25 engines)
for every combine semantics, including terms that exist in only one
field's vocabulary. The per-shard combine is only exact because all
sub-indexes share the doc-id range split — the n_shards-mismatch guard
is tested too.
"""

from __future__ import annotations

import os

import pytest

from librecatastro_spark.corpus import assign_doc_ids, generate_corpus
from librecatastro_spark.engine import ExactBM25
from librecatastro_spark.engine.multifield import MultiFieldIndex, multi_match_exact
from librecatastro_spark.index.builder import build_index


@pytest.fixture(scope="module")
def corpus(spark):
    docs = generate_corpus(spark, 300, min_tokens=20, max_tokens=120, partitions=4)
    return assign_doc_ids(docs).cache()


@pytest.fixture(scope="module")
def exact_engines(corpus):
    # path tokens: src, modN, fileNNN, py/go/rs/... — a real second field
    return {
        "content": ExactBM25(corpus, text_col="content", cache=True),
        "path": ExactBM25(corpus, text_col="path", cache=True),
    }


@pytest.fixture(scope="module")
def mf(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("mf_idx"))
    return MultiFieldIndex.build(
        spark, corpus, out, fields=("content", "path"),
        n_shards=4, block_size=16,
    )


def rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


QUERIES = [
    "def mod4",        # one hot content term + one path-only term
    "py return",       # extension token (path) + hot content term
    "src",             # appears in EVERY path — max-df field term
    "id0042 file3",    # rare in both fields
]


@pytest.mark.parametrize("q", QUERIES)
def test_best_fields_rank_identical(exact_engines, mf, q):
    e = rows(multi_match_exact(exact_engines, q, k=15))
    w = rows(mf.multi_match(q, k=15))
    assert e == w and len(e) > 0


@pytest.mark.parametrize("q", QUERIES[:2])
def test_tie_breaker_rank_identical(exact_engines, mf, q):
    e = rows(multi_match_exact(exact_engines, q, k=15, tie_breaker=0.3))
    w = rows(mf.multi_match(q, k=15, tie_breaker=0.3))
    assert e == w and len(e) > 0


@pytest.mark.parametrize("q", QUERIES[:2])
def test_most_fields_rank_identical(exact_engines, mf, q):
    e = rows(multi_match_exact(exact_engines, q, k=15, match_type="most_fields"))
    w = rows(mf.multi_match(q, k=15, match_type="most_fields"))
    assert e == w and len(e) > 0


def test_best_fields_is_max_most_fields_is_sum(exact_engines, mf):
    """On a term hit in both fields, every doc's best_fields score equals
    its max raw per-field score and most_fields its sum, each rounded
    once (spot-check the combine math against the single-field
    engines)."""
    q = "src def"
    per_field = {
        f: dict(rows(eng.match_scores(q)))
        for f, eng in exact_engines.items()
    }
    best = dict(rows(mf.multi_match(q, k=10**6)))
    most = dict(rows(mf.multi_match(q, k=10**6, match_type="most_fields")))
    assert set(best) == set(per_field["content"]) | set(per_field["path"])
    for d, s in best.items():
        a = per_field["content"].get(d, 0.0)
        b = per_field["path"].get(d, 0.0)
        assert s == round(max(a, b), 4)
        assert most[d] == round(a + b, 4)


def test_offset_pages_tile(exact_engines, mf):
    full = rows(mf.multi_match("def mod4", k=20))
    p1 = rows(mf.multi_match("def mod4", k=10))
    p2 = rows(mf.multi_match("def mod4", k=10, offset=10))
    assert p1 + p2 == full


def test_field_without_query_terms_is_skipped(exact_engines, mf):
    # "return" never tokenizes out of any path — path sub-index contributes
    # nothing and the result equals the content-only ranking
    e = rows(exact_engines["content"].search("return", k=15))
    w = rows(mf.multi_match("return", k=15))
    assert e == w


def test_unknown_type_and_zero_terms_raise(mf):
    with pytest.raises(ValueError):
        mf.multi_match("def", match_type="cross_fields")
    with pytest.raises(ValueError):
        mf.multi_match("!!!")


def test_mismatched_shard_split_rejected(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("mf_bad"))
    build_index(spark, corpus, os.path.join(out, "field=content"),
                text_col="content", n_shards=4, block_size=16)
    build_index(spark, corpus, os.path.join(out, "field=path"),
                text_col="path", n_shards=2, block_size=16)
    with pytest.raises(ValueError, match="n_shards"):
        MultiFieldIndex(spark, out)


@pytest.mark.parametrize("kw", [
    dict(),
    dict(tie_breaker=0.3),
    dict(match_type="most_fields"),
    dict(offset=5),
])
def test_multi_match_local_rank_identical(exact_engines, mf, kw):
    """The coordinator fast path must return the distributed page exactly
    (same per-field kernel, same combine, decoded-postings cache on)."""
    want = rows(mf.multi_match("def mod4", k=8, **kw))
    pdf = mf.multi_match_local("def mod4", k=8, **kw)
    got = list(zip(pdf["doc_id"].tolist(), pdf["score"].tolist()))
    assert got == want and len(got) > 0


from librecatastro_spark.engine.multifield import cross_fields_exact


@pytest.mark.parametrize("q", QUERIES[:3])
def test_cross_fields_rank_identical(exact_engines, mf, q):
    e = rows(cross_fields_exact(exact_engines, q, k=15))
    w = rows(mf.multi_match_cross_fields(q, k=15))
    assert e == w and len(e) > 0


def test_cross_fields_term_centric_vs_best_fields(exact_engines, mf):
    """cross_fields takes the max PER TERM, best_fields per WHOLE score:
    for a doc matching term A best in field 1 and term B best in field 2,
    cross_fields >= best_fields; verify on the full ranking and confirm a
    strict improvement occurs somewhere (mod4 lives only in path, def
    only in content)."""
    q = "def mod4"
    cf = dict(rows(mf.multi_match_cross_fields(q, k=10**6)))
    bf = dict(rows(mf.multi_match(q, k=10**6)))
    assert set(cf) == set(bf)
    assert all(cf[d] >= bf[d] - 1e-9 for d in cf)
    assert any(cf[d] > bf[d] + 1e-9 for d in cf)


def test_cross_fields_offset_pages_tile(exact_engines, mf):
    full = rows(mf.multi_match_cross_fields("def mod4", k=20))
    p1 = rows(mf.multi_match_cross_fields("def mod4", k=10))
    p2 = rows(mf.multi_match_cross_fields("def mod4", k=10, offset=10))
    assert p1 + p2 == full


def test_per_field_analyzer_seam(spark, tmp_path):
    """ES per-field analyzer hook (r4): a field built with a custom
    boundary pattern tokenizes its OWN way at build, append, and query
    time — queries analyze per field with that field's recorded
    analyzer (meta.analyzer_re), so dotted tokens match the dotted
    field without perturbing the default field."""
    from librecatastro_spark.engine.wand import CompressedIndex
    from librecatastro_spark.index.builder import read_meta

    DOT_RE = "[^a-z0-9_.]+"  # keeps '.' inside tokens
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma", "pkg.mod"),
            (1, "alpha.beta delta", "pkgmod"),
            (2, "epsilon zeta", "other.thing"),
        ],
        "doc_id long, body string, path string",
    )
    out = str(tmp_path / "mfa")
    mf = MultiFieldIndex.build(
        spark, docs, out, fields=("body", "path"),
        analyzers={"path": DOT_RE}, n_shards=2, block_size=16,
    )
    assert read_meta(os.path.join(out, "field=path")).analyzer_re == DOT_RE
    assert read_meta(os.path.join(out, "field=body")).analyzer_re is None
    # 'pkg.mod' under the path analyzer is ONE token -> only doc 0's
    # path contains it; under body's default it splits to pkg+mod,
    # absent from every body
    got = {d for d, _ in rows(mf.multi_match("pkg.mod", k=10))}
    assert got == {0}
    # 'alpha.beta': body default splits -> docs 0 and 1 match via body;
    # the path field's single dotted token matches nothing
    got = {d for d, _ in rows(mf.multi_match("alpha.beta", k=10))}
    assert got == {0, 1}
    # local twin agrees under per-field analysis
    lo = mf.multi_match_local("pkg.mod", k=10)
    assert list(lo["doc_id"]) == [0]
    # default-analyzer fields are untouched by the seam: a pure-body
    # query scores identically through the single-field index
    single = CompressedIndex(spark, os.path.join(out, "field=body"))
    assert rows(mf.multi_match("gamma", k=10)) == [
        (r["doc_id"], r["score"]) for r in single.search("gamma", k=10).collect()
    ]
    # append honors the custom analyzer: a new doc with a dotted path
    # becomes searchable under the SAME dotted token rules
    from librecatastro_spark.streaming.incremental import append_batch

    extra = spark.createDataFrame(
        [(3, "eta theta", "pkg.mod")], "doc_id long, body string, path string"
    )
    append_batch(spark, os.path.join(out, "field=path"), extra,
                 text_col="path")
    pidx = CompressedIndex(spark, os.path.join(out, "field=path"))
    got = {r["doc_id"] for r in pidx.search("pkg.mod", k=10).collect()}
    assert got == {0, 3}


def test_per_field_analyzer_full_chain(spark, tmp_path):
    """r5: the per-field analyzer spec accepts the FULL chain — split
    pattern, stopwords and synonyms per field — recorded in each
    sub-index's meta and honored by per-field query analysis."""
    from librecatastro_spark.index.builder import read_meta

    docs = spark.createDataFrame(
        [
            (0, "the quick join path", "pkg.mod"),
            (1, "slow merge path", "pkgmod"),
            (2, "the quick stop", "other.thing"),
        ],
        "doc_id long, body string, path string",
    )
    out = str(tmp_path / "mfc")
    mf = MultiFieldIndex.build(
        spark, docs, out, fields=("body", "path"),
        analyzers={
            "body": {"stopwords": ["the"], "synonyms": {"join": "merge"}},
            "path": "[^a-z0-9_.]+",  # plain-string spec still works
        },
        n_shards=2, block_size=16,
    )
    bm = read_meta(os.path.join(out, "field=body"))
    assert bm.stopwords == ["the"] and bm.synonyms == {"join": "merge"}
    assert read_meta(os.path.join(out, "field=path")).analyzer_re == "[^a-z0-9_.]+"
    # body: "join" analyzes to "merge" -> docs 0 (surface join) and 1
    got = {d for d, _ in rows(mf.multi_match("join", k=10))}
    assert got == {0, 1}
    # stopword vanishes from body analysis: "the merge" == "merge"
    assert rows(mf.multi_match("the merge", k=10)) == rows(
        mf.multi_match("merge", k=10)
    )
    # dotted path field untouched by body's filters
    got = {d for d, _ in rows(mf.multi_match("pkg.mod", k=10))}
    assert got == {0}
    with pytest.raises(ValueError, match="spec"):
        MultiFieldIndex.build(
            spark, docs, str(tmp_path / "bad"), fields=("body",),
            analyzers={"body": 42}, n_shards=2,
        )
    with pytest.raises(ValueError, match="unknown analyzer spec"):
        MultiFieldIndex.build(
            spark, docs, str(tmp_path / "bad2"), fields=("body",),
            analyzers={"body": {"stemmer": "en"}}, n_shards=2,
        )
