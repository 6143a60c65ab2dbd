"""match_phrase (ES match_phrase analog, slop 0) — exactness gates.

Semantics frozen by analyzer.phrase_expr: a document matches iff its
ANALYZED token sequence contains the query's analyzed sequence
contiguously (order + duplicates matter); score = BM25 sum over the
phrase's distinct terms (the require_all score). Both engine paths
(ExactBM25.match_phrase and CompressedIndex.match_phrase, which answers
from the positional postings of an index built with
index_options="positions") must be rank-identical, and both must agree
with a driver-side Python replica of the predicate.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from librecatastro_spark.analyzer import analyze_text, phrase_expr
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
    out = str(tmp_path_factory.mktemp("pidx"))
    build_index(
        spark, corpus, out, attr_cols=("repo", "path", "lang"),
        n_shards=4, block_size=16, salt_threshold=120, n_salts=4,
        index_options="positions",
    )
    return CompressedIndex(spark, out)


def rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _py_phrase_docs(corpus, phrase: str) -> set[int]:
    """Driver-side replica: contiguous subsequence over analyzed tokens."""
    seq = analyze_text(phrase)
    out = set()
    for r in corpus.select("doc_id", "content").collect():
        toks = analyze_text(r["content"])
        n, m = len(toks), len(seq)
        if any(toks[i:i + m] == seq for i in range(n - m + 1)):
            out.add(r["doc_id"])
    return out


@pytest.fixture(scope="module")
def live_phrase(corpus):
    """Pick a bigram that actually occurs in the generated corpus so the
    test never goes vacuous if the generator's vocabulary drifts."""
    row = (
        corpus.select(F.explode(F.split(F.lower("content"), "[^a-z0-9_]+")).alias("t"))
        .where(F.col("t") != "")
        .groupBy("t").count().orderBy(F.desc("count"), F.asc("t")).limit(2)
        .collect()
    )
    hot = [r["t"] for r in row]
    # scan for an existing adjacent pair among hot-term combinations
    for a in hot:
        for b in hot:
            docs = corpus.where(phrase_expr("content", [a, b])).limit(1).count()
            if docs:
                return f"{a} {b}"
    pytest.skip("no adjacent hot bigram in generated corpus")


PHRASES = ["def return", "spark session builder", "return return", "import def"]


@pytest.mark.parametrize("phrase", PHRASES)
def test_phrase_paths_rank_identical(exact, wand, phrase):
    e = rows(exact.match_phrase(phrase, k=10))
    w = rows(wand.match_phrase(phrase, k=10))
    assert e == w


def test_phrase_match_set_is_exact_subsequence(exact, corpus, live_phrase):
    want = _py_phrase_docs(corpus, live_phrase)
    assert want, "live_phrase fixture must return an occurring bigram"
    got = {r["doc_id"] for r in exact.match_phrase(live_phrase, k=10_000).collect()}
    assert got == want


def test_phrase_subset_of_and_match(exact, wand):
    """Every phrase hit must be in the AND (require_all) match set, and a
    phrase can only shrink the set, never grow it."""
    phrase = "def return"
    and_docs = {r["doc_id"] for r in exact.search(phrase, k=10_000, require_all=True).collect()}
    ph_docs = {
        r["doc_id"]
        for r in wand.match_phrase(phrase, k=10_000).collect()
    }
    assert ph_docs <= and_docs


def _py_sloppy_docs(corpus, phrase: str, slop: int) -> set[int]:
    """Driver-side replica of per-gap slop: terms in order, <= slop
    intervening tokens between each consecutive pair."""
    seq = analyze_text(phrase)
    out = set()
    for r in corpus.select("doc_id", "content").collect():
        toks = analyze_text(r["content"])
        starts = [i for i, t in enumerate(toks) if t == seq[0]]

        def ok(i, rest):
            if not rest:
                return True
            for j in range(i + 1, min(i + 2 + slop, len(toks))):
                if toks[j] == rest[0] and ok(j, rest[1:]):
                    return True
            return False

        if any(ok(i, seq[1:]) for i in starts):
            out.add(r["doc_id"])
    return out


@pytest.mark.parametrize("slop", [1, 2])
def test_sloppy_phrase_paths_and_semantics(exact, wand, corpus, slop):
    phrase = "def return"
    e = rows(exact.match_phrase(phrase, k=10_000, slop=slop))
    w = rows(wand.match_phrase(phrase, k=10_000, slop=slop))
    assert e == w
    assert {d for d, _ in e} == _py_sloppy_docs(corpus, phrase, slop)


def test_slop_monotone_match_set(exact):
    phrase = "def return"
    sets = [
        {r["doc_id"] for r in exact.match_phrase(phrase, k=10_000, slop=s).collect()}
        for s in (0, 1, 3)
    ]
    assert sets[0] <= sets[1] <= sets[2]
    assert sets[0] < sets[2], "slop must widen the match set on this corpus"


def test_phrase_duplicate_term_sequence_semantics(spark):
    """'batch batch' must require ADJACENT duplicates — a doc with two
    scattered 'batch' tokens matches AND but not the phrase."""
    docs = spark.createDataFrame(
        [
            (0, "batch batch stream"),       # phrase hit
            (1, "batch stream batch"),       # AND hit, phrase miss
            (2, "stream batch"),             # single term only
        ],
        "doc_id long, content string",
    )
    eng = ExactBM25(docs)
    and_ids = {r["doc_id"] for r in eng.search("batch batch", k=10, require_all=True).collect()}
    ph_ids = {r["doc_id"] for r in eng.match_phrase("batch batch", k=10).collect()}
    assert and_ids == {0, 1, 2}  # distinct-term AND: just 'batch'
    assert ph_ids == {0}


def test_phrase_order_matters(spark):
    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "beta alpha")], "doc_id long, content string"
    )
    eng = ExactBM25(docs)
    assert {r["doc_id"] for r in eng.match_phrase("alpha beta").collect()} == {0}
    assert {r["doc_id"] for r in eng.match_phrase("beta alpha").collect()} == {1}


def test_phrase_boundaries_not_substring(spark):
    """Token-boundary exactness: 'cat' must not phrase-match 'catalog',
    and the sentinel padding must let a phrase match at doc start/end."""
    docs = spark.createDataFrame(
        [
            (0, "cat dog"),         # phrase at doc start
            (1, "big cat dog"),     # phrase at doc end
            (2, "catalog dog"),     # substring trap
            (3, "cat dogma"),       # second-term substring trap
        ],
        "doc_id long, content string",
    )
    eng = ExactBM25(docs)
    assert {r["doc_id"] for r in eng.match_phrase("cat dog", k=10).collect()} == {0, 1}


def test_phrase_rlike_equals_array_form(spark):
    """phrase_rlike_expr (the Catalyst RLIKE form, ExactBM25's sloppy
    predicate and the DuckDB twin's pattern) must agree with phrase_expr
    (token-array form, the ExactBM25 slop-0 predicate) on every boundary
    case: string start/end, trailing newline (the `$`-vs-`\\z` trap),
    unicode and punctuation separators, substring-vs-token, duplicate
    terms, case."""
    from librecatastro_spark.analyzer import phrase_rlike_expr

    texts = [
        "def return",                      # exact, whole string
        "def return\n",                    # trailing newline after phrase
        "x def return",                    # end-anchored
        "def return x",                    # start-anchored
        "abcdef return",                   # t1 is a suffix of a token
        "def returning",                   # t2 is a prefix of a token
        "def  \t\n!@# return",             # multi-char separator run
        "DEF Return",                      # lowercase analyzer
        "def ñ return",                    # non-ascii separator between
        "def",                             # phrase longer than text
        "", "   ", "return def",           # empty / order
        "def def return",                  # duplicate then phrase
        "xdef return", "def returnx",      # maximality violations
    ]
    seqs = [["def", "return"], ["def"], ["def", "def", "return"]]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    for seq in seqs:
        a = {r["i"] for r in df.where(phrase_expr("t", seq)).collect()}
        b = {r["i"] for r in df.where(phrase_rlike_expr("t", seq)).collect()}
        assert a == b, (seq, a ^ b)


def test_phrase_absent_term_returns_empty(exact, wand):
    assert rows(exact.match_phrase("def zzznotindexed")) == []
    assert rows(wand.match_phrase("def zzznotindexed")) == []


def test_phrase_zero_terms_raises(exact, wand):
    with pytest.raises(ValueError):
        exact.match_phrase("!!!")
    with pytest.raises(ValueError):
        wand.match_phrase("!!!")


# ---------------------------------------------------------------- fuzzy --


@pytest.mark.parametrize("q,d", [("retur", 1), ("clsas", 2), ("impor", 1), ("lambda", 0)])
def test_fuzzy_paths_identical(exact, wand, q, d):
    e = rows(exact.fuzzy_term_search(q, k=50, max_edits=d))
    w = rows(wand.fuzzy_term_search(q, k=50, max_edits=d))
    assert e == w


def test_fuzzy_matches_python_levenshtein(exact, corpus):
    """The match set equals a driver-side replica over analyzed tokens."""
    import difflib  # noqa: F401  (documentation only; we hand-roll DP)

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    q, d = "retur", 1
    want = set()
    for r in corpus.select("doc_id", "content").collect():
        if any(lev(t, q) <= d for t in set(analyze_text(r["content"]))):
            want.add(r["doc_id"])
    got = {r["doc_id"] for r in exact.fuzzy_term_search(q, k=10_000, max_edits=d).collect()}
    assert got == want and got


def test_fuzzy_prefix_len_constrains(exact, wand):
    """prefix_len=1 keeps only expansions sharing the first letter —
    identical on both paths and a subset of the unconstrained set."""
    free = {r["doc_id"] for r in wand.fuzzy_term_search("retur", k=10_000).collect()}
    pinned_w = rows(wand.fuzzy_term_search("retur", k=10_000, prefix_len=1))
    pinned_e = rows(exact.fuzzy_term_search("retur", k=10_000, prefix_len=1))
    assert pinned_w == pinned_e
    assert {d for d, _ in pinned_w} <= free


def test_fuzzy_no_candidates_empty(exact, wand):
    assert rows(exact.fuzzy_term_search("zzzzqqqqxxxx", max_edits=1)) == []
    assert rows(wand.fuzzy_term_search("zzzzqqqqxxxx", max_edits=1)) == []


def test_fuzzy_multiword_raises(exact, wand):
    with pytest.raises(ValueError):
        exact.fuzzy_term_search("two words")
    with pytest.raises(ValueError):
        wand.fuzzy_term_search("two words")


# ------------------------------------------------------------ highlight --


def test_highlight_window_and_wrapping(spark):
    from librecatastro_spark.engine.highlight import highlight_snippets

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f TARGET g h i j k l"),   # centered window
            (1, "target x y z q w e r t y u"),       # hit at doc start
            (2, "x y z q w e r t y u target"),       # hit at doc end
            (3, "nothing here"),                     # no hit -> no row
            (4, "pre target mid target post"),       # first occurrence wins
        ],
        "doc_id long, content string",
    )
    got = {
        r["doc_id"]: r["snippet"]
        for r in highlight_snippets(docs, ["target"], frag_tokens=2).collect()
    }
    assert got[0] == "e f <em>target</em> g h"
    assert got[1] == "<em>target</em> x y"
    assert got[2] == "y u <em>target</em>"
    assert 3 not in got
    # window centered on FIRST hit; the second hit inside the window is
    # wrapped too
    assert got[4] == "pre <em>target</em> mid <em>target</em>"


def test_highlight_paths_identical(exact, wand, corpus):
    e = {
        (r["doc_id"], r["score"], r["snippet"])
        for r in exact.search_highlighted("def return", k=10).collect()
    }
    w = {
        (r["doc_id"], r["score"], r["snippet"])
        for r in wand.search_highlighted(
            "def return", corpus, k=10, source_text_col="content"
        ).collect()
    }
    assert e == w and len(e) == 10


def test_highlight_requires_terms(spark):
    from librecatastro_spark.engine.highlight import highlight_snippets

    with pytest.raises(ValueError):
        highlight_snippets(spark.range(1), [])


# ------------------------------------------------------- more_like_this --


@pytest.mark.parametrize("doc", [0, 7, 201, 399])
def test_mlt_paths_rank_identical(exact, wand, corpus, doc):
    e = rows(exact.more_like_this(doc, k=10, max_query_terms=8))
    w = rows(wand.more_like_this(doc, corpus, k=10, max_query_terms=8,
                                 source_text_col="content"))
    assert e == w and len(e) > 0


def test_mlt_excludes_source_doc(exact, wand, corpus):
    for doc in (0, 7):
        assert doc not in {d for d, _ in rows(exact.more_like_this(doc, k=1000))}
        assert doc not in {
            d for d, _ in
            rows(wand.more_like_this(doc, corpus, k=1000, source_text_col="content"))
        }


def test_mlt_missing_doc_empty(exact, wand, corpus):
    assert rows(exact.more_like_this(10**9)) == []
    assert rows(wand.more_like_this(10**9, corpus, source_text_col="content")) == []


def test_mlt_term_selection_rule(spark):
    """mlt_select_terms: tf desc, then rarer (df asc), then term asc;
    min_term_freq / min_doc_freq thresholds apply before the cut."""
    from librecatastro_spark.engine.exact import mlt_select_terms

    toks = ["b", "b", "a", "a", "c", "d", "d", "d", "rareonce"]
    dfs = {"a": 5, "b": 2, "c": 9, "d": 9, "rareonce": 1}
    # tf: d=3 > (a=2,b=2) > (c=1, rareonce=1); b beats a on df; rareonce
    # dropped by min_doc_freq=2
    assert mlt_select_terms(toks, dfs, 10, 1, 2) == ["d", "b", "a", "c"]
    assert mlt_select_terms(toks, dfs, 2, 1, 2) == ["d", "b"]
    assert mlt_select_terms(toks, dfs, 10, 2, 2) == ["d", "b", "a"]
    assert mlt_select_terms([], dfs, 10, 1, 1) == []


def _py_phrase_prefix_docs(corpus, phrase: str) -> set[int]:
    """Driver-side replica: complete terms adjacent in order, then a
    token starting with the last analyzed token."""
    seq = analyze_text(phrase)
    complete, pfx = seq[:-1], seq[-1]
    out = set()
    for r in corpus.select("doc_id", "content").collect():
        toks = analyze_text(r["content"])
        for i in range(len(toks) - len(complete)):
            if toks[i:i + len(complete)] == complete and toks[
                i + len(complete)
            ].startswith(pfx):
                out.add(r["doc_id"])
                break
    return out


def test_phrase_prefix_paths_and_semantics(exact, wand, corpus):
    phrase = "def re"  # 'def return', 'def result', ... in the generator vocab
    e = rows(exact.match_phrase_prefix(phrase, k=10_000))
    w = rows(wand.match_phrase_prefix(phrase, k=10_000))
    assert e == w
    assert {d for d, _ in e} == _py_phrase_prefix_docs(corpus, phrase)
    assert e, "phrase prefix must match on this corpus"


def test_phrase_prefix_superset_of_full_phrase(exact):
    """Every 'def return' phrase doc must also match prefix 'def re'."""
    full = {r["doc_id"] for r in exact.match_phrase("def return", k=10_000).collect()}
    pre = {r["doc_id"] for r in exact.match_phrase_prefix("def re", k=10_000).collect()}
    assert full <= pre and full < pre or full == pre


def test_phrase_prefix_single_token_constant_score(exact, wand):
    """One analyzed token -> pure type-ahead: constant score, doc_id ASC,
    identical across engines."""
    e = exact.match_phrase_prefix("re", k=20).collect()
    w = wand.match_phrase_prefix("re", k=20).collect()
    assert [(r["doc_id"], r["score"]) for r in e] == [
        (r["doc_id"], r["score"]) for r in w
    ]
    assert all(r["score"] == 1.0 for r in e)
    ids = [r["doc_id"] for r in e]
    assert ids == sorted(ids) and ids
