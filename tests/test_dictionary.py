"""The resident term dictionary (``wand._Dictionary``) against two
references, term for term.

Every expansion query (fuzzy, wildcard, regexp) keeps the best
``max_expansions`` matched terms by (-df, term). On a resident index the
driver filters the term-sorted table (a range, a length band and a
batched Levenshtein DP, or RE2); on an index whose dictionary is not
resident a Catalyst term_stats scan does it (``_cap_expansion``). Both
must keep exactly the terms of the scan oracle below — a Python walk
over a dict built from term_stats, with the classic per-pair Levenshtein
and CPython ``re`` — in the same order. The dictionary's lookups
(``_dfs``, ``_df_sum``, ``_phrase_decode_estimate``, the prefix
estimate) must equal the same dict's, and a distributed expansion on a
resident index runs one Spark job: the tail.
"""

from __future__ import annotations

import itertools
import re

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from librecatastro_spark.corpus import assign_doc_ids, generate_corpus
from librecatastro_spark.engine import wand
from librecatastro_spark.engine.wand import CompressedIndex
from librecatastro_spark.index.builder import build_index

ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789_"
SETTINGS = settings(
    max_examples=20, deadline=None, derandomize=True, database=None,
    suppress_health_check=[HealthCheck.too_slow],
)


@pytest.fixture(scope="module")
def ix(spark, tmp_path_factory):
    docs = assign_doc_ids(
        generate_corpus(spark, 300, min_tokens=10, max_tokens=80, partitions=2)
    )
    out = str(tmp_path_factory.mktemp("dictidx"))
    build_index(spark, docs, out, n_shards=2, block_size=16, resume=False)
    return CompressedIndex(spark, out)


@pytest.fixture(scope="module")
def cold(spark, ix):
    """The same index opened with no resident dictionary."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(CompressedIndex, "_LOCAL_TERMSTATS_BYTES", 0)
        c = CompressedIndex(spark, ix.out_dir)
    assert c._dict is None and ix._dict is not None
    yield c
    c.term_stats.unpersist()


@pytest.fixture(scope="module")
def stats(ix):
    """term -> (df, cf), straight from the term_stats table."""
    return {r["term"]: (r["df"], r["cf"]) for r in ix.term_stats.collect()}


# ------------------------------------------------------- scan oracle --

def lev_within(a: str, b: str, max_edits: int) -> bool:
    """Classic Levenshtein distance(a, b) <= max_edits, one full DP per
    pair with a per-row early exit."""
    if abs(len(a) - len(b)) > max_edits:
        return False
    prev = list(range(len(b) + 1))
    for i in range(1, len(a) + 1):
        cur = [i] + [0] * len(b)
        for j in range(1, len(b) + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                         prev[j - 1] + (a[i - 1] != b[j - 1]))
        if min(cur) > max_edits:
            return False
        prev = cur
    return prev[-1] <= max_edits


def walk(stats, match, n):
    """The scan oracle: every term passing ``match``, best ``n`` by
    (-df, term)."""
    hits = sorted((-df, t) for t, (df, _) in stats.items() if match(t))
    return [t for _, t in hits[:n]]


def fuzzy_oracle(stats, q, max_edits, prefix_len, n):
    return walk(stats, lambda t: t.startswith(q[:prefix_len])
                and lev_within(t, q, max_edits), n)


def regex_oracle(stats, rx, n):
    return walk(stats, re.compile(rx).match, n)


def expansion(index, method, *args, **kwargs):
    """The terms ``method`` expands to, in cut order: the constant-score
    tail is replaced by one that returns them."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(index, "_constant_score_docs",
                   lambda k, est, terms, local: list(terms))
        return getattr(index, method)(*args, **kwargs)


# ------------------------------------------------------------ inputs --

@st.composite
def edited(draw, vocab):
    """A vocabulary term or a random string, with 0-2 random edits."""
    t = draw(st.one_of(st.sampled_from(vocab), st.text(ALPHABET, min_size=1, max_size=9)))
    for _ in range(draw(st.integers(0, 2))):
        i = draw(st.integers(0, len(t)))
        c = draw(st.sampled_from(ALPHABET))
        t = draw(st.sampled_from([
            t[:i] + c + t[i:], t[:i] + c + t[i + 1:], t[:i] + t[i + 1:]
        ])) or c
    return t


@st.composite
def wildcard(draw, vocab):
    """A vocabulary term with ``?`` / ``*`` substituted for characters,
    optionally behind a leading ``*``."""
    t = list(draw(st.sampled_from(vocab)))
    for _ in range(draw(st.integers(1, 3))):
        i = draw(st.integers(0, len(t) - 1))
        t[i] = draw(st.sampled_from("?*"))
    return "*" * draw(st.booleans()) + "".join(t)


@st.composite
def regexp(draw, vocab):
    """A small regex in the Java ∩ RE2 ∩ sre subset: one or two literal
    heads from the vocabulary, then a class, wildcard or quantifier."""
    heads = [draw(st.sampled_from(vocab))[:draw(st.integers(1, 3))]
             for _ in range(draw(st.integers(1, 2)))]
    head = heads[0] if len(heads) == 1 else "(" + "|".join(heads) + ")"
    return head + draw(st.sampled_from(
        ["", ".*", "[a-z]+", "[0-9]*", ".?", "[a-m].{0,3}", "(e|s)?", "_?[0-9]{2,}"]
    ))


# ------------------------------------------------------------- tests --

def test_within_edits_matches_pairwise_dp():
    """The batched DP equals the per-pair DP on every pair of a small
    alphabet's short strings (insert, delete, substitute at every
    place), for each bound."""
    words = ["".join(p) for n in range(1, 4) for p in itertools.product("ab_", repeat=n)]
    arr = np.array(words, dtype=object)
    for q in ("a", "ab", "ba_", "abab"):
        for e in (0, 1, 2):
            got = wand._within_edits(arr, q, e).tolist()
            assert got == [lev_within(w, q, e) for w in words], (q, e)
    assert wand._within_edits(arr[:0], "a", 1).tolist() == []


def test_fuzzy_expansion_equals_both_references(ix, cold, stats):
    vocab = sorted(stats)

    @SETTINGS
    @given(edited(vocab), st.integers(1, 2), st.integers(0, 2), st.integers(1, 50))
    def check(q, e, p, n):
        kw = dict(max_edits=e, prefix_len=p, max_expansions=n)
        want = fuzzy_oracle(stats, q, e, p, n)
        assert expansion(ix, "fuzzy_term_search_local", q, **kw) == want
        assert expansion(ix, "fuzzy_term_search", q, **kw) == want
        assert expansion(cold, "fuzzy_term_search", q, **kw) == want

    check()


def test_wildcard_expansion_equals_both_references(ix, cold, stats):
    vocab = sorted(stats)

    @SETTINGS
    @given(wildcard(vocab), st.integers(1, 50))
    def check(pat, n):
        want = regex_oracle(stats, wand._wildcard_regex(pat), n)
        assert expansion(ix, "wildcard_term_search_local", pat, max_expansions=n) == want
        assert expansion(cold, "wildcard_term_search", pat, max_expansions=n) == want

    check()
    # a full-vocabulary pattern cut to its best terms
    assert expansion(ix, "wildcard_term_search", "*", max_expansions=7) == \
        regex_oracle(stats, ".*", 7)


def test_regexp_expansion_equals_both_references(ix, cold, stats):
    vocab = sorted(stats)

    @SETTINGS
    @given(regexp(vocab), st.integers(1, 50))
    def check(rx, n):
        want = regex_oracle(stats, f"^(?:{rx})$", n)
        assert expansion(ix, "regexp_term_search_local", rx, max_expansions=n) == want
        assert expansion(cold, "regexp_term_search", rx, max_expansions=n) == want

    check()


def test_dictionary_reads_equal_term_stats(ix, stats):
    """``_dfs``, ``_df_sum``, ``_phrase_decode_estimate`` and
    ``term_prefix_search``'s estimate read the table as the term_stats
    dict says, unindexed terms included."""
    vocab = sorted(stats)
    n_docs = max(int(ix.meta.n_docs), 1)

    def prefix_est(p):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(ix, "_constant_score_docs", lambda k, est, offset, pfx: est)
            return ix.term_prefix_search(p)

    @SETTINGS
    @given(st.lists(st.one_of(st.sampled_from(vocab), st.text(ALPHABET, max_size=6)),
                    max_size=6),
           st.text(ALPHABET, max_size=3))
    def check(terms, p):
        known = [t for t in terms if t in stats]
        assert ix._dfs(terms) == {t: stats[t][0] for t in known}
        assert ix._df_sum(terms) == sum(stats[t][0] for t in known)
        dfs = [stats.get(t, (0, 0))[0] for t in terms]
        want = 0 if not dfs or min(dfs) == 0 else int(
            min(dfs) / n_docs * sum(stats[t][1] for t in terms)
        )
        assert ix._phrase_decode_estimate(terms) == want
        assert prefix_est(p) == sum(df for t, (df, _) in stats.items() if t.startswith(p))

    check()


_GROUPS = itertools.count()


def spark_jobs(spark, run) -> int:
    """Spark jobs ``run()`` ran, counted under a job group of its own."""
    sc = spark.sparkContext
    group = f"dictionary-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("call", [
    lambda ix: ix.fuzzy_term_search("retrn", k=5, max_edits=2),
    lambda ix: ix.wildcard_term_search("re*", k=5),
    lambda ix: ix.regexp_term_search("(def|ret)[a-z]*", k=5),
], ids=["fuzzy", "wildcard", "regexp"])
def test_resident_expansion_runs_one_job(spark, ix, call):
    """On a resident dictionary the expansion runs on the driver, so a
    distributed expansion query is one Spark job: its tail."""
    got = []
    assert spark_jobs(spark, lambda: got.extend(call(ix).collect())) == 1
    assert got
