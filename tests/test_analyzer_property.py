"""Property: the analyzer's renderings agree.

``Analyzer`` renders one chain (lowercase → split → drop empties →
synonyms → stopwords) three times: ``analyze`` (Python ``re``),
``tokenize_expr`` (Catalyst, Java regex) and ``tokenize_arrow`` (pyarrow,
RE2 — the index build). On random code-like ASCII documents, under every
tested split pattern, stop list and non-chained synonym map, the three
must give every document the same tokens; the default chain's DuckDB
rendering (``duckdb_tokens_sql``, the oracle's) must match too.
"""

from __future__ import annotations

import string

import duckdb
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from librecatastro_spark import analyzer
from librecatastro_spark.analyzer import Analyzer, _re2_pattern, duckdb_tokens_sql

PATTERNS = (None, "[^a-z0-9_.]+", r"\s+", r"[\s,;]+")
# every ASCII whitespace the three regex engines could disagree on, and
# \x1c, which Unicode-aware Python \s would split
ALPHABET = (
    string.ascii_letters + string.digits + "_." + ",;:!?()-'\"/#"
    + " \t\n\r\f\v\x1c"
)


def _renderings(spark, an: Analyzer, docs: list[str | None]) -> dict:
    """{engine: {doc index: tokens}} — Catalyst in one collect, skipping
    None (Catalyst split(NULL) is NULL; the engine never feeds it)."""
    py = dict(enumerate(map(an.analyze, docs)))
    flat, parent = an.tokenize_arrow(pa.array(docs, type=pa.string()))
    arrow = {i: [] for i in range(len(docs))}
    for t, p in zip(flat.to_pylist(), parent.to_pylist()):
        arrow[p].append(t)
    rows = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs) if d is not None],
        "i int, t string",
    ).select("i", an.tokenize_expr("t").alias("toks")).collect()
    return {
        "python": py,
        "arrow": arrow,
        "catalyst": {r["i"]: r["toks"] for r in rows},
    }


def _mismatches(spark, an: Analyzer, docs: list[str | None]) -> list:
    """(doc, engine, engine's tokens, Python's tokens) for every document
    on which an engine's rendering differs from ``analyze``."""
    got = _renderings(spark, an, docs)
    want = got.pop("python")
    return [
        (docs[i], engine, toks[i], want[i])
        for engine, toks in got.items()
        for i in sorted(toks)
        if toks[i] != want[i]
    ]


def _duckdb_tokens(docs: list[str | None]) -> list:
    con = duckdb.connect()
    con.register("d", pd.DataFrame({"i": range(len(docs)), "t": docs}))
    return [
        r[0] for r in con.execute(
            f"SELECT {duckdb_tokens_sql('t')} FROM d ORDER BY i"
        ).fetchall()
    ]


@st.composite
def _cases(draw):
    """(docs, pattern, stopwords, synonyms): stop lists and synonym maps
    are drawn from the documents' own tokens; no synonym target is a
    source (a chain), and when both exist one synonym maps onto a
    stopword (so the stop filter runs after the rewrite)."""
    docs = draw(st.lists(
        st.one_of(st.none(), st.text(alphabet=ALPHABET, max_size=40)),
        min_size=1, max_size=8,
    )) + ["", None]
    pattern = draw(st.sampled_from(PATTERNS))
    vocab = sorted({t for d in docs for t in Analyzer(pattern).analyze(d)})
    if not vocab:
        return docs, pattern, [], {}
    stop = draw(st.lists(st.sampled_from(vocab), max_size=3, unique=True))
    rest = [t for t in vocab if t not in stop]
    srcs = (
        draw(st.lists(st.sampled_from(rest), max_size=3, unique=True))
        if rest else []
    )
    targets = [t for t in vocab if t not in srcs]
    syn = {s: draw(st.sampled_from(targets)) for s in srcs} if targets else {}
    if stop and srcs:
        syn[srcs[0]] = stop[0]
    return docs, pattern, stop, syn


@settings(
    max_examples=25, derandomize=True, deadline=None, database=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow],
)
# \s splits \x0b in Python and Java; RE2's needs widening; none splits \x1c
@example(case=(["a\x0bb", "x\x1cy z", "\v\t\x0b"], r"\s+", [], {}))
@example(case=(["A,b;\x0bc\x1cd", None], r"[\s,;]+", ["c"], {"a": "c"}))
@given(case=_cases())
def test_renderings_agree(spark, case):
    docs, pattern, stop, syn = case
    assert _mismatches(spark, Analyzer(pattern, stop, syn), docs) == []
    # the oracle's DuckDB rendering of the default chain
    assert _duckdb_tokens(docs) == [
        None if d is None else Analyzer().analyze(d) for d in docs
    ]


def test_re2_pattern_spelling():
    assert _re2_pattern(analyzer.TOKEN_SPLIT_RE) == analyzer.TOKEN_SPLIT_RE
    assert _re2_pattern("[^a-z0-9_.]+") == "[^a-z0-9_.]+"
    assert _re2_pattern(r"\s+") == r"[\s\x0b]+"
    assert _re2_pattern(r"[\s,;]+") == r"[\s\x0b,;]+"
    assert _re2_pattern(r"\S|[^\s]") == r"[^\s\x0b]|[^\s\x0b]"
    assert _re2_pattern(r"[]\\s]\\s") == r"[]\\s]\\s"
    with pytest.raises(ValueError, match="in a class"):
        Analyzer(r"[\S,]+")


def test_chained_synonyms_refused_and_the_mismatch_shows(spark, monkeypatch):
    """A chained map is refused at construction. Forced past the check,
    the renderings disagree and the comparison above reports it: Arrow
    rewrites pair by pair (alpha → beta → gamma) where Python and
    Catalyst map each token once."""
    chained = {"alpha": "beta", "beta": "gamma"}
    with pytest.raises(ValueError, match="chains"):
        Analyzer(synonyms=chained)
    monkeypatch.setattr(analyzer, "check_synonyms", lambda synonyms: None)
    assert _mismatches(spark, Analyzer(synonyms=chained), ["alpha beta"]) == [
        ("alpha beta", "arrow", ["gamma", "gamma"], ["beta", "gamma"])
    ]
