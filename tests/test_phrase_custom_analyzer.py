"""Custom-analyzer phrase correctness (r5, the round-4 verdict's weak
mark): on an index whose analyzer differs from the default chain (e.g.
``[^a-z0-9_.]+``, dots kept inside tokens), phrase queries must follow
the INDEX's token boundaries (meta.analyzer_re).

The phrase engine answers from positional postings, which the build
tokenized with that analyzer, so the traps a source-text regex falls
into cannot arise; these cases pin them anyway:

  * a dotted INTERVENING token under slop>=1 is one token, so a real
    slop-1 phrase match must be found;
  * a dotted prefix must match a literal dot only — a doc whose token
    merely matches '.' as a wildcard must not be accepted, since the
    prefix gates membership (only complete terms are scored);
  * an analyzer outside the '[^X]+' shape still answers phrases.

The distributed queries and their coordinator twins must agree.
"""

from __future__ import annotations

import pytest

from librecatastro_spark.engine.wand import CompressedIndex
from librecatastro_spark.index.builder import build_index

DOT_RE = "[^a-z0-9_.]+"  # '.' is a token character

DOCS = [
    (0, "pkg.mod load alpha beta"),       # "alpha beta" adjacent
    (1, "alpha x.y beta gamma"),          # dotted intervening token
    (2, "load x.put beta"),               # true dotted-prefix target
    (3, "load xqp beta"),                 # old '.'-wildcard false accept
    (4, "alpha beta load pkg.mod"),
    (5, "beta alpha load"),               # reversed — never a match
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, content string").cache()


@pytest.fixture(scope="module")
def cidx(spark, docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("dotidx"))
    build_index(
        spark, docs, out, n_shards=2, block_size=16, salt_threshold=100,
        n_salts=2, index_options="positions", analyzer_re=DOT_RE,
    )
    return CompressedIndex(spark, out)


def rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def lrows(pdf):
    return list(zip(pdf["doc_id"].tolist(), pdf["score"].tolist()))


def test_slop_gap_uses_index_token_class(cidx):
    """Doc 1 ("alpha x.y beta"): one intervening token under the DOT
    analyzer, so "alpha beta" slop=1 matches on both routes."""
    po = rows(cidx.match_phrase("alpha beta", k=100, slop=1))
    lo = lrows(cidx.match_phrase_local("alpha beta", k=100, slop=1))
    assert lo == po
    assert 1 in {d for d, _ in po}
    # slop=0: doc 1 is NOT a match (the gap is a real token)
    po0 = rows(cidx.match_phrase("alpha beta", k=100))
    assert lrows(cidx.match_phrase_local("alpha beta", k=100)) == po0
    assert {d for d, _ in po0} == {0, 4}


def test_dotted_phrase_terms_are_escaped(cidx):
    """Query "load pkg.mod": one doc (4) has the dotted token adjacent.
    Both routes agree, and the dot matches only a literal dot."""
    po = rows(cidx.match_phrase("load pkg.mod", k=100))
    lo = lrows(cidx.match_phrase_local("load pkg.mod", k=100))
    assert lo == po
    assert {d for d, _ in po} == {4}


def test_dotted_prefix_no_wildcard_false_accept(cidx):
    """Query "load x.p": complete=["load"], prefix "x.p". Doc 2 has
    token "x.put" after "load" -> true match. Doc 3 ("load xqp") would
    be a false accept if '.' acted as a wildcard: only complete terms
    are scored (which doc 3 HAS), so the wrong doc would survive into
    the answer. Both type-ahead routes agree."""
    po = rows(cidx.match_phrase_prefix("load x.p", k=100))
    lo = lrows(cidx.match_phrase_prefix_local("load x.p", k=100))
    assert lo == po
    assert {d for d, _ in po} == {2}


def test_highlight_tokenizes_with_index_analyzer(cidx, docs):
    """search_highlighted fragments tokenize with the INDEX's analyzer:
    the dotted token stays whole in the snippet (the default chain
    would split "pkg.mod" into two tokens)."""
    out = {
        r["doc_id"]: r["snippet"]
        for r in cidx.search_highlighted(
            "pkg.mod", docs, k=10, source_text_col="content"
        ).collect()
    }
    assert out and all("<em>pkg.mod</em>" in s for s in out.values())


def test_nonderivable_analyzer_phrases_answer_from_positions(
    spark, docs, tmp_path
):
    """An analyzer outside the '[^X]+' shape (here whitespace split) has
    no complement a source-text regex could use; the phrase engine never
    re-tokenizes the source, so phrases answer on it like any index.
    Term/match queries on the same index work too."""
    out = str(tmp_path / "weird")
    build_index(
        spark, docs, out, n_shards=2, block_size=16, salt_threshold=100,
        n_salts=2, index_options="positions", analyzer_re=r"\s+",
    )
    idx = CompressedIndex(spark, out)
    assert rows(idx.search("alpha", k=10))  # plain match unaffected
    po = rows(idx.match_phrase("alpha beta", k=10))
    assert {d for d, _ in po} == {0, 4}
    assert lrows(idx.match_phrase_local("alpha beta", k=10)) == po
    pp = rows(idx.match_phrase_prefix("alpha be", k=10))
    assert {d for d, _ in pp} == {0, 4}
    assert lrows(idx.match_phrase_prefix_local("alpha be", k=10)) == pp
