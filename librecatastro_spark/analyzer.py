"""Text analysis chain (reference capability B3).

The reference maps every string field to an analyzed ``text`` field via a
dynamic template (reference: src/utils/elasticsearch_utils.py:58-72), i.e.
the ES *standard analyzer*: Unicode word segmentation + lowercase, postings
with term frequencies. This module freezes our analyzer spec once — every
consumer (index build, query analysis, the DuckDB oracle, golden fixtures)
uses exactly this definition, so results are rank-identical across paths.

Spec (applies to code-like ASCII corpora per BASELINE.json input_hint):
    lowercase → split on ``[^a-z0-9_]+`` → drop empty tokens

Two equivalent implementations of the default chain, equality-tested in
tests/test_analyzer.py (the build's Arrow pass, ``stats.term_freqs_arrow``,
and the DuckDB oracle's ``duckdb_tokens_sql`` render it too):
  * ``tokenize_expr``  — pure Catalyst (JVM, whole-stage codegen): the
    default hot path. Tokenization stays out of Python entirely.
  * ``analyze_text``   — driver-side Python for query strings (tiny input).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# The single source of truth for token boundaries.
TOKEN_SPLIT_RE = "[^a-z0-9_]+"
_PY_SPLIT = re.compile(TOKEN_SPLIT_RE)
# complement form: a token IS a run of these chars (the phrase regexes
# match token runs with it)
TOKEN_RE = "[a-z0-9_]+"


def tokenize_expr(col: Column | str) -> Column:
    """Catalyst tokenizer: array<string> of analyzed terms (JVM-side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), TOKEN_SPLIT_RE), lambda x: x != F.lit(""))


def check_synonyms(synonyms: dict[str, str] | None) -> None:
    """Reject a replace-form synonym map in which a target is itself a
    source mapping elsewhere — a chain (a→b, b→c) or a cycle (a→b,
    b→a). Query analysis maps each token once, but the Arrow build
    path rewrites pair by pair, so such a map would index a surface form
    under a different term than query analysis gives it. Raises
    ValueError naming the offending pair."""
    for src, dst in sorted((synonyms or {}).items()):
        if synonyms.get(dst, dst) != dst:
            raise ValueError(
                f"synonym {src!r} => {dst!r} chains into {dst!r} => "
                f"{synonyms[dst]!r}; map each surface form straight to "
                "its canonical term"
            )


class Analyzer:
    """A parameterized tokenization spec — the per-field analyzer hook ES
    mappings give (``analyzer: …`` per field). Shape is FROZEN to the
    engine's one chain (lowercase → regex split → drop empties) so every
    path can evaluate it identically (Python re, Catalyst split, Arrow
    split_pattern_regex all take the same RE2-compatible pattern); only
    the boundary pattern varies. ``Analyzer()`` IS the default code
    analyzer — ``analyze("x") == analyze_text("x")`` by construction.

    An index records its pattern in meta.json (``analyzer_re``), and the
    query side analyzes with the INDEX's analyzer (ES match semantics) —
    so a per-field custom analyzer can never silently mismatch its own
    postings. Custom split patterns are out of oracle scope (the DuckDB
    twins pin the default chain); MultiFieldIndex threads one per field.

    ``stopwords`` is the ES stop token filter: matching tokens are
    dropped AFTER segmentation (recorded in meta like ``analyzer_re``
    and honored by build, append and query analysis; positions index the
    FILTERED sequence, so phrase adjacency means "adjacent after
    stopword removal" — the frozen, oracle-expressible contract: the
    DuckDB twin is a NOT IN filter in the token CTE).

    ``synonyms`` is the ES synonym token filter in its replace form
    (``src => dst``, one token to one token): each source token maps to
    its canonical target. Frozen chain order: lowercase → split → drop
    empties → **synonyms** → **stopwords** (so a synonym mapping ONTO a
    stopword is removed, and the stop list is checked against canonical
    forms). The 1:1 mapping preserves token count and position, so dl,
    positions and phrase adjacency are unaffected by which surface form
    a document used — the DuckDB twin is a CASE WHEN in the token CTE."""

    def __init__(
        self,
        split_re: str | None = None,
        stopwords: frozenset[str] | None = None,
        synonyms: dict[str, str] | None = None,
    ):
        self.split_re = split_re or TOKEN_SPLIT_RE
        self._rx = re.compile(self.split_re)
        self.stopwords = frozenset(stopwords) if stopwords else frozenset()
        check_synonyms(synonyms)
        self.synonyms = dict(synonyms) if synonyms else {}

    def analyze(self, text: str) -> list[str]:
        if text is None:
            return []
        syn = self.synonyms
        out = []
        for t in self._rx.split(text.lower()):
            if not t:
                continue
            t = syn.get(t, t)
            if t not in self.stopwords:
                out.append(t)
        return out

    def tokenize_expr(self, col: Column | str) -> Column:
        c = F.col(col) if isinstance(col, str) else col
        toks = F.filter(
            F.split(F.lower(c), self.split_re), lambda x: x != F.lit("")
        )
        if self.synonyms:
            # element_at on a map literal is NULL for non-keys; coalesce
            # keeps unmapped tokens as themselves
            m = F.create_map(
                *[F.lit(x) for k in sorted(self.synonyms)
                  for x in (k, self.synonyms[k])]
            )
            toks = F.transform(
                toks, lambda x: F.coalesce(F.element_at(m, x), x)
            )
        if self.stopwords:
            sw = F.array(*[F.lit(s) for s in sorted(self.stopwords)])
            toks = F.filter(toks, lambda x: ~F.array_contains(sw, x))
        return toks


def analyze_text(text: str) -> list[str]:
    """Driver-side analysis for query strings (reference analyzes the query
    text with the same analyzer as the field — ES `match` semantics,
    reference: src/librecatastro/domain/cadaster_entry/cadaster_entry.py:66).
    """
    if text is None:
        return []
    return [t for t in _PY_SPLIT.split(text.lower()) if t]


def duckdb_tokens_sql(col: str) -> str:
    """DuckDB SQL fragment producing the same array<string> — used by the
    oracle_sql() twins in __spark_entry__.py."""
    return (
        f"list_filter(regexp_split_to_array(lower({col}), '{TOKEN_SPLIT_RE}'),"
        " x -> x <> '')"
    )


def phrase_expr(col: Column | str, terms_seq: list[str]) -> Column:
    """TRUE iff the analyzed token sequence of ``col`` contains
    ``terms_seq`` contiguously (ES match_phrase position semantics,
    slop 0). Tokens can never contain a space (TOKEN_RE is ``[a-z0-9_]+``),
    so sentinel-padded space-joined containment is EXACT — no positional
    postings needed to evaluate the predicate on a candidate document.
    Pure Catalyst (split/filter/array_join/contains), whole-stage codegen."""
    joined = F.concat(
        F.lit(" "), F.array_join(tokenize_expr(col), " "), F.lit(" ")
    )
    return joined.contains(" " + " ".join(terms_seq) + " ")


def _phrase_body(terms_seq: list[str], slop: int = 0) -> str:
    """Shared regex body for the phrase predicates: terms in order, each
    inter-term gap = one non-token run plus up to ``slop`` intervening
    (token + non-token-run) pairs. slop=0 is exact adjacency of maximal
    token runs. PER-GAP slop — a deliberate, documented divergence from
    ES's total-position-edit-distance slop (which also admits
    transpositions at cost 2): per-gap keeps the predicate a single
    regex pass that Spark and DuckDB RE2 evaluate identically, so the
    oracle twin is exact by construction; the positional kernels
    (engine/positions.py) chain positions under the same rule."""
    if not terms_seq:
        raise ValueError("phrase needs at least one term")
    gap = TOKEN_SPLIT_RE
    if slop > 0:
        gap += "(?:%s%s){0,%d}" % (TOKEN_RE, TOKEN_SPLIT_RE, slop)
    return gap.join(re.escape(t) for t in terms_seq)


def phrase_rlike_expr(
    col: Column | str, terms_seq: list[str], slop: int = 0
) -> Column:
    """Single-regex-pass equivalent of ``phrase_expr`` (equality-tested in
    tests/test_phrase.py): tokens are MAXIMAL ``[a-z0-9_]+`` runs of the
    lowercased text, so the token sequence contains ``terms_seq``
    contiguously iff ``lower(col)`` matches

        (\\A|[^a-z0-9_]) t1 [^a-z0-9_]+ t2 ... tn ([^a-z0-9_]|\\z)

    — each inter-term gap is >=1 non-token chars (adjacency of maximal
    runs) and the end anchors enforce maximality of t1/tn themselves.
    ``\\A``/``\\z`` rather than ``^``/``$``: Java's ``$`` matches before a
    trailing newline even without MULTILINE, which would NOT change
    membership here (a trailing ``\\n`` is a non-token char so the other
    alternative fires) but ``\\z`` keeps the proof one-line. Terms come
    from the analyzer so they are regex-safe ``[a-z0-9_]+`` literals.

    Unlike ``phrase_expr`` it can express ``slop`` > 0, so it is the
    sloppy-phrase predicate of ExactBM25.match_phrase.
    """
    c = F.col(col) if isinstance(col, str) else col
    body = _phrase_body(terms_seq, slop)
    return F.lower(c).rlike(r"(\A|[^a-z0-9_])" + body + r"([^a-z0-9_]|\z)")


def _phrase_prefix_body(terms_seq: list[str], prefix: str) -> str:
    """Regex body for match_phrase_prefix: the COMPLETE terms adjacent in
    order, then a gap, then a token that STARTS WITH ``prefix`` — no
    right anchor, so any completion of the prefix token matches. With no
    complete terms the body is just the prefix at a token start (the
    caller normally routes that case to the term-prefix query instead)."""
    if not prefix:
        raise ValueError("phrase prefix needs a non-empty last term")
    if not terms_seq:
        return re.escape(prefix)
    return _phrase_body(terms_seq) + TOKEN_SPLIT_RE + re.escape(prefix)


def phrase_prefix_rlike_expr(
    col: Column | str, terms_seq: list[str], prefix: str
) -> Column:
    """Catalyst form of the phrase-prefix predicate (see
    ``_phrase_prefix_body``): left-anchored at a token start, open on the
    right."""
    c = F.col(col) if isinstance(col, str) else col
    body = _phrase_prefix_body(terms_seq, prefix)
    return F.lower(c).rlike(r"(\A|[^a-z0-9_])" + body)


def duckdb_phrase_prefix_sql(col: str, terms_seq: list[str], prefix: str) -> str:
    """DuckDB RE2 twin of ``phrase_prefix_rlike_expr`` (same pattern
    verbatim; RE2 spells \\A like Java and the open right side needs no
    anchor translation)."""
    body = _phrase_prefix_body(terms_seq, prefix)
    pat = r"(\A|[^a-z0-9_])" + body
    return f"regexp_matches(lower({col}), '{pat}')"


def duckdb_phrase_sql(col: str, terms_seq: list[str], slop: int = 0) -> str:
    """DuckDB twin of phrase_expr — same sentinel-padded containment over
    the same analyzed token array (slop=0), or the same anchored regex
    as phrase_rlike_expr via RE2 for sloppy phrases (slop>0; RE2 spells
    the text anchors \\A/\\z like Java, and DuckDB regular strings keep
    backslashes literal, so the pattern ships verbatim)."""
    if slop > 0:
        body = _phrase_body(terms_seq, slop)
        pat = r"(\A|[^a-z0-9_])" + body + r"([^a-z0-9_]|\z)"
        return f"regexp_matches(lower({col}), '{pat}')"
    phrase = " ".join(terms_seq)
    return (
        f"contains(' ' || array_to_string({duckdb_tokens_sql(col)}, ' ')"
        f" || ' ', ' {phrase} ')"
    )
