"""Text analysis chain (reference capability B3).

The reference maps every string field to an analyzed ``text`` field via a
dynamic template (reference: src/utils/elasticsearch_utils.py:58-72), i.e.
the ES *standard analyzer*: Unicode word segmentation + lowercase, postings
with term frequencies. This module freezes our analyzer spec once — every
consumer (index build, query analysis, the DuckDB oracle, golden fixtures)
uses exactly this definition, so results are rank-identical across paths.

Spec (applies to code-like ASCII corpora per BASELINE.json input_hint):
    lowercase → split on ``[^a-z0-9_]+`` → drop empty tokens

``Analyzer`` is the one definition of the chain, and each engine's
rendering is one of its methods (property-tested to agree in
tests/test_analyzer_property.py). Module ``tokenize_expr`` /
``analyze_text`` are the default analyzer's; ``duckdb_tokens_sql`` is
the DuckDB oracle's rendering of the default chain.
"""

from __future__ import annotations

import re
from collections.abc import Iterable

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F

# The single source of truth for token boundaries.
TOKEN_SPLIT_RE = "[^a-z0-9_]+"
# complement form: a token IS a run of these chars (the phrase regexes
# match token runs with it)
TOKEN_RE = "[a-z0-9_]+"


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


def _re2_pattern(pattern: str) -> str:
    r"""``pattern`` for RE2 with its Python (``re.ASCII``) and Java
    meaning: RE2's ``\s`` alone lacks ``\x0b``, so ``\s`` becomes
    ``[\s\x0b]`` (``\s\x0b`` in a class) and ``\S`` ``[^\s\x0b]``; ``\S``
    in a class has no such spelling (ValueError). Anything else is
    copied, so the default pattern is unchanged."""
    in_class = False

    def sub(m: re.Match) -> str:
        nonlocal in_class
        tok = m.group()
        if tok == r"\s":
            return r"\s\x0b" if in_class else r"[\s\x0b]"
        if tok == r"\S":
            if in_class:
                raise ValueError(f"split pattern {pattern!r}: \\S in a class")
            return r"[^\s\x0b]"
        if tok[0] != "\\":  # "[", "[^", "[]" or "[^]" opens; "]" closes
            in_class = tok[0] == "[" and (not in_class or tok[-1] != "]")
        return tok

    return re.sub(r"\\.|\[\^?\]?|\]", sub, pattern)


class Analyzer:
    r"""The analysis chain, lowercase → regex split → drop empties →
    synonyms → stopwords — the ES per-field analyzer hook, and the one
    definition every index path takes. Its renderings: ``analyze``
    (Python ``re``, query analysis), ``tokenize_expr`` (Catalyst) and
    ``tokenize_arrow`` (pyarrow RE2: the index build and simhash).

    ``split_re`` is kept verbatim (meta.json records it; None is
    ``TOKEN_SPLIT_RE``) and compiled once per engine, to mean the same
    on ASCII text: Python with ``re.ASCII`` (Unicode ``\s`` also splits
    ``\x1c``-``\x1f``), Java as is, RE2 as ``_re2_pattern``. Outside
    ASCII they may differ (Arrow lowercases with simple case mapping).
    An index records its analyzer in meta.json and queries analyze with
    it (``IndexMeta.analyzer``, ES match semantics), so a custom
    analyzer never mismatches its own postings. Custom patterns are out
    of oracle scope (the DuckDB twins pin the default chain).

    ``stopwords`` is the ES stop token filter, ``synonyms`` the ES
    synonym filter in replace form (``src => dst``, one token to one,
    applied BEFORE the stop filter, so a synonym onto a stopword is
    dropped; chains and cycles are refused by ``check_synonyms``).
    Positions index the FILTERED sequence (phrase adjacency is "adjacent
    after stopword removal"), and the 1:1 map keeps token count and
    position. The DuckDB twins: a NOT IN filter and a CASE WHEN in the
    token CTE."""

    def __init__(
        self,
        split_re: str | None = None,
        stopwords: Iterable[str] | None = None,
        synonyms: dict[str, str] | None = None,
    ):
        check_synonyms(synonyms)
        self.split_re = split_re
        self.stopwords = frozenset(stopwords) if stopwords else frozenset()
        self.synonyms = dict(synonyms) if synonyms else {}
        # the pattern once per engine: Java (Catalyst), Python, RE2 (Arrow)
        self._java = split_re or TOKEN_SPLIT_RE
        self._rx = re.compile(self._java, re.ASCII)
        self._re2 = _re2_pattern(self._java)
        self._syn_pairs = sorted(self.synonyms.items())
        self._sw_arr = pa.array(sorted(self.stopwords), type=pa.string())

    def analyze(self, text: str | None) -> list[str]:
        """Python rendering: one string's tokens (query text, analyzed
        like the field — ES `match` semantics, reference:
        src/librecatastro/domain/cadaster_entry/cadaster_entry.py:66)."""
        if text is None:
            return []
        toks = [t for t in self._rx.split(text.lower()) if t]
        if self.synonyms:
            toks = [self.synonyms.get(t, t) for t in toks]
        if self.stopwords:
            toks = [t for t in toks if t not in self.stopwords]
        return toks

    def tokenize_expr(self, col: Column | str) -> Column:
        """Catalyst rendering: array<string> of analyzed terms (JVM-side,
        whole-stage codegen)."""
        c = F.col(col) if isinstance(col, str) else col
        toks = F.filter(
            F.split(F.lower(c), self._java), lambda x: x != F.lit("")
        )
        if self.synonyms:
            # element_at on a map literal is NULL for non-keys; coalesce
            # keeps unmapped tokens as themselves
            m = F.create_map(
                *[F.lit(x) for pair in self._syn_pairs for x in pair]
            )
            toks = F.transform(
                toks, lambda x: F.coalesce(F.element_at(m, x), x)
            )
        if self.stopwords:
            sw = F.array(*[F.lit(s) for s in sorted(self.stopwords)])
            toks = F.filter(toks, lambda x: ~F.array_contains(sw, x))
        return toks

    def tokenize_arrow(self, text: pa.Array) -> tuple[pa.Array, pa.Array]:
        """Arrow rendering: (tokens, parent) of a string array — every
        row's tokens flattened in row order, and each token's row; a
        null row analyzes like "". One pyarrow call per step, and a step
        that matches nothing copies nothing: the build's workers are
        bound by allocation (stats.term_freqs_arrow)."""
        if text.null_count:
            text = pc.coalesce(text, pa.scalar("", pa.string()))
        toks = pc.split_pattern_regex(pc.utf8_lower(text), self._re2)
        parent = pc.list_parent_indices(toks)
        flat = pc.list_flatten(toks)
        mask = pc.not_equal(flat, "")
        if mask.false_count:  # empties only at non-token row edges
            flat = flat.filter(mask)
            parent = parent.filter(mask)
        # pair by pair: right only because check_synonyms refuses chains
        for src, dst in self._syn_pairs:
            hit = pc.equal(flat, src)
            if hit.true_count:
                flat = pc.if_else(hit, pa.scalar(dst, pa.string()), flat)
        if self.stopwords:
            keep = pc.invert(pc.is_in(flat, value_set=self._sw_arr))
            if keep.false_count:
                flat = flat.filter(keep)
                parent = parent.filter(keep)
        return flat, parent


_DEFAULT = Analyzer()
# the default chain's Catalyst and Python renderings (ops/, exact.py,
# the oracle twins and tools import these names)
tokenize_expr = _DEFAULT.tokenize_expr
analyze_text = _DEFAULT.analyze


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
