"""Highlighted snippets (ES ``highlight`` analog).

ES returns per-hit text fragments with matched terms wrapped in
``<em>…</em>``; its highlighter operates on the ANALYZED field. This
engine does the same, with frozen, SQL-twinnable semantics:

  * tokens = the standard analyzer chain (analyzer.tokenize_expr);
  * the fragment is the window of ``2·frag_tokens + 1`` analyzed tokens
    centered on the FIRST matched token occurrence;
  * every matched token inside the fragment is wrapped in pre/post tags;
  * the snippet is the fragment joined with single spaces.

Everything is pure Catalyst higher-order functions (filter/transform/
slice/array_join) — JVM-side, codegen, no UDFs — and each step has an
exact DuckDB twin (duckdb_highlight_sql). Docs with no matched token get
no row (ES omits the highlight block too).

Scale notes: the token array is materialized ONCE behind an
``explode(array(...))`` Generate barrier before any lambda references
it. A plain projection is NOT enough: CollapseProject re-inlines the
alias into every consumer, and captured expressions inside Spark HOF
lambdas re-evaluate per ELEMENT — so an inlined ``tokenize_expr(col)``
under ``element_at`` inside ``filter`` re-tokenizes the document
O(tokens) times per row (measured: >300 s on 10 × 7 KB docs, i.e. a
broadcast-timeout in the bench; ~0.1 s with the barrier). Generate is
not a Project, so the optimizer cannot collapse through it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..analyzer import Analyzer, duckdb_tokens_sql


def _terms_array(terms: list[str]) -> Column:
    return F.array(*[F.lit(t) for t in terms])


def highlight_snippets(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "content",
    frag_tokens: int = 5,
    pre: str = "<em>",
    post: str = "</em>",
    split_re: str | None = None,
    stopwords: frozenset[str] | None = None,
    synonyms: dict[str, str] | None = None,
) -> DataFrame:
    """(doc_id, snippet) for every doc containing ≥1 of ``terms``.

    terms must already be analyzed (lowercase analyzer tokens);
    ``split_re``/``stopwords`` select the index's analyzer
    (meta.analyzer_re / meta.stopwords) so the fragment tokenization
    matches the index's own — ES highlights on the analyzed field with
    the field's analyzer (stopwords absent from fragments, like an
    ES-analyzed stopworded field).

    ``synonyms`` (meta.synonyms) maps each fragment token to its
    CANONICAL form before matching, and the snippet is built from those
    analyzed tokens — so a document that wrote a surface form shows the
    canonical term in its snippet, where ES highlights the surface form
    the document used (documented divergence).
    """
    if not terms:
        raise ValueError("highlight needs at least one term")
    tarr = _terms_array(sorted(set(terms)))
    # 1) materialize the token array once behind a Generate barrier (see
    #    module docstring — a bare projection would collapse back in)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array(
                Analyzer(split_re, stopwords, synonyms)
                .tokenize_expr(text_col)
            )
        ).alias("_toks"),
    )
    # 2) first matched position (0-based): filter the index sequence, not
    #    the tokens, so the lambda captures only the materialized column
    hit = toks.withColumn(
        "_hit",
        F.array_min(
            F.filter(
                F.sequence(F.lit(0), F.size("_toks") - 1),
                lambda i: F.array_contains(tarr, F.element_at(F.col("_toks"), i + 1)),
            )
        ),
    ).where(F.col("_hit").isNotNull())
    # 3) token window [hit-w, hit+w], wrapped + joined
    lo = F.greatest(F.lit(0), F.col("_hit") - frag_tokens)
    n_take = F.col("_hit") + frag_tokens + 1 - lo
    frag = F.slice(F.col("_toks"), lo + 1, n_take)  # slice() is 1-based
    wrapped = F.transform(
        frag,
        lambda t: F.when(
            F.array_contains(tarr, t), F.concat(F.lit(pre), t, F.lit(post))
        ).otherwise(t),
    )
    return hit.select(
        "doc_id", F.array_join(wrapped, " ").alias("snippet")
    )


def duckdb_highlight_sql(
    terms: list[str],
    text_col: str = "text",
    frag_tokens: int = 5,
    pre: str = "<em>",
    post: str = "</em>",
) -> str:
    """WITH-fragment ``hl(doc_id, snippet)`` — the DuckDB twin of
    highlight_snippets over the ``documents`` view."""
    tlist = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    toks = duckdb_tokens_sql(text_col)
    return f"""hl0 AS (
  SELECT doc_id, {toks} AS toks FROM documents
),
hl1 AS (
  SELECT doc_id, toks,
         list_min(list_filter(range(len(toks)), i -> toks[i + 1] IN ({tlist}))) AS hit
  FROM hl0
),
hl AS (
  SELECT doc_id,
         array_to_string(
           list_transform(
             toks[greatest(0, hit - {frag_tokens}) + 1 : hit + {frag_tokens} + 1],
             t -> CASE WHEN t IN ({tlist}) THEN '{pre}' || t || '{post}' ELSE t END
           ), ' ') AS snippet
  FROM hl1 WHERE hit IS NOT NULL
)"""
