"""Exact BM25 scorer over naive postings — the rank-identity oracle.

This is the §7.1 minimum slice from SURVEY.md: entirely built-in Catalyst
operators (explode → groupBy → broadcast join → sum → TakeOrderedAndProject),
no Python in the scoring path. Every optimized path (compressed postings,
block-max WAND) must reproduce this scorer's (doc_id, score) ranks exactly.

Query surface reproduced from the reference's ES usage:
  * analyzed match, OR-of-terms, BM25-summed        (B6; reference:
    src/librecatastro/domain/cadaster_entry/cadaster_entry.py:66)
  * bool must / must_not composition                (B7; reference:
    src/utils/elasticsearch_utils.py:110-123)
  * keyword equality filter                         (B4, :116-117)
  * keyword prefix filter                           (B5, :113-115)
  * top-k window with deterministic tiebreak        (B10, size 10/11)
  * hits.total counting                             (B11, :127-130)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..analyzer import analyze_text
from ..bm25 import ROUND_DECIMALS, bm25_weight_expr
from ..stats import CorpusStats, corpus_stats, term_freqs


def mlt_select_terms(
    toks: list[str],
    dfs: dict[str, int],
    max_query_terms: int,
    min_term_freq: int,
    min_doc_freq: int,
) -> list[str]:
    """ES more_like_this term selection, made float-free.

    ES ranks a doc's terms by tf·idf before building the OR query; tf·idf
    is monotone in (tf ↑, df ↓), so ranking by the LEXICOGRAPHIC
    (tf DESC, df ASC, term ASC) order keeps the same signal while being
    exactly reproducible in SQL — no cross-engine float (ln/log1p)
    ordering hazard can ever flip which terms get selected. One shared
    definition for both engine paths and the DuckDB twin.
    """
    from collections import Counter

    tf = Counter(toks)
    kept = [
        t
        for t in tf
        if tf[t] >= min_term_freq and dfs.get(t, 0) >= min_doc_freq
    ]
    kept.sort(key=lambda t: (-tf[t], dfs[t], t))
    return kept[:max_query_terms]


class ExactBM25:
    """In-memory exact engine over a documents DataFrame.

    Parameters
    ----------
    docs : corpus DataFrame
    id_col / text_col : document key and analyzed-text column
    attr_cols : keyword (exact-match / prefix) columns, the ``.keyword``
        analog of the reference's dynamic mapping
    postings : optionally a precomputed (doc_id, term, tf, dl) DataFrame
        (e.g. read back from the built index) — skips re-tokenization
    stats : optionally precomputed CorpusStats
    """

    def __init__(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "content",
        attr_cols: tuple[str, ...] = (),
        postings: DataFrame | None = None,
        stats: CorpusStats | None = None,
        cache: bool = False,
    ) -> None:
        self.docs = docs
        self.id_col = id_col
        self.text_col = text_col
        self.attrs = docs.select(F.col(id_col).alias("doc_id"), *attr_cols)
        self.postings = postings if postings is not None else term_freqs(docs, id_col, text_col)
        if cache:
            self.postings = self.postings.cache()
        self.stats = stats if stats is not None else corpus_stats(self.postings)

    # ------------------------------------------------------------------ #

    def _doc_filter(
        self,
        filters: dict[str, str] | None,
        prefix: tuple[str, str] | None,
        ranges: dict[str, tuple] | None = None,
        exists_cols: list[str] | None = None,
        ids: list[int] | None = None,
        geo: tuple | None = None,
    ) -> DataFrame | None:
        """Constant-score filter clauses → a doc_id set (semi-join side).
        ``ranges`` is the ES range query: {col: (lo, hi)}, bounds
        inclusive, either side None for open-ended. ``exists_cols`` is the
        ES exists query (field present = non-null); ``ids`` is the ES ids
        query (explicit doc-id list — an In on the primary key, pushed to
        the scan like every other filter). ``geo`` is the ES geo_distance
        query (lon_col, lat_col, lon0, lat0, radius_m) OR the ES
        geo_polygon query (lon_col, lat_col, [(lon, lat), …]) — the
        shared ops.geo.geo_clause_cond predicate: a scan-pushable bbox
        prune plus the exact test (Catalyst haversine / Arrow ray
        cast)."""
        if (not filters and not prefix and not ranges and not exists_cols
                and ids is None and geo is None):
            return None
        cond = F.lit(True)
        for col, val in (filters or {}).items():
            # a list/tuple/set value is the ES `terms` query: col IN (…)
            if isinstance(val, (list, tuple, set)):
                cond = cond & F.col(col).isin(*sorted(val))
            else:
                cond = cond & (F.col(col) == F.lit(val))
        if prefix is not None:
            col, pfx = prefix
            cond = cond & F.col(col).startswith(pfx)
        for col, (lo, hi) in (ranges or {}).items():
            if lo is not None:
                cond = cond & (F.col(col) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(col) <= F.lit(hi))
        for col in exists_cols or []:
            cond = cond & F.col(col).isNotNull()
        if ids is not None:
            cond = cond & F.col("doc_id").isin([int(i) for i in ids])
        if geo is not None:
            from ..ops.geo import geo_clause_cond

            cond = cond & geo_clause_cond(geo)
        return self.attrs.where(cond).select("doc_id")

    def match_scores(
        self,
        text: str,
        require_all: bool = False,
        filters: dict[str, str] | None = None,
        prefix: tuple[str, str] | None = None,
        must_not_text: str | None = None,
        should_text: str | None = None,
        ranges: dict[str, tuple] | None = None,
        min_match: int | None = None,
        exists_cols: list[str] | None = None,
        ids: list[int] | None = None,
        geo: tuple | None = None,
    ) -> DataFrame:
        """(doc_id, score) for every matching doc (unranked, unrounded).

        ``min_match`` = ES minimum_should_match: require at least that
        many DISTINCT matched query terms (mutually exclusive with
        require_all, which is the min_match = len(terms) special case).

        ``should_text`` reproduces ES bool.should with a must clause present
        (reference query shape: src/utils/elasticsearch_utils.py:110-123 —
        should is part of the DSL shape there): should terms never constrain
        the match set, they only add their BM25 weight to docs already
        matched by the must clause. A term in both clauses counts once (as
        must).
        """
        terms = sorted(set(analyze_text(text)))
        if not terms:
            raise ValueError("query analyzes to zero terms")
        should_terms = [
            t for t in sorted(set(analyze_text(should_text or ""))) if t not in terms
        ]
        all_terms = terms + should_terms
        p = self.postings.where(F.col("term").isin(all_terms))
        # df computed over the full corpus for the query terms only — tiny,
        # broadcast; idf does not depend on the filter clauses (ES semantics).
        dfreq = p.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        scored = (
            p.join(F.broadcast(dfreq), "term")
            .withColumn(
                "w",
                bm25_weight_expr(
                    F.col("tf").cast("double"),
                    F.col("df").cast("double"),
                    F.col("dl").cast("double"),
                    self.stats.n_docs,
                    self.stats.avgdl,
                ),
            )
            .groupBy("doc_id")
            .agg(
                F.sum("w").alias("score"),
                F.sum(
                    F.when(F.col("term").isin(terms), F.lit(1)).otherwise(F.lit(0))
                ).alias("n_matched"),
            )
        )
        if min_match is not None and (min_match < 1 or require_all):
            raise ValueError("min_match must be >= 1 and not combine with require_all")
        if require_all:
            scored = scored.where(F.col("n_matched") == F.lit(len(terms)))
        elif min_match:
            scored = scored.where(F.col("n_matched") >= F.lit(min_match))
        elif should_terms:
            scored = scored.where(F.col("n_matched") >= F.lit(1))
        scored = scored.drop("n_matched")
        doc_set = self._doc_filter(filters, prefix, ranges, exists_cols, ids, geo)
        if doc_set is not None:
            scored = scored.join(doc_set, "doc_id", "left_semi")
        if must_not_text:
            not_terms = sorted(set(analyze_text(must_not_text)))
            excluded = (
                self.postings.where(F.col("term").isin(not_terms))
                .select("doc_id")
                .distinct()
            )
            scored = scored.join(excluded, "doc_id", "left_anti")
        return scored

    def search(
        self,
        text: str,
        k: int = 10,
        offset: int = 0,
        search_after: tuple[float, int] | None = None,
        **kwargs,
    ) -> DataFrame:
        """Top-k (doc_id, score) — score DESC, doc_id ASC (B10 tiebreak).

        ``offset`` is the ES ``from`` pagination window (reference uses
        from:0 size:10/11 — src/utils/elasticsearch_utils.py:120-121); rows
        [offset, offset+k) of the global ranking are returned.
        ``search_after=(score, doc_id)`` is the ES keyset form: rows
        strictly after the cursor under (score DESC, doc_id ASC) —
        mutually exclusive with ``offset``, same pages as the offset walk.

        Rounded to ROUND_DECIMALS before ranking so float summation order
        can never flip a rank between engine paths / parallelism levels.
        """
        if search_after is not None and offset:
            raise ValueError("offset and search_after are mutually exclusive")
        scored = self.match_scores(text, **kwargs).withColumn(
            "score", F.round("score", ROUND_DECIMALS)
        )
        if search_after is not None:
            s0, d0 = search_after
            scored = scored.where(
                (F.col("score") < F.lit(s0))
                | ((F.col("score") == F.lit(s0)) & (F.col("doc_id") > F.lit(d0)))
            )
        ranked = scored.orderBy(F.desc("score"), F.asc("doc_id"))
        if offset:
            ranked = ranked.offset(offset)
        return ranked.limit(k)

    def match_phrase(
        self, text: str, k: int = 10, offset: int = 0, slop: int = 0
    ) -> DataFrame:
        """ES match_phrase analog (B6 extension; per-gap ``slop``, see
        analyzer._phrase_body for the documented ES divergence).

        Match set: documents whose ANALYZED token sequence contains the
        query's analyzed token sequence contiguously (duplicate terms and
        order both matter — "batch batch" ≠ two scattered "batch").
        Score: the BM25 sum over the phrase's DISTINCT terms (exactly the
        ``require_all`` match score) — ES scores phrases by phrase
        frequency instead; this engine's choice is simpler, rank-stable,
        and twinned verbatim in the DuckDB oracle. Rank: (score DESC,
        doc_id ASC), the B10 tiebreak.

        Plan shape: require_all candidates (every phrase doc contains all
        its terms, so this is a superset) LEFT SEMI the phrase-verified
        doc set; the phrase predicate (analyzer.phrase_expr) is pure
        Catalyst over the source text.
        """
        seq = analyze_text(text)
        if not seq:
            raise ValueError("phrase analyzes to zero terms")
        from ..analyzer import phrase_expr, phrase_rlike_expr

        scored = self.match_scores(text, require_all=True).withColumn(
            "score", F.round("score", ROUND_DECIMALS)
        )
        pred = (
            phrase_expr(self.text_col, seq)
            if slop == 0
            else phrase_rlike_expr(self.text_col, seq, slop)
        )
        verified = self.docs.where(pred).select(
            F.col(self.id_col).alias("doc_id")
        )
        ranked = scored.join(verified, "doc_id", "left_semi").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        if offset:
            ranked = ranked.offset(offset)
        return ranked.limit(k)

    def match_phrase_prefix(
        self, text: str, k: int = 10, offset: int = 0
    ) -> DataFrame:
        """ES match_phrase_prefix analog — "type-ahead phrase": the
        analyzed sequence minus its last token must appear adjacent in
        order, immediately followed by a token STARTING WITH the last
        token (analyzer._phrase_prefix_body).

        Score: BM25 require_all over the COMPLETE terms only — the
        prefix contributes membership, not score (ES expands the prefix
        against the term dictionary and scores the expansions; that
        makes the score depend on max_expansions order — this engine's
        fixed-terms score is deterministic and twinned in the oracle).
        Single-token queries are pure prefix membership with no complete
        terms to score, so they take the constant-score term-prefix
        contract instead (score 1.0, doc_id ASC) — same as
        CompressedIndex.term_prefix_search.
        """
        seq = analyze_text(text)
        if not seq:
            raise ValueError("phrase analyzes to zero terms")
        from ..analyzer import phrase_prefix_rlike_expr

        complete, pfx = seq[:-1], seq[-1]
        verified = self.docs.where(
            phrase_prefix_rlike_expr(self.text_col, complete, pfx)
        ).select(F.col(self.id_col).alias("doc_id"))
        if not complete:
            ranked = verified.select(
                "doc_id", F.lit(1.0).alias("score")
            ).orderBy(F.asc("doc_id"))
        else:
            scored = self.match_scores(
                " ".join(complete), require_all=True
            ).withColumn("score", F.round("score", ROUND_DECIMALS))
            ranked = scored.join(verified, "doc_id", "left_semi").orderBy(
                F.desc("score"), F.asc("doc_id")
            )
        if offset:
            ranked = ranked.offset(offset)
        return ranked.limit(k)

    def collapse_search(self, text: str, collapse_col: str, k: int = 10) -> DataFrame:
        """ES field-collapsing twin (see CompressedIndex.collapse_search):
        best doc per distinct ``collapse_col`` value, keys ranked by their
        best (score DESC, doc_id ASC). Pure DataFrame: rounded match
        scores join the attr column, a key-partitioned Window keeps
        row_number 1, top-k."""
        from pyspark.sql import Window

        if collapse_col not in self.attrs.columns:
            raise ValueError(f"attrs lack column {collapse_col!r}")
        scored = self.match_scores(text).withColumn(
            "score", F.round("score", ROUND_DECIMALS)
        )
        keyed = scored.join(
            self.attrs.select("doc_id", F.col(collapse_col).alias("collapse_key")),
            "doc_id",
        )
        w = Window.partitionBy("collapse_key").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            keyed.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("doc_id", "score", "collapse_key")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def facet_counts(self, text: str, facet_col: str, top_n: int = 10) -> DataFrame:
        """ES terms-aggregation twin (see CompressedIndex.facet_counts):
        match-set counts per distinct attr value, top_n by count DESC
        (value ASC tiebreak)."""
        if facet_col not in self.attrs.columns:
            raise ValueError(f"attrs lack column {facet_col!r}")
        matched = self.match_scores(text).select("doc_id")
        return (
            matched.join(self.attrs.select("doc_id", facet_col), "doc_id")
            .groupBy(F.col(facet_col).cast("string").alias("facet_key"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("facet_key"))
            .limit(top_n)
        )

    def term_prefix_search(self, prefix: str, k: int = 10) -> DataFrame:
        """B5 index-side prefix query: docs containing ≥1 term that starts
        with ``prefix`` — a term-dictionary range scan in ES/Lucene
        (reference invocation shape: src/utils/elasticsearch_utils.py:113-115).
        Constant-score (1.0) like ES prefix queries; deterministic doc_id
        order."""
        matched = (
            self.postings.where(F.col("term").startswith(prefix))
            .select("doc_id")
            .distinct()
        )
        return (
            matched.select("doc_id", F.lit(1.0).alias("score"))
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def more_like_this(
        self,
        doc_id,
        k: int = 10,
        max_query_terms: int = 12,
        min_term_freq: int = 1,
        min_doc_freq: int = 2,
    ) -> DataFrame:
        """ES more_like_this analog: re-analyze the source document, pick
        its most characteristic terms (mlt_select_terms — the float-free
        tf/df rank), run the standard OR match over them, exclude the
        source doc (ES include=false default), BM25 top-k.

        The source-doc fetch is a point lookup (A5/A9 shape, pushed
        filter) collecting ONE row; the df lookup for its terms is
        vocab-bounded — both constant-sized driver materializations.
        """
        row = (
            self.docs.where(F.col(self.id_col) == F.lit(doc_id))
            .select(self.text_col)
            .collect()
        )
        if not row:
            return self.docs.sparkSession.createDataFrame(
                [], "doc_id long, score double"
            )
        toks = analyze_text(row[0][0])
        dfs = {
            r["term"]: r["df"]
            for r in self.postings.where(F.col("term").isin(list(set(toks))))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
            .collect()
        }
        sel = mlt_select_terms(
            toks, dfs, max_query_terms, min_term_freq, min_doc_freq
        )
        if not sel:
            return self.docs.sparkSession.createDataFrame(
                [], "doc_id long, score double"
            )
        scored = self.match_scores(" ".join(sel)).where(
            F.col("doc_id") != F.lit(doc_id)
        )
        return (
            scored.withColumn("score", F.round("score", ROUND_DECIMALS))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def pinned(self, ids: list[int], text: str, k: int = 10) -> DataFrame:
        """ES ``pinned`` query — the shared composition
        (engine.score_queries.pinned_compose)."""
        from .score_queries import pinned_compose

        return pinned_compose(self, ids, text, k=k)

    def fetch_fields(
        self, hits: DataFrame, cols: list[str], max_fetch: int = 10_000
    ) -> DataFrame:
        """ES ``_source`` fields analog — same contract as the
        compressed index's fetch_fields (In(doc_id) pushed to the attrs
        scan, hit order preserved)."""
        missing = [c for c in cols if c not in self.attrs.columns]
        if missing:
            raise ValueError(f"index attrs lack columns {missing}")
        ids = [
            int(r["doc_id"])
            for r in hits.select("doc_id").limit(max_fetch + 1).collect()
        ]
        if len(ids) > max_fetch:
            raise ValueError(f"fetch_fields over {max_fetch} hits")
        sel = self.attrs.where(F.col("doc_id").isin(ids)).select(
            "doc_id", *cols
        )
        return (
            hits.join(F.broadcast(sel), "doc_id", "left")
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

    def rescore(self, text: str, rescore_text: str, k: int = 10,
                window_size: int = 50, query_weight: float = 1.0,
                rescore_query_weight: float = 1.0,
                score_mode: str = "total") -> DataFrame:
        """ES ``rescore`` — the shared composition
        (engine.score_queries.rescore_compose), so this twin is
        structurally rank-identical to the compressed path."""
        from .score_queries import rescore_compose

        return rescore_compose(
            self, text, rescore_text, k=k, window_size=window_size,
            query_weight=query_weight,
            rescore_query_weight=rescore_query_weight,
            score_mode=score_mode,
        )

    def fuzzy_term_search(
        self, term: str, k: int = 10, max_edits: int = 1, prefix_len: int = 0
    ) -> DataFrame:
        """ES ``fuzzy`` analog, exactness-oracle form: Levenshtein is
        evaluated directly per posting row (no dictionary expansion), so
        this is the semantics definition the compressed path's
        vocab-expansion + In-filter plan must reproduce. Constant score
        1.0, doc_id order — same contract as term_prefix_search."""
        q = analyze_text(term)
        if len(q) != 1:
            raise ValueError("fuzzy_term_search takes exactly one analyzed term")
        qt = q[0]
        cond = F.levenshtein(F.col("term"), F.lit(qt)) <= max_edits
        if prefix_len > 0:
            cond = F.col("term").startswith(qt[:prefix_len]) & cond
        matched = self.postings.where(cond).select("doc_id").distinct()
        return (
            matched.select("doc_id", F.lit(1.0).alias("score"))
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def search_highlighted(
        self, text: str, k: int = 10, frag_tokens: int = 5, **kwargs
    ) -> DataFrame:
        """ES highlight analog: top-k search + per-hit snippet (doc_id,
        score, snippet). Snippets are computed ONLY for the k hit docs
        (semi-join restriction before tokenization), see
        engine/highlight.py for the frozen fragment semantics."""
        from .highlight import highlight_snippets

        hits = self.search(text, k=k, **kwargs)
        terms = sorted(set(analyze_text(text)))
        cand = self.docs.join(
            F.broadcast(hits.withColumnRenamed("doc_id", self.id_col).select(self.id_col)),
            self.id_col,
            "left_semi",
        )
        hl = highlight_snippets(
            cand, terms, id_col=self.id_col, text_col=self.text_col,
            frag_tokens=frag_tokens,
        )
        return hits.join(hl, "doc_id", "left").select("doc_id", "score", "snippet")

    def function_score(
        self,
        text: str,
        field: str,
        k: int = 10,
        modifier: str = "log1p",
        factor: float = 1.0,
        boost_mode: str = "multiply",
        **kwargs,
    ) -> DataFrame:
        """ES function_score / field_value_factor analog: rescore the
        match by a function of a numeric doc field (engine/fscore.py
        freezes the modifier math + rounding protocol for every path).
        Null field = 0.0 (ES ``missing`` pinned). The transform applies
        to the RAW BM25 sum with ONE final rounding — rounding an
        intermediate would create systematic half-boundary mismatches
        between half-up (Spark/DuckDB) and half-even (numpy) rounders
        (see engine/score_queries.py docstring)."""
        from .fscore import _check, combine_expr, field_factor_expr

        _check(modifier, boost_mode)
        scored = self.match_scores(text, **kwargs)
        fv = self.docs.select(
            F.col(self.id_col).alias("doc_id"),
            F.col(field).try_cast("double").alias("_fv"),
        )
        fac = field_factor_expr(F.col("_fv"), modifier, factor)
        return (
            scored.join(fv, "doc_id", "left")
            .select(
                "doc_id",
                F.round(
                    combine_expr(F.col("score"), fac, boost_mode),
                    ROUND_DECIMALS,
                ).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def dis_max(
        self, texts: list[str], k: int = 10, tie_breaker: float = 0.0
    ) -> DataFrame:
        """ES dis_max analog over match clauses on the analyzed field:
        score = best clause + tie_breaker * (sum of the other clauses);
        a doc matches if any clause does. Raw clause sums combine with
        ONE final rounding (the cross-engine protocol — see
        engine/score_queries.py)."""
        if not texts:
            raise ValueError("dis_max needs at least one clause")
        parts = [self.match_scores(t) for t in texts]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionAll(p)
        g = u.groupBy("doc_id").agg(
            F.max("score").alias("_mx"), F.sum("score").alias("_sm")
        )
        return (
            g.select(
                "doc_id",
                F.round(
                    F.col("_mx")
                    + F.lit(float(tie_breaker)) * (F.col("_sm") - F.col("_mx")),
                    ROUND_DECIMALS,
                ).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def boosting(
        self,
        positive: str,
        negative: str,
        k: int = 10,
        negative_boost: float = 0.5,
    ) -> DataFrame:
        """ES boosting query analog: positive match score, multiplied by
        ``negative_boost`` for docs that also match the negative clause —
        demotion, not the exclusion must_not gives. Raw positive sum ×
        boost, ONE final rounding (see engine/score_queries.py — an
        intermediate round would put every odd 4th decimal × 0.5 exactly
        on the half-up/half-even boundary)."""
        scored = self.match_scores(positive)
        neg_terms = sorted(set(analyze_text(negative)))
        neg = (
            self.postings.where(F.col("term").isin(neg_terms))
            .select("doc_id")
            .distinct()
            .withColumn("_neg", F.lit(True))
        )
        return (
            scored.join(neg, "doc_id", "left")
            .select(
                "doc_id",
                F.round(
                    F.when(
                        F.col("_neg").isNotNull(),
                        F.col("score") * F.lit(float(negative_boost)),
                    ).otherwise(F.col("score")),
                    ROUND_DECIMALS,
                ).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def constant_score(
        self,
        k: int = 10,
        boost: float = 1.0,
        *,
        filters: dict[str, str] | None = None,
        prefix: tuple[str, str] | None = None,
        ranges: dict[str, tuple] | None = None,
        exists_cols: list[str] | None = None,
        ids: list[int] | None = None,
        geo: tuple | None = None,
    ) -> DataFrame:
        """ES constant_score analog: every doc matching the filter
        clauses scores ``boost`` — no BM25 at all (filters never
        contribute score in ES either; this makes the wrapper explicit).
        Deterministic doc_id ASC order. The clauses are ``search``'s
        (``geo`` included); an unknown clause name raises TypeError."""
        doc_set = self._doc_filter(filters, prefix, ranges, exists_cols, ids, geo)
        if doc_set is None:
            doc_set = self.attrs.select("doc_id")
        return (
            doc_set.select("doc_id", F.lit(float(boost)).alias("score"))
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )

    def hits_total(self, text: str, **kwargs) -> int:
        """ES hits.total analog (B11) — exact count of the match set."""
        return self.match_scores(text, **kwargs).count()

    def filter_only(
        self,
        filters: dict[str, str] | None = None,
        prefix: tuple[str, str] | None = None,
        limit: int | None = None,
    ) -> DataFrame:
        """Pure constant-score filter query (keyword / prefix only) — the
        shape of the reference's dedup check (B8) when no match clause is
        present. Returns doc_ids."""
        doc_set = self._doc_filter(filters, prefix)
        if doc_set is None:
            doc_set = self.attrs.select("doc_id")
        if limit is not None:
            doc_set = doc_set.limit(limit)
        return doc_set

    def exists(self, filters=None, prefix=None, window: int = 11) -> bool:
        """The reference's check_if_address_present: bool must of prefix +
        keyword filters, size=11, existence = hits.total > 0 (reference:
        src/utils/elasticsearch_utils.py:110-136)."""
        return self.filter_only(filters, prefix, limit=window).count() > 0
