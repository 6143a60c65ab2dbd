"""Engine CLI — the spark-submit entry point (capability A31).

The reference dispatches crawl / health / list modes from a single main
(reference: libreCatastro.py:19-72); the Spark engine's equivalents are
index build, search, corpus health, and the corpus↔index sha invariant:

    spark-submit --py-files librecatastro_spark.zip -m librecatastro_spark \
        build  --input /data/documents.parquet --out /data/index
    python -m librecatastro_spark search --index /data/index \
        --text "spark join merge" --k 10 --filter lang=en
    python -m librecatastro_spark health --input /data/documents.parquet
    python -m librecatastro_spark verify --input /data/documents.parquet \
        --index /data/index
"""

from __future__ import annotations

import argparse
import json
import sys


def _parse_filters(pairs: list[str]) -> dict[str, str]:
    out = {}
    for p in pairs:
        col, _, val = p.partition("=")
        if not _:
            raise SystemExit(f"--filter expects col=val, got {p!r}")
        out[col] = val
    return out


def _print_hits(out, snippet: bool = False) -> int:
    """One JSON line per hit of a pandas frame (a coordinator fast path)
    or a Spark DataFrame, in result order; exit status 0."""
    rows = out.collect() if hasattr(out, "collect") else out.to_dict("records")
    for r in rows:
        hit = {"doc_id": int(r["doc_id"]), "score": float(r["score"])}
        if snippet:
            hit["snippet"] = r["snippet"]
        print(json.dumps(hit))
    return 0


def _parse_synonyms(spec: str | None) -> dict[str, str] | None:
    out = {}
    for seg in filter(None, (spec or "").split(",")):
        src, eq, dst = seg.partition("=")
        if not (src and eq and dst):
            raise SystemExit(f"--synonyms expects SRC=DST[,...], got {seg!r}")
        out[src] = dst
    return out or None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="librecatastro_spark")
    ap.add_argument("--cores", type=int, default=None,
                    help="local[N] cores (default: existing session / all)")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build (or resume) the inverted index")
    b.add_argument("--input", required=True,
                   help="parquet path or catalog table (see iotable.py)")
    b.add_argument("--out", required=True)
    b.add_argument("--id-col", default="doc_id")
    b.add_argument("--text-col", default="text")
    b.add_argument("--attr-cols", default="lang,source")
    b.add_argument("--shards", type=int, default=8)
    b.add_argument("--block-size", type=int, default=128)
    b.add_argument("--salt-threshold", type=int, default=100_000)
    b.add_argument("--no-resume", action="store_true")
    b.add_argument("--index-options", default="freqs",
                   choices=("freqs", "positions"),
                   help="'positions' stores per-occurrence token positions "
                        "(index-only phrase queries)")
    b.add_argument("--stopwords", default=None, metavar="W1,W2,...",
                   help="ES stop token filter: drop these analyzed tokens "
                        "at build (recorded in meta; append and query "
                        "analysis honor the same list)")
    b.add_argument("--synonyms", default=None, metavar="SRC=DST,SRC2=DST2",
                   help="ES synonym filter (replace form): map each SRC "
                        "token to its canonical DST at build (recorded in "
                        "meta; append and query analysis map identically)")

    s = sub.add_parser("search", help="top-k BM25 query against an index")
    s.add_argument("--index", required=True)
    s.add_argument("--text", required=True)
    s.add_argument("--k", type=int, default=10)
    s.add_argument("--offset", type=int, default=0)
    s.add_argument("--require-all", action="store_true")
    s.add_argument("--must-not", default=None)
    s.add_argument("--should", default=None)
    s.add_argument("--filter", action="append", default=[],
                   help="keyword equality col=val (repeatable)")
    s.add_argument("--prefix", default=None, help="keyword prefix col=val")
    s.add_argument("--range", action="append", default=[], dest="ranges",
                   metavar="COL=LO:HI",
                   help="inclusive range filter (repeatable; empty LO/HI "
                        "for open-ended; numeric if both parse as int)")
    s.add_argument("--search-after", default=None, metavar="SCORE,DOC_ID",
                   help="keyset cursor: last hit's score,doc_id "
                        "(mutually exclusive with --offset)")
    s.add_argument("--geo", default=None,
                   metavar="LON_COL,LAT_COL,LON0,LAT0,RADIUS_M",
                   help="ES geo_distance filter clause: keep hits within "
                        "RADIUS_M meters of (LON0, LAT0)")
    s.add_argument("--geo-polygon", default=None,
                   metavar="LON_COL,LAT_COL,X1:Y1,X2:Y2,X3:Y3[,...]",
                   help="ES geo_polygon filter clause: keep hits inside "
                        "the lon:lat polygon (>=3 vertices)")
    s.add_argument("--fast", action="store_true",
                   help="serve from the coordinator fast path "
                        "(search_local) instead of a cluster job")

    p = sub.add_parser("phrase", help="match_phrase over the index's "
                                      "positional postings")
    p.add_argument("--index", required=True,
                   help="an index built with --index-options positions")
    p.add_argument("--text", required=True)
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--slop", type=int, default=0)
    p.add_argument("--fast", action="store_true",
                   help="serve from the coordinator fast path (no Spark "
                        "job)")
    p.add_argument("--type-ahead", action="store_true",
                   help="match_phrase_prefix: the last token is an open "
                        "prefix (slop must stay 0)")

    fsq = sub.add_parser("fscore", help="function_score / field_value_factor")
    fsq.add_argument("--index", required=True)
    fsq.add_argument("--text", required=True)
    fsq.add_argument("--field", required=True, help="numeric attr column")
    fsq.add_argument("--modifier", default="log1p",
                     choices=("none", "log1p", "sqrt"))
    fsq.add_argument("--factor", type=float, default=1.0)
    fsq.add_argument("--boost-mode", default="multiply",
                     choices=("multiply", "sum"))
    fsq.add_argument("--k", type=int, default=10)

    rs = sub.add_parser("rescore", help="re-rank the top window with a "
                                        "secondary query")
    rs.add_argument("--index", required=True)
    rs.add_argument("--text", required=True)
    rs.add_argument("--rescore-text", required=True)
    rs.add_argument("--k", type=int, default=10)
    rs.add_argument("--window-size", type=int, default=50)
    rs.add_argument("--query-weight", type=float, default=1.0)
    rs.add_argument("--rescore-weight", type=float, default=1.0)
    rs.add_argument("--score-mode", default="total",
                    choices=("total", "multiply"))

    dm = sub.add_parser("dismax", help="dis_max over match clauses")
    dm.add_argument("--index", required=True)
    dm.add_argument("--text", action="append", required=True,
                    help="one clause per --text (repeatable)")
    dm.add_argument("--tie-breaker", type=float, default=0.0)
    dm.add_argument("--k", type=int, default=10)

    bq = sub.add_parser("boosting", help="positive match, negative demotion")
    bq.add_argument("--index", required=True)
    bq.add_argument("--positive", required=True)
    bq.add_argument("--negative", required=True)
    bq.add_argument("--negative-boost", type=float, default=0.5)
    bq.add_argument("--k", type=int, default=10)

    fz = sub.add_parser("fuzzy", help="fuzzy term query (edit-distance expansion)")
    fz.add_argument("--index", required=True)
    fz.add_argument("--term", required=True)
    fz.add_argument("--k", type=int, default=10)
    fz.add_argument("--max-edits", type=int, default=1)
    fz.add_argument("--prefix-len", type=int, default=0)
    fz.add_argument("--max-expansions", type=int, default=50,
                    help="ES-style cap: best-N-by-df matched terms")
    fz.add_argument("--fast", action="store_true",
                    help="coordinator fast path (resident-dictionary "
                         "expansion, no Spark job)")

    m = sub.add_parser("mlt", help="more_like_this seeded from one document")
    m.add_argument("--index", required=True)
    m.add_argument("--input", required=True)
    m.add_argument("--doc-id", type=int, required=True)
    m.add_argument("--k", type=int, default=10)
    m.add_argument("--id-col", default="doc_id")
    m.add_argument("--text-col", default="text")

    hl = sub.add_parser("highlight", help="top-k with snippet fragments")
    hl.add_argument("--index", required=True)
    hl.add_argument("--input", required=True)
    hl.add_argument("--text", required=True)
    hl.add_argument("--k", type=int, default=10)
    hl.add_argument("--frag-tokens", type=int, default=5)
    hl.add_argument("--id-col", default="doc_id")
    hl.add_argument("--text-col", default="text")

    ms = sub.add_parser(
        "msearch",
        help="multi_match over a multi-field index dir (field=<name>/ "
             "sub-indexes; build each with `build --out DIR/field=NAME "
             "--text-col NAME` over the same corpus and shard count)")
    ms.add_argument("--index", required=True)
    ms.add_argument("--text", required=True)
    ms.add_argument("--k", type=int, default=10)
    ms.add_argument("--type", default="best_fields",
                    choices=["best_fields", "most_fields", "cross_fields"])
    ms.add_argument("--tie-breaker", type=float, default=0.0)
    ms.add_argument("--fast", action="store_true",
                    help="serve from the coordinator fast path")

    fc = sub.add_parser("facets", help="terms aggregation over a query's match set")
    fc.add_argument("--index", required=True)
    fc.add_argument("--text", required=True)
    fc.add_argument("--col", required=True, help="attr column to count by")
    fc.add_argument("--top", type=int, default=10)

    ck = sub.add_parser("chunk", help="split docs into overlapping token windows")
    ck.add_argument("--input", required=True)
    ck.add_argument("--out", required=True, help="parquet output path")
    ck.add_argument("--max-tokens", type=int, default=128)
    ck.add_argument("--overlap", type=int, default=16)
    ck.add_argument("--id-col", default="doc_id")
    ck.add_argument("--text-col", default="text")

    a = sub.add_parser("append", help="fold a new document batch into an index")
    a.add_argument("--index", required=True)
    a.add_argument("--input", required=True)
    a.add_argument("--id-col", default="doc_id")
    a.add_argument("--text-col", default="text")

    de = sub.add_parser("delete", help="remove documents from an index")
    de.add_argument("--index", required=True)
    de.add_argument("--ids", default=None,
                    help="comma-separated doc ids to delete")
    de.add_argument("--input", default=None,
                    help="parquet of doc_ids to delete (alternative to --ids)")

    up = sub.add_parser("update",
                        help="index-level upsert: delete old versions, "
                             "append the new batch")
    up.add_argument("--index", required=True)
    up.add_argument("--input", required=True)
    up.add_argument("--id-col", default="doc_id")
    up.add_argument("--text-col", default="text")

    h = sub.add_parser("health", help="corpus sanity counts (A31 --health analog)")
    h.add_argument("--input", required=True)
    h.add_argument("--text-col", default="text")

    v = sub.add_parser("verify", help="corpus↔index content-sha invariant")
    v.add_argument("--input", required=True)
    v.add_argument("--index", required=True)
    v.add_argument("--id-col", default="doc_id")
    v.add_argument("--text-col", default="text")

    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from .iotable import read_docs_table
    from .session import get_spark

    spark = get_spark("librecatastro_spark", cores=args.cores)

    if args.cmd == "build":
        from .index.builder import build_index

        docs = read_docs_table(spark, args.input)
        meta = build_index(
            spark, docs, args.out, id_col=args.id_col, text_col=args.text_col,
            attr_cols=tuple(c for c in args.attr_cols.split(",") if c),
            n_shards=args.shards, block_size=args.block_size,
            salt_threshold=args.salt_threshold, resume=not args.no_resume,
            index_options=args.index_options,
            stopwords=frozenset(
                w for w in (args.stopwords or "").split(",") if w
            ) or None,
            synonyms=_parse_synonyms(args.synonyms),
        )
        print(json.dumps({"n_docs": meta.n_docs, "avgdl": meta.avgdl,
                          "n_shards": meta.n_shards, "out": args.out}))
        return 0

    if args.cmd == "append":
        from .streaming.incremental import append_batch

        added = append_batch(
            spark, args.index, read_docs_table(spark, args.input),
            id_col=args.id_col, text_col=args.text_col,
        )
        print(json.dumps({"docs_added": added, "index": args.index}))
        return 0

    if args.cmd == "delete":
        from .streaming.incremental import delete_batch

        if args.ids:
            victims = [int(x) for x in args.ids.split(",") if x]
        elif args.input:
            victims = spark.read.parquet(args.input)
        else:
            raise SystemExit("delete needs --ids or --input")
        n = delete_batch(spark, args.index, victims)
        print(json.dumps({"docs_deleted": n, "index": args.index}))
        return 0

    if args.cmd == "update":
        from .streaming.incremental import update_batch

        n_rep, n_idx = update_batch(
            spark, args.index, read_docs_table(spark, args.input),
            id_col=args.id_col, text_col=args.text_col,
        )
        print(json.dumps({"docs_replaced": n_rep, "docs_indexed": n_idx,
                          "index": args.index}))
        return 0

    if args.cmd == "search":
        from .engine.wand import CompressedIndex

        idx = CompressedIndex(spark, args.index)
        prefix = None
        if args.prefix:
            col, _, val = args.prefix.partition("=")
            prefix = (col, val)
        cursor = None
        if args.search_after:
            s_str, _, d_str = args.search_after.partition(",")
            cursor = (float(s_str), int(d_str))
        ranges = {}
        for spec in args.ranges:
            col, eq, bounds = spec.partition("=")
            lo_s, colon, hi_s = bounds.partition(":")
            if not eq or not colon:
                raise SystemExit(f"--range expects COL=LO:HI, got {spec!r}")

            def _b(x):
                if x == "":
                    return None
                try:
                    return int(x)
                except ValueError:
                    return x

            ranges[col] = (_b(lo_s), _b(hi_s))
        geo = None
        if args.geo and args.geo_polygon:
            raise SystemExit("--geo and --geo-polygon are mutually exclusive")
        if args.geo:
            parts = args.geo.split(",")
            if len(parts) != 5:
                raise SystemExit(
                    f"--geo expects LON_COL,LAT_COL,LON0,LAT0,RADIUS_M, "
                    f"got {args.geo!r}"
                )
            geo = (parts[0], parts[1], float(parts[2]), float(parts[3]),
                   float(parts[4]))
        if args.geo_polygon:
            parts = args.geo_polygon.split(",")
            if len(parts) < 5 or any(":" not in p for p in parts[2:]):
                raise SystemExit(
                    "--geo-polygon expects LON_COL,LAT_COL,X1:Y1,X2:Y2,"
                    f"X3:Y3[,...], got {args.geo_polygon!r}"
                )
            poly = [tuple(float(v) for v in p.split(":")) for p in parts[2:]]
            geo = (parts[0], parts[1], poly)
        kw = dict(
            ranges=ranges or None,
            k=args.k, offset=args.offset, require_all=args.require_all,
            filters=_parse_filters(args.filter) or None, prefix=prefix,
            must_not_text=args.must_not, should_text=args.should,
            search_after=cursor, geo=geo,
        )
        search = idx.search_local if args.fast else idx.search
        return _print_hits(search(args.text, **kw))

    if args.cmd == "phrase":
        from .engine.wand import CompressedIndex

        idx = CompressedIndex(spark, args.index)
        if args.type_ahead and args.slop:
            raise SystemExit("--type-ahead does not take --slop")
        if idx.meta.index_options != "positions":
            raise SystemExit(
                "phrase needs an index built with --index-options positions"
            )
        if args.type_ahead:
            phrase = (idx.match_phrase_prefix_local if args.fast
                      else idx.match_phrase_prefix)
            return _print_hits(phrase(args.text, k=args.k))
        phrase = idx.match_phrase_local if args.fast else idx.match_phrase
        return _print_hits(phrase(args.text, k=args.k, slop=args.slop))

    if args.cmd == "fscore":
        from .engine.wand import CompressedIndex

        idx = CompressedIndex(spark, args.index)
        return _print_hits(idx.function_score(
            args.text, args.field, k=args.k, modifier=args.modifier,
            factor=args.factor, boost_mode=args.boost_mode,
        ))

    if args.cmd == "rescore":
        from .engine.wand import CompressedIndex

        idx = CompressedIndex(spark, args.index)
        return _print_hits(idx.rescore(
            args.text, args.rescore_text, k=args.k,
            window_size=args.window_size, query_weight=args.query_weight,
            rescore_query_weight=args.rescore_weight,
            score_mode=args.score_mode,
        ))

    if args.cmd == "dismax":
        from .engine.wand import CompressedIndex

        idx = CompressedIndex(spark, args.index)
        return _print_hits(
            idx.dis_max(args.text, k=args.k, tie_breaker=args.tie_breaker)
        )

    if args.cmd == "boosting":
        from .engine.wand import CompressedIndex

        idx = CompressedIndex(spark, args.index)
        return _print_hits(idx.boosting(
            args.positive, args.negative, k=args.k,
            negative_boost=args.negative_boost,
        ))

    if args.cmd == "fuzzy":
        from .engine.wand import CompressedIndex

        idx = CompressedIndex(spark, args.index)
        fuzzy = idx.fuzzy_term_search_local if args.fast else idx.fuzzy_term_search
        return _print_hits(fuzzy(
            args.term, k=args.k, max_edits=args.max_edits,
            prefix_len=args.prefix_len, max_expansions=args.max_expansions,
        ))

    if args.cmd == "mlt":
        from .engine.wand import CompressedIndex

        idx = CompressedIndex(spark, args.index)
        docs = read_docs_table(spark, args.input)
        return _print_hits(idx.more_like_this(
            args.doc_id, docs, k=args.k,
            source_id_col=args.id_col, source_text_col=args.text_col,
        ))

    if args.cmd == "highlight":
        from .engine.wand import CompressedIndex

        idx = CompressedIndex(spark, args.index)
        docs = read_docs_table(spark, args.input)
        return _print_hits(idx.search_highlighted(
            args.text, docs, k=args.k, frag_tokens=args.frag_tokens,
            source_id_col=args.id_col, source_text_col=args.text_col,
        ), snippet=True)

    if args.cmd == "msearch":
        from .engine.multifield import MultiFieldIndex

        mf = MultiFieldIndex(spark, args.index)
        if args.type == "cross_fields":
            if args.fast:
                raise SystemExit("cross_fields has no coordinator fast path yet")
            return _print_hits(mf.multi_match_cross_fields(args.text, k=args.k))
        multi_match = mf.multi_match_local if args.fast else mf.multi_match
        return _print_hits(multi_match(
            args.text, k=args.k, match_type=args.type,
            tie_breaker=args.tie_breaker,
        ))

    if args.cmd == "facets":
        from .engine.wand import CompressedIndex

        idx = CompressedIndex(spark, args.index)
        for r in idx.facet_counts(args.text, args.col, top_n=args.top).collect():
            print(json.dumps({"facet_key": r["facet_key"], "cnt": r["cnt"]}))
        return 0

    if args.cmd == "chunk":
        from .ops.chunk import chunk_documents

        out = chunk_documents(
            read_docs_table(spark, args.input),
            max_tokens=args.max_tokens, overlap=args.overlap,
            id_col=args.id_col, text_col=args.text_col,
        )
        out.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(json.dumps({"chunks": n, "out": args.out}))
        return 0

    if args.cmd == "health":
        from .analyzer import tokenize_expr

        docs = read_docs_table(spark, args.input)
        row = docs.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.avg(F.size(tokenize_expr(args.text_col))).alias("avg_tokens"),
        ).collect()[0]
        print(json.dumps({k: (float(v) if k == "avg_tokens" else int(v))
                          for k, v in row.asDict().items()}))
        return 0

    if args.cmd == "verify":
        from .index.builder import load_attrs

        docs = read_docs_table(spark, args.input).select(
            F.col(args.id_col).alias("doc_id"),
            F.sha2(F.col(args.text_col), 256).alias("sha_corpus"),
        )
        attrs = load_attrs(spark, args.index)
        if "content_sha256" not in attrs.columns:
            print(json.dumps({"ok": False, "error": "index lacks content_sha256"}))
            return 1
        joined = docs.join(
            attrs.select("doc_id", F.col("content_sha256").alias("sha_index")),
            "doc_id", "full_outer",
        )
        bad = joined.where(
            F.col("sha_corpus").isNull() | F.col("sha_index").isNull()
            | (F.col("sha_corpus") != F.col("sha_index"))
        ).count()
        n = docs.count()
        print(json.dumps({"ok": bad == 0, "n_docs": n, "n_mismatch": bad}))
        return 0 if bad == 0 else 1

    return 2


if __name__ == "__main__":
    sys.exit(main())
