"""Benchmark: index-build throughput + BM25 query latency.

Per BASELINE.md protocol, build throughput (GB/hr) is measured on a
deterministic synthetic source-code corpus at the input_hint schema
(repo, path, commit, lang, content, content_sha256) — generated seeded
and parallelism-independent, sized by BENCH_GEN_DOCS — because the
driver's sf parquet tables are far too small (~MBs) to measure anything
but fixed overhead. Corpus generation and parquet materialization are NOT
timed; the timed region is exactly: read corpus parquet → build index →
index durable on disk.

Prints exactly ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "build_sec": ..., "build_gb_per_hr": ..., "query_p95_ms": ...,
   "fastpath_ms": {name: ms, ...}, "fastpath_p95_ms": ...,
   "dsl_ms": {name: ms, ...}, "curation_ms": {name: ms, ...},
   "pos_ms": {name: ms, ...}, "pos_build_sec": ...,
   "corpus_docs": ..., "corpus_gb": ..., "cores": ..., "results_sha": ...}

The distributed path (index.search) and the serving fast path
(index.search_local) are both timed; the fast path is asserted
rank-identical to the distributed result on every query first.

Env knobs: SPARK_GRAFT_SF_DIR (reported as "sf" tag, default
/root/testdata/sf0.1), SPARK_GRAFT_CPUS (default 32), BENCH_GEN_DOCS
(corpus size, default 60000), BENCH_RUNS (timed runs per query, default
5), BENCH_WORK_DIR (work dir, default a temp dir).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from librecatastro_spark.corpus import corpus_cache_valid, materialize_corpus
from librecatastro_spark.engine.wand import CompressedIndex
from librecatastro_spark.index.builder import build_index
from librecatastro_spark.session import get_spark

# Query texts use the generated corpus vocabulary (corpus.py): zipfian
# code keywords (hot) + rare idNNNN identifiers (selective).
QUERIES = {
    "q_match_hot": dict(text="def return import", k=10),
    "q_match_mixed": dict(text="spark partition id0042", k=10),
    "q_match_rare": dict(text="id0007 id1234 id1999", k=10),
    "q_bool_must": dict(text="select filter group", k=10, require_all=True),
    # hot keyword AND ultra-rare uid: the intersection-pruning showcase —
    # only the "def" blocks whose doc-id range holds a uid candidate decode
    "q_must_selective": dict(text="def uid00123", k=10, require_all=True),
    "q_must_not": dict(text="query", k=10, must_not_text="shuffle"),
    "q_keyword_filter": dict(text="index merge", k=10, filters={"lang": "py"}),
    "q_prefix_filter": dict(text="index merge", k=10, prefix=("path", "src/mod4/")),
    "q_topk_100": dict(text="sort merge join", k=100),
}

# fixed index layout — the "cluster size" knob is cores, never the layout
N_SHARDS = 16


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    runs = int(os.environ.get("BENCH_RUNS", "5"))
    n_docs = int(os.environ.get("BENCH_GEN_DOCS", "60000"))
    work = os.environ.get("BENCH_WORK_DIR") or tempfile.mkdtemp(prefix="lcidx_")
    cleanup = "BENCH_WORK_DIR" not in os.environ

    spark = get_spark("bench", cores=cores, shuffle_partitions=cores)

    # ---- corpus (untimed): deterministic synthetic @ input_hint schema ----
    # BENCH_CORPUS_DIR shares the corpus across reps/parallelism levels —
    # sound because generation is a pure function of (n_docs, seed),
    # byte-identical at any core count
    corpus_dir = os.environ.get("BENCH_CORPUS_DIR") or os.path.join(work, "corpus")
    # versioned cache check — a dir materialized by an older generator (or
    # at a different BENCH_GEN_DOCS/seed) is regenerated, never reused: a
    # stale corpus changes what the queries measure without any error
    # (e.g. pre-uid corpora turn q_must_selective into a plain hot query)
    if not corpus_cache_valid(corpus_dir, n_docs):
        if os.path.isdir(corpus_dir):
            print(f"# stale corpus cache at {corpus_dir} — regenerating",
                  file=sys.stderr)
        materialize_corpus(spark, n_docs, corpus_dir)
    # size the scan splits so stage 1 (CPU-bound Python tokenize) runs in
    # ≥4 full waves with no repartition shuffle: split ≈ bytes/(4·cores),
    # CAPPED AT 32 MB — the cap bounds per-task tokenize+sort volume (the
    # staged partitionBy write sorts each task's full output; at 128 MB
    # splits that sort spilled 27.8 GB at the 1.6M-doc corpus and its
    # non-CPU wall grew superlinearly with corpus size, only at the
    # higher parallelism level where per-task execution memory is 1/C of
    # the pool). This is the knob a production job sets per corpus; the
    # builder's repartitionByRange fallback would otherwise shuffle the
    # full corpus.
    disk_bytes = sum(
        os.path.getsize(os.path.join(corpus_dir, f))
        for f in os.listdir(corpus_dir)
        if f.endswith(".parquet")
    )
    split = max(1 << 20, min(32 << 20, disk_bytes // (4 * cores) + 1))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    spark.conf.set("spark.sql.files.openCostInBytes", str(64 << 10))
    docs = spark.read.parquet(corpus_dir)
    input_bytes = docs.selectExpr(
        "sum(octet_length(content) + octet_length(repo) + octet_length(path)"
        " + octet_length(commit) + octet_length(lang)"
        " + octet_length(content_sha256) + 8) as b"
    ).collect()[0]["b"]

    # ---- timed region: read parquet -> durable index --------------------
    t0 = time.time()
    idx_dir = os.path.join(work, "index")
    build_index(
        spark, docs, idx_dir, id_col="doc_id", text_col="content",
        attr_cols=("lang", "repo", "path", "content_sha256"),
        n_shards=N_SHARDS, block_size=128, salt_threshold=20_000, n_salts=8,
        shards_per_job=N_SHARDS, resume=False,
    )
    build_sec = time.time() - t0

    # query phase reads the (term-pruned) posting blocks — restore the
    # default split so short scans aren't chopped into needless tasks
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 << 20))

    index = CompressedIndex(spark, idx_dir)
    per_query: dict[str, float] = {}
    fastpath_ms: dict[str, float] = {}
    lat_ms: list[float] = []
    fp_lat_ms: list[float] = []
    result_fp = hashlib.sha256()
    for name, q in QUERIES.items():
        q = dict(q)
        k = q.pop("k")
        text = q.pop("text")
        rows = index.search(text, k=k, **q).collect()  # warm (plan + page cache)
        result_fp.update(repr([(r["doc_id"], r["score"]) for r in rows]).encode())
        times = []
        for _ in range(runs):
            t = time.time()
            index.search(text, k=k, **q).collect()
            times.append(time.time() - t)
        per_query[name] = round(statistics.mean(times), 4)
        lat_ms.extend(x * 1000 for x in times)
        # serving fast path (search_local): the coordinator answers from
        # pyarrow reads of only the query terms' posting blocks — this is
        # the path an interactive deployment serves from, so its latency
        # is a headline number, not a footnote. Rank-identity with the
        # distributed path is asserted on the warm run.
        fp_rows = index.search_local(text, k=k, **q)
        assert [
            (int(r.doc_id), float(r.score)) for r in fp_rows.itertuples()
        ] == [(r["doc_id"], r["score"]) for r in rows], f"fastpath diverged: {name}"
        fp_times = []
        for _ in range(runs):
            t = time.time()
            index.search_local(text, k=k, **q)
            fp_times.append(time.time() - t)
        fastpath_ms[name] = round(statistics.mean(fp_times) * 1000, 2)
        fp_lat_ms.extend(x * 1000 for x in fp_times)
    lat_ms.sort()
    fp_lat_ms.sort()
    p95 = lat_ms[max(0, int(len(lat_ms) * 0.95) - 1)] if lat_ms else 0.0
    fp_p95 = (
        fp_lat_ms[max(0, int(len(fp_lat_ms) * 0.95) - 1)] if fp_lat_ms else 0.0
    )

    # ---- round-3 DSL extensions (fuzzy / MLT / highlight) ---------------
    # Timed as their own block, NOT folded into queries/value/query_p95_ms:
    # those aggregates are compared round-over-round (BENCH_r01/r02) and
    # changing their composition would fake a regression. Phrases are
    # timed on the positions index below (pos_ms). MLT/highlight are
    # distributed-path APIs (they need the source table);
    # fuzzy and composite have coordinator twins (r4), timed below into
    # fastpath_ms with rank/bucket identity asserted. BENCH_DSL=0
    # (tools/scaling.py) skips the block so scaling reps keep the
    # committed composition and fingerprints.
    dsl_ms: dict[str, float] = {}
    if os.environ.get("BENCH_DSL", "1") != "0":
        dsl_queries = {
            # 1-deletion typo of the hot term "broadcast" — dictionary
            # expansion + In(term, ...) pushed into the postings scan
            "q_fuzzy": lambda: index.fuzzy_term_search(
                "brodcast", k=10, max_edits=1
            ),
            # characteristic-term OR query seeded from one source doc
            "q_more_like_this": lambda: index.more_like_this(1234, docs, k=10),
            # top-k + snippets for only the k hit docs
            "q_highlight": lambda: index.search_highlighted(
                "sort merge join", docs, k=10
            ),
            # keyset-paged bucket export over the hot match set
            "q_composite": lambda: index.composite_agg(
                "def return", "lang", size=4, after="a"
            ),
            # exact quantiles over the hot match set (O(matches) values)
            "q_percentiles": lambda: index.percentiles_agg(
                "def return", "doc_id", [50.0, 95.0]
            ),
        }
        for name, run_q in dsl_queries.items():
            rows = run_q().collect()  # warm (plan + page cache)
            assert rows, f"DSL bench query returned no rows: {name}"
            times = []
            for _ in range(runs):
                t = time.time()
                run_q().collect()
                times.append(time.time() - t)
            dsl_ms[name] = round(statistics.mean(times) * 1000, 2)

        # coordinator twins for the DSL shapes that allow one (r4):
        # fuzzy (resident-dictionary expansion + term-dictionary seek)
        # and composite (doc-values columnar read) — rank/bucket identity
        # vs the distributed path asserted on the warm run
        d_rows = [(r["doc_id"], r["score"]) for r in
                  index.fuzzy_term_search("brodcast", k=10, max_edits=1)
                  .collect()]
        lo = index.fuzzy_term_search_local("brodcast", k=10, max_edits=1)
        assert list(zip(lo["doc_id"].tolist(),
                        lo["score"].tolist())) == d_rows, "fuzzy local diverged"
        c_rows = [(r["facet_key"], r["cnt"]) for r in
                  index.composite_agg("def return", "lang", size=4, after="a")
                  .collect()]
        co = index.composite_agg_local("def return", "lang", size=4, after="a")
        assert list(zip(co["facet_key"].tolist(),
                        co["cnt"].tolist())) == c_rows, "composite local diverged"
        for name, run_l in (
            ("q_fuzzy_local", lambda: index.fuzzy_term_search_local(
                "brodcast", k=10, max_edits=1)),
            ("q_composite_local", lambda: index.composite_agg_local(
                "def return", "lang", size=4, after="a")),
        ):
            run_l()  # warm
            times = []
            for _ in range(runs):
                t = time.time()
                run_l()
                times.append(time.time() - t)
            fastpath_ms[name] = round(statistics.mean(times) * 1000, 2)

        # ---- r4/r5 serving surface: rescore / pinned / fetch_fields /
        # geo_distance search / geo ring agg — semantics asserted before
        # timing, like every other DSL shape. geo_point attrs are a pure
        # doc_id-derived projection written as attrs files beside the
        # SAME index's other files (symlinked; no third build): the
        # executor tasks and the ring kernel read them from the index
        # exactly as a corpus with real lon/lat would.
        geo_dir = os.path.join(work, "geo_index")
        shutil.rmtree(geo_dir, ignore_errors=True)
        os.makedirs(geo_dir)
        for entry in os.listdir(idx_dir):
            if entry != "attrs":
                os.symlink(os.path.join(idx_dir, entry), os.path.join(geo_dir, entry))
        spark.read.parquet(os.path.join(idx_dir, "attrs")).withColumn(
            "lon", (F.col("doc_id") % 720) / 2.0 - 180.0
        ).withColumn("lat", ((F.col("doc_id") * 7) % 360) / 2.0 - 90.0).write.mode(
            "overwrite"
        ).partitionBy("shard").parquet(os.path.join(geo_dir, "attrs"))
        gindex = CompressedIndex(spark, geo_dir)
        GEO = ("lon", "lat", -60.0, 0.0, 4_000_000.0)
        RINGS = [(None, 4e6), (4e6, 9e6), (9e6, None)]
        base = [(r["doc_id"], r["score"])
                for r in index.search("def return", k=50).collect()]
        rs = index.rescore("def return", "sort merge", k=10,
                           window_size=50).collect()
        assert rs and {r["doc_id"] for r in rs} <= {d for d, _ in base}, \
            "rescore escaped its primary window"
        pn = [r["doc_id"] for r in
              index.pinned([123, 45, 999], "def return", k=10).collect()]
        assert pn[:3] == [123, 45, 999], "pinned ids not promoted in order"
        ff = index.fetch_fields(
            index.search("def return", k=10), ["lang", "repo"]
        ).collect()
        assert len(ff) == 10 and all(r["lang"] is not None for r in ff), \
            "fetch_fields lost hits or attrs"
        gs = gindex.search("def return", k=10, geo=GEO).collect()
        assert gs, "geo-filtered search returned no rows"
        import numpy as _np

        from librecatastro_spark.ops.geo import haversine_np as _hav

        _ids = _np.array([r["doc_id"] for r in gs], dtype=_np.int64)
        _d = _hav((_ids % 720) / 2.0 - 180.0,
                  ((_ids * 7) % 360) / 2.0 - 90.0, -60.0, 0.0)
        assert (_d <= 4_000_000.0).all(), "geo filter admitted an outside hit"
        rg = [(r["bucket"], r["cnt"]) for r in gindex.geo_distance_agg(
            "def return", "lon", "lat", -60.0, 0.0, RINGS).collect()]
        assert len(rg) == 3 and sum(c for _, c in rg) > 0, \
            "ring agg shape wrong"
        for name, run_q in {
            "q_rescore": lambda: index.rescore(
                "def return", "sort merge", k=10, window_size=50),
            "q_pinned": lambda: index.pinned(
                [123, 45, 999], "def return", k=10),
            # the full ES _source flow: top-k search + attr fetch
            "q_fetch_fields": lambda: index.fetch_fields(
                index.search("def return", k=10), ["lang", "repo"]),
            "q_geo_search": lambda: gindex.search(
                "def return", k=10, geo=GEO),
            "q_geo_ring_agg": lambda: gindex.geo_distance_agg(
                "def return", "lon", "lat", -60.0, 0.0, RINGS),
        }.items():
            rows = run_q().collect()  # warm
            assert rows, f"DSL bench query returned no rows: {name}"
            times = []
            for _ in range(runs):
                t = time.time()
                run_q().collect()
                times.append(time.time() - t)
            dsl_ms[name] = round(statistics.mean(times) * 1000, 2)

    # ---- positional postings (index_options="positions") ----------------
    # A second index with positions enabled: its build overhead vs the
    # freqs build is reported (pos_build_sec), and the phrase queries run
    # INDEX-ONLY (no source scan — the 100 TB phrase story). The
    # coordinator twins' rank-identity with the distributed answer is
    # asserted. Same BENCH_DSL gate: scaling reps keep the committed
    # composition.
    pos_ms: dict[str, float] = {}
    pos_build_sec = 0.0
    if os.environ.get("BENCH_DSL", "1") != "0":
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
        t0 = time.time()
        pos_dir = os.path.join(work, "posindex")
        build_index(
            spark, docs, pos_dir, id_col="doc_id", text_col="content",
            attr_cols=("lang", "repo", "path", "content_sha256"),
            n_shards=N_SHARDS, block_size=128, salt_threshold=20_000,
            n_salts=8, shards_per_job=N_SHARDS, resume=False,
            index_options="positions",
        )
        pos_build_sec = round(time.time() - t0, 3)
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 << 20))
        pindex = CompressedIndex(spark, pos_dir)
        pos_queries = {
            # hot-bigram phrase (~97% of docs contain it)
            "q_phrase_pos": lambda: pindex.match_phrase("def return", k=10),
            # selective phrase: the rare term's posting-block range prunes
            # the postings scan to a narrow window
            "q_phrase_pos_sel": lambda: pindex.match_phrase(
                "id0042 merge", k=10
            ),
            # type-ahead: complete term adjacency + prefix tail, no
            # expansion collect
            "q_phrase_prefix_pos": lambda: pindex.match_phrase_prefix(
                "def re", k=10
            ),
        }
        for name, run_q in pos_queries.items():
            rows = run_q().collect()
            assert rows, f"positional bench query returned no rows: {name}"
            times = []
            for _ in range(runs):
                t = time.time()
                run_q().collect()
                times.append(time.time() - t)
            pos_ms[name] = round(statistics.mean(times) * 1000, 2)
        # rank-identity: each coordinator twin vs the distributed answer
        for text, dist, local in (
            ("def return", pindex.match_phrase, pindex.match_phrase_local),
            ("id0042 merge", pindex.match_phrase, pindex.match_phrase_local),
            ("def re", pindex.match_phrase_prefix,
             pindex.match_phrase_prefix_local),
        ):
            want = [(r["doc_id"], r["score"]) for r in dist(text, k=10).collect()]
            lo = local(text, k=10)
            assert list(zip(lo["doc_id"].tolist(), lo["score"].tolist())) == want, \
                f"phrase fast path diverged: {text}"
        # serving fast path for phrases (driver-side, no Spark job)
        for name, run_l in (
            ("q_phrase_pos_local",
             lambda: pindex.match_phrase_local("def return", k=10)),
            ("q_phrase_pos_sel_local",
             lambda: pindex.match_phrase_local("id0042 merge", k=10)),
            ("q_phrase_prefix_pos_local",
             lambda: pindex.match_phrase_prefix_local("def re", k=10)),
        ):
            run_l()  # warm
            times = []
            for _ in range(runs):
                t = time.time()
                run_l()
                times.append(time.time() - t)
            pos_ms[name] = round(statistics.mean(times) * 1000, 2)

    # full-corpus curation passes (the training-data-pipeline ops added
    # in round 3) — each is one scan over the whole corpus, timed cold
    # then averaged over 2 warm runs; same BENCH_DSL gate as above
    curation_ms: dict[str, float] = {}
    if os.environ.get("BENCH_DSL", "1") != "0":
        from librecatastro_spark.ops.decontaminate import decontaminate
        from librecatastro_spark.ops.pii import redact_pii
        from librecatastro_spark.ops.text import repetition_signals

        curation_queries = {
            # broadcast n-gram probe + one doc-keyed count shuffle
            "q_decontaminate": lambda: decontaminate(
                docs, docs.where(F.col("doc_id") % 97 == 0), text_col="content"
            ),
            # shuffle-free per-row sorted-run fold
            "q_repetition": lambda: repetition_signals(docs, text_col="content"),
            # shuffle-free codegen regexp passes
            "q_pii": lambda: redact_pii(docs, text_col="content"),
        }
        for name, run_q in curation_queries.items():
            n = run_q().count()  # warm
            assert n > 0, f"curation bench query returned no rows: {name}"
            times = []
            for _ in range(2):
                t = time.time()
                run_q().count()
                times.append(time.time() - t)
            curation_ms[name] = round(statistics.mean(times) * 1000, 2)

    total = build_sec + sum(per_query.values())
    out = {
        "metric": "index-build + BM25 golden-query suite (compressed WAND path)",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {"build_index": round(build_sec, 3), **per_query},
        "sf": sf_dir.rstrip("/").split("sf")[-1],
        "build_sec": round(build_sec, 3),
        "build_gb_per_hr": round((input_bytes / 1e9) / (build_sec / 3600.0), 3),
        "query_p95_ms": round(p95, 1),
        "fastpath_ms": fastpath_ms,
        "fastpath_p95_ms": round(fp_p95, 2),
        "dsl_ms": dsl_ms,
        "curation_ms": curation_ms,
        "pos_ms": pos_ms,
        "pos_build_sec": pos_build_sec,
        "corpus_docs": n_docs,
        "corpus_gb": round(input_bytes / 1e9, 3),
        "cores": cores,
        # determinism fingerprint: identical across parallelism levels
        "results_sha": result_fp.hexdigest()[:16],
    }
    print(json.dumps(out))
    if cleanup:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
