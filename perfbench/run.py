#!/usr/bin/env python3
"""Seeded end-to-end and per-layer benchmark of the search engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload serve-local --seed 1 --seconds 8 --trace 0

Workloads (README.md in this directory says why each exists):

* ``serve-local``   the seeded request mix on the coordinator fast path
                    (``search_local``, ``match_phrase_local``, ...);
* ``serve-cluster`` the same mix through the distributed twins
                    (``search``, ``match_phrase_positional``, ...);
* ``ingest``        a timed build, then an update and seeded appends, each
                    followed by ``refresh()`` and probe reads.

Load is one client thread in a closed loop against Spark ``local[nproc]``.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records spans
around every layer call and prints the per-layer metrics. Every answer is
checked; any failed check makes the run exit non-zero. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext

T_PROC0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402

from perfbench import obs  # noqa: E402

gen = None  # perfbench.gen, imported in main() with the engine it draws from

WORKLOADS = ("serve-local", "serve-cluster", "ingest")
N_DOCS = 4000
N_SHARDS = 4
FINGERPRINT_REQUESTS = 16
#: every run issues at least this many requests, warm-up included: the
#: oracle sample and the fingerprint come from them
MIN_REQUESTS = FINGERPRINT_REQUESTS
MIN_TIMED = 5
#: untimed requests that open the loop: three rounds of the shape schedule
#: on the fast path, a few on the distributed route (JIT, Python workers)
WARMUP = {"local": 42, "cluster": 3}
APPEND_DOCS = 100  # per ingest append batch
TRACE_APPEND_DOCS = 4  # per append batch of a serve workload's traced run
UPDATE_DOCS = 4

LOCAL = {
    "search": "search_local",
    "phrase": "match_phrase_local",
    "phrase_prefix": "match_phrase_prefix_local",
    "fuzzy": "fuzzy_term_search_local",
}
CLUSTER = {
    "search": "search",
    "phrase": "match_phrase_positional",
    "phrase_prefix": "match_phrase_prefix_positional",
    "fuzzy": "fuzzy_term_search",
}


def family(shape: str) -> str:
    return shape if shape in ("phrase", "phrase_prefix", "fuzzy") else "search"


def search_kwargs(req: dict) -> dict:
    return {k: v for k, v in req.items() if k not in ("shape", "text")}


def rows_of(out) -> list[tuple[int, float]]:
    """(doc_id, score) pairs from a pandas frame or a Spark DataFrame."""
    if hasattr(out, "collect"):
        return [(int(r["doc_id"]), float(r["score"])) for r in out.collect()]
    return list(zip(map(int, out["doc_id"].tolist()), map(float, out["score"].tolist())))


def check_answer(ans, req: dict, n_docs: int, cursor=None) -> str | None:
    """None if the response is well formed, else what is wrong with it."""
    if len(ans) > req["k"]:
        return f"{len(ans)} rows > k={req['k']}"
    for d, s in ans:
        if not 0 <= d < n_docs:
            return f"doc_id {d} out of range"
        if req["shape"] == "fuzzy" and s != 1.0:
            return f"constant-score shape scored {s}"
        if cursor is not None and not (s < cursor[0] or (s == cursor[0] and d > cursor[1])):
            return f"row {(d, s)} not after cursor {cursor}"
    for (d1, s1), (d2, s2) in zip(ans, ans[1:]):
        if not (s1 > s2 or (s1 == s2 and d1 < d2)):
            return f"order broken at {(d1, s1)} -> {(d2, s2)}"
    return None


class Bench:
    """One benchmark run: its Spark session, index, inputs and results."""

    def __init__(self, args, lib):
        self.args, self.lib = args, lib
        self.seed = args.seed
        self.tracer = obs.Tracer()
        self.attempted = 0
        self.failures: list[str] = []
        self.report: dict[str, tuple[float, str, int | None]] = {}
        self.work = os.path.join(
            os.getcwd(), ".perfbench", f"{args.workload}-seed{args.seed}-{os.getpid()}"
        )
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.spark = None
        self.last_probe: list = []

    # ------------------------------------------------------------ utils --

    def put(self, name: str, value: float, unit: str, n: int | None = None) -> None:
        self.report[name] = (float(value), unit, n)

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"FAIL {what}", file=sys.stderr)

    def write_corpus(self, docs, name: str) -> str:
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self.work, name)
        os.makedirs(path)
        pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                       os.path.join(path, "part-0.parquet"))
        return path

    def start_session(self) -> float:
        tmp = os.path.join(self.work, "tmp")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        # a small corpus needs a small heap; the machine is shared
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        t0 = time.perf_counter()
        self.spark = self.lib["session"].get_spark(
            "perfbench",
            cores=len(os.sched_getaffinity(0)),
            extra_conf={
                "spark.local.dir": tmp,
                # no hsperfdata file in the system /tmp: write only here
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.spark = None

    # ------------------------------------------------------------ build --

    def build(self, corpus_path: str, out: str, index_options: str, in_bytes: int) -> float:
        docs = self.spark.read.parquet(corpus_path)
        t0 = time.perf_counter()
        self.lib["builder"].build_index(
            self.spark, docs, out, attr_cols=("lang", "path", "content_sha256"),
            n_shards=N_SHARDS, shards_per_job=N_SHARDS, index_options=index_options,
            resume=False,
        )
        build_s = time.perf_counter() - t0
        self.put("build_mb_per_s", in_bytes / 1e6 / build_s, "MB/s")
        return build_s

    def builder_layers(self, out: str, fp) -> None:
        recs = self.lib["builder"].manifest_records(out)
        stage = recs["stage"]
        units = [r for u, r in recs.items() if u.startswith("shards_")]
        for key, name in (("sec_count", "count_s"), ("sec_attrs", "attrs_s"),
                          ("sec_tokenize", "tokenize_s"), ("sec_stats", "stats_s")):
            self.put(f"index.builder.{name}", stage[key], "s")
        self.put("index.builder.tids_s", sum(r.get("sec_tids", 0.0) for r in units), "s")
        self.put("index.builder.encode_s", sum(r["secs"] for r in units), "s")
        self.put("index.builder.postings_bytes", obs.dir_size(os.path.join(out, "postings")), "B")
        self.put("index.builder.files", fp.n_files, "count")
        self.put("index.builder.row_groups", fp.n_row_groups, "count")
        self.put("index.builder.blocks", fp.n_blocks, "count")
        self.put("index.builder.terms", len(fp.postings), "count")

    # ----------------------------------------------------------- serve --

    def call(self, ix, route: str, req: dict, cursor=None):
        """Issue one request (one engine call); ``cursor`` asks for the page
        after it (search_after)."""
        fam = family(req["shape"])
        meth = getattr(ix, (LOCAL if route == "local" else CLUSTER)[fam])
        kw = search_kwargs(req) if fam == "search" else {"k": req["k"]}
        if cursor is not None:
            kw["search_after"] = cursor
        with self.tracer.span(f"engine.wand.{meth.__name__}"):
            return rows_of(meth(req["text"], **kw))

    def oracle(self, exact, req: dict):
        fam, text, k = family(req["shape"]), req["text"], req["k"]
        if fam == "phrase":
            return rows_of(exact.match_phrase(text, k=k))
        if fam == "phrase_prefix":
            return rows_of(exact.match_phrase_prefix(text, k=k))
        return rows_of(exact.search(text, **search_kwargs(req)))

    def oracle_sample(self, exact, pool, stream) -> dict[int, list]:
        """Before timing: the exact engine's answers to a seeded sample of
        the requests every run issues (the stream's first
        ``MIN_REQUESTS``): the first filtered search, and the first phrase
        or phrase-prefix request, whichever the seed picks."""
        phrase = ("phrase", "phrase_prefix")[self.seed % 2]
        picked: dict[str, int] = {}
        for i in stream[:MIN_REQUESTS]:
            shape = pool[i]["shape"]
            tag = "search" if shape in ("lang", "prefix", "must_not", "and") else shape
            if tag in ("search", phrase):
                picked.setdefault(tag, int(i))
        if len(picked) < 2:
            self.fail(f"oracle sample incomplete: {picked}")
        return {p: self.oracle(exact, pool[p]) for p in picked.values()}

    def serve(self, ix, route: str, pool, stream, n_docs: int, seconds: float,
              expected: dict[int, list]) -> dict:
        """The closed loop. Its first ``WARMUP[route]`` requests fill the
        caches and finish lazy set-up untimed; the timed part then runs for
        ``seconds`` (and at least ``MIN_TIMED`` requests). Every request is
        checked. A ``page2`` entry asks for page 1 the first time it comes
        up and for the page after that one from then on, as a user paging
        through results would. Returns per-request records of the timed
        part, the timed part's wall time and engine CPU seconds, host
        shares and the fingerprint."""
        tracer = self.tracer
        keys = [gen.request_key(r) for r in pool]
        sc = self.spark.sparkContext
        tracing = self.args.trace == 1
        first: dict[tuple, list] = {}
        cursors: dict[int, tuple] = {}
        recs, fp_answers = [], []
        # a seeded coin picks the requests a traced run records; the rest
        # run with nothing swapped and no job group, as in an untraced run
        coin = np.random.default_rng([self.seed, 0x7ACE]).random(len(stream)) < 0.5
        n_warm = WARMUP[route]
        jvm_pid = sc._gateway.proc.pid
        host0 = t_start = cpu_start = None
        i = 0
        while i < len(stream):
            if i == n_warm:
                host0, t_start = obs.read_proc_stat(), time.perf_counter()
                cpu_start = obs.engine_cpu_s(jvm_pid)
            if i >= max(MIN_REQUESTS, n_warm + MIN_TIMED) and time.perf_counter() >= t_start + seconds:
                break
            p = int(stream[i])
            req = pool[p]
            cursor = cursors.get(p)
            traced = tracing and i >= n_warm and bool(coin[i])
            tracer.enabled, tracer.request = traced, i
            self.attempted += 1
            ans = None
            # the codec/positions swaps only matter where decoding runs on
            # the driver; the distributed route decodes inside Spark tasks
            with obs.traced_modules(tracer, ix, codec=route == "local") if traced else nullcontext():
                if traced:
                    sc.setJobGroup(f"perfbench-{i}", keys[p][:120])
                t0 = time.perf_counter()
                try:
                    with tracer.span("client.request", shape=req["shape"]):
                        ans = self.call(ix, route, req, cursor)
                except Exception:
                    self.fail(f"request {i} {req}: {traceback.format_exc(limit=3)}")
                dt = time.perf_counter() - t0
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
            if ans is None:
                i += 1
                continue
            key = (p, cursor)
            problem = check_answer(ans, req, n_docs, cursor)
            repeat = key in first
            if problem is None and repeat and first[key] != ans:
                problem = "repeat differs from its first answer"
            if problem is None and not repeat and cursor is None and p in expected \
                    and expected[p] != ans:
                problem = f"differs from the exact engine's {expected[p][:5]}"
            if problem is not None:
                self.fail(f"request {i} {req} after {cursor}: {problem}")
            first.setdefault(key, ans)
            if req["shape"] == "page2" and cursor is None and ans:
                cursors[p] = (ans[-1][1], ans[-1][0])
            if i < FINGERPRINT_REQUESTS:
                fp_answers.append([p, cursor, ans])
            if i >= n_warm:
                recs.append({"i": i, "p": p, "lat": dt, "repeat": repeat, "traced": traced,
                             "n": len(ans)})
            i += 1
        tracer.enabled = False
        wall = time.perf_counter() - t_start
        cpu_s = obs.engine_cpu_s(jvm_pid) - cpu_start
        host = obs.host_delta(host0, obs.read_proc_stat())
        for r in recs:
            if r["traced"]:
                r["jobs"], r["stages"], r["tasks"] = obs.job_counts(sc, f"perfbench-{r['i']}")
        fingerprint = hashlib.sha256(json.dumps(fp_answers).encode()).hexdigest()[:16]
        return {"recs": recs, "warm": n_warm, "wall": wall, "cpu_s": cpu_s, "host": host,
                "fingerprint": fingerprint}

    def latency_metrics(self, res: dict) -> None:
        """Wall-clock latency and throughput, and engine CPU time per
        request, over the timed part of the loop."""
        recs = res["recs"]
        n = len(recs)
        ms = [r["lat"] * 1e3 for r in recs]
        self.put("latency_p50_ms", obs.percentile(ms, 50), "ms", n)
        self.put("latency_p95_ms", obs.percentile(ms, 95), "ms", n)
        self.put("throughput_qps", n / res["wall"], "1/s", n)
        self.put("cpu_ms_per_request", 1e3 * res["cpu_s"] / n, "ms", n)
        print(f"timed loop: {n} requests in {res['wall']:.2f} s after {res['warm']} warm-up "
              f"requests; engine CPU {res['cpu_s']:.2f} s")
        tail = obs.tail_percentile(n)
        if tail is not None:
            print(f"tail p{tail:g} (>=10 samples beyond) = {obs.percentile(ms, tail):.3f} ms, n={n}")

    def query_layers(self, res: dict, pool, fp) -> None:
        """Per-layer query metrics from the traced requests' spans plus the
        footprint of every distinct request."""
        from librecatastro_spark.analyzer import Analyzer

        analyze = Analyzer().analyze
        spans = self.tracer.spans
        selfs = obs.self_times(spans)
        by_req = defaultdict(list)
        for s in spans:
            by_req[s["req"]].append(s)
        recs = res["recs"]
        traced = [r for r in recs if r["traced"]]
        fam_ms = defaultdict(list)
        engine_self, decode_ms, decoded, verify_ms, analyze_us = [], [], [], [], []
        for r in traced:
            ss = by_req[r["i"]]
            fam = family(pool[r["p"]]["shape"])
            eng = [s for s in ss if s["name"].startswith("engine.wand.")]
            fam_ms[fam].append(1e3 * sum(s["end"] - s["start"] for s in eng))
            engine_self.append(1e3 * sum(selfs[s["id"]] for s in eng))
            dec = [s for s in ss if s["name"].startswith("index.codec.")]
            decode_ms.append(1e3 * sum(s["end"] - s["start"] for s in dec))
            decoded.append(sum(s.get("attrs", {}).get("values", 0) for s in dec))
            if fam in ("phrase", "phrase_prefix"):
                verify_ms.append(1e3 * sum(
                    s["end"] - s["start"] for s in ss if s["name"] == "engine.positions.phrase_verify"
                ))
            analyze_us += [1e6 * (s["end"] - s["start"]) for s in ss if s["name"] == "analyzer.analyze"]
        n_t = len(traced)
        for fam in ("search", "phrase", "phrase_prefix", "fuzzy"):
            v = fam_ms.get(fam)
            self.put(f"engine.wand.{fam}.p50_ms", obs.percentile(v, 50) if v else 0.0, "ms", len(v or []))
        mean = (lambda v: sum(v) / len(v) if v else 0.0)
        self.put("engine.wand.self_ms", obs.percentile(engine_self, 50) if engine_self else 0.0, "ms", n_t)
        self.put("index.codec.decode_ms", mean(decode_ms), "ms", n_t)
        self.put("index.codec.decoded_values", mean(decoded), "count", n_t)
        self.put("engine.positions.phrase_verify_ms", mean(verify_ms), "ms", len(verify_ms))
        self.put("analyzer.analyze_us", obs.percentile(analyze_us, 50) if analyze_us else 0.0, "us",
                 len(analyze_us))
        # outside work counts, per distinct request (untimed)
        cost_of = {}
        for p in {r["p"] for r in recs}:
            cost_of[p] = fp.cost(request_terms(pool[p], analyze, fp))
        tot = defaultdict(int)
        for r in recs:
            for key, v in cost_of[r["p"]].items():
                tot[key] += v
        n = len(recs)
        for key in ("postings", "blocks", "row_groups", "bytes_read"):
            self.put(f"engine.wand.{key}", tot[key] / n, "B" if key == "bytes_read" else "count", n)
        self.put("engine.wand.results_per_posting", sum(r["n"] for r in recs) / max(1, tot["postings"]),
                 "ratio", n)
        self.put("engine.wand.repeat_share", sum(r["repeat"] for r in recs) / n, "ratio", n)
        # job counts exist for the traced requests only (job groups)
        self.put("engine.wand.cluster_route_share",
                 sum(r["jobs"] > 0 for r in traced) / max(1, n_t), "ratio", n_t)
        for key in ("jobs", "stages", "tasks"):
            self.put(f"spark.{key}_per_query", sum(r[key] for r in traced) / max(1, n_t), "count", n_t)
        ratios = overhead_ratios(recs, pool)
        if ratios:
            self.put("trace.overhead_pct", 100.0 * (obs.percentile(ratios, 50) - 1.0), "%", len(ratios))
        self.put("trace.spans_per_request", len([s for s in spans if s["req"] in
                                                  {r["i"] for r in traced}]) / max(1, n_t), "count", n_t)
        self.put("trace.span_cost_us", obs.span_cost_us(), "us")

    # ----------------------------------------------------------- writes --

    def probe(self, ix, probes, n_docs: int) -> list[float]:
        """Run the fixed probe set through ``search_local``; returns the
        latencies and keeps the last answers for the final oracle check."""
        lats = []
        self.last_probe = []
        for req in probes:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                ans = self.call(ix, "local", req)
            except Exception:
                self.fail(f"probe {req}: {traceback.format_exc(limit=3)}")
                continue
            lats.append(time.perf_counter() - t0)
            problem = check_answer(ans, req, n_docs)
            if problem:
                self.fail(f"probe {req}: {problem}")
            self.last_probe.append((req, ans))
        return lats

    def write_ops(self) -> list[str]:
        """The write sequence: one update, then ``COMPACT_AFTER`` - 2
        appends. The build leaves one stats delta, the update adds two and
        each append one, and an append first compacts when it finds
        ``COMPACT_AFTER`` deltas: the last append does, with the fewest
        writes that make it fire."""
        return ["update"] + ["append"] * (self.lib["incremental"].COMPACT_AFTER - 2)

    def writes(self, ix, out: str, docs, append_docs: int, probes) -> dict:
        """Apply ``write_ops`` with ``append_docs`` new documents per
        append; after each write ``refresh()`` and the probe reads. Returns
        per-op measurements and the final corpus (pandas), which the final
        checks compare against."""
        import pandas as pd

        inc, builder = self.lib["incremental"], self.lib["builder"]
        rng = np.random.default_rng([self.seed, 0x3717E])
        res = defaultdict(list)
        n_batch = 0
        compactions = obs.CallLog(inc, "compact_term_stats")
        for j, op in enumerate(self.write_ops()):
            if op == "append":
                n_batch += 1
                batch = gen.make_docs(self.seed, start=len(docs), n=append_docs, stream=n_batch)
            else:
                ids = sorted(int(x) for x in rng.choice(len(docs), UPDATE_DOCS, replace=False))
                batch = pd.concat([gen.make_docs(self.seed, start=d, n=1, stream=1000 + j)
                                   for d in ids], ignore_index=True)
            frame = self.spark.read.parquet(self.write_corpus(batch, f"batch-{j}"))
            before, recs0 = obs.file_state(out), builder.manifest_records(out)
            compactions.results.clear()
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with compactions:
                    if op == "append":
                        n_new = inc.append_batch(self.spark, out, frame)
                        ok = n_new == len(batch)
                    else:
                        n_rep, n_new = inc.update_batch(self.spark, out, frame)
                        ok = n_rep == n_new == len(batch)
                t1 = time.perf_counter()
                ix.refresh()
                t2 = time.perf_counter()
            except Exception:
                self.fail(f"{op} batch {j}: {traceback.format_exc(limit=3)}")
                continue
            if not ok:
                self.fail(f"{op} batch {j}: wrong doc count")
            if op == "append":
                docs = pd.concat([docs, batch], ignore_index=True)
            else:
                docs = pd.concat([docs[~docs["doc_id"].isin(ids)], batch], ignore_index=True)
            new_recs = [r for u, r in builder.manifest_records(out).items() if u not in recs0]
            written = obs.bytes_written(before, obs.file_state(out))
            res[f"{op}_s"].append(t2 - t0)
            res["refresh_ms"].append(1e3 * (t2 - t1))
            res["shards_touched"].append(len({s for r in new_recs for s in r.get("shards", [])}))
            res["bytes_written"].append(written)
            res["write_amp"].append(written / gen.input_bytes(batch))
            res["compactions"].append(sum(map(bool, compactions.results)))
            res["stats_deltas"].append(len(builder.stats_delta_dirs(out)))
            res["probe_lat"] += self.probe(ix, probes, len(docs))
        if sum(res["compactions"]) < 1:
            self.fail("compact_term_stats never compacted in the write sequence")
        res["docs"] = docs
        return res

    def final_checks(self, ix, out: str, docs) -> None:
        """Expected N, the per-row content hash invariant, and the last
        probe answers against the exact engine over the final corpus."""
        self.attempted += 3
        meta = self.lib["builder"].read_meta(out)
        if meta.n_docs != len(docs):
            self.fail(f"meta.n_docs {meta.n_docs} != {len(docs)}")
        final = self.spark.read.parquet(self.write_corpus(docs, "final-corpus"))
        if not self.lib["builder"].verify_content_sha(final, self.spark, out):
            self.fail("verify_content_sha failed on the final index")
        exact = self.lib["exact"].ExactBM25(final, attr_cols=("lang", "path"), cache=True)
        for req, ans in self.last_probe:
            want = self.oracle(exact, req)
            if ans != want:
                self.fail(f"final probe {req}: engine {ans[:5]} != exact {want[:5]}")

    def write_layers(self, res: dict) -> None:
        for key, unit in (("append_s", "s"), ("update_s", "s"), ("shards_touched", "count"),
                          ("bytes_written", "B"), ("write_amp", "ratio")):
            v = res.get(key, [])
            self.put(f"streaming.incremental.{key}", obs.percentile(v, 50) if v else 0.0, unit, len(v))
        self.put("streaming.incremental.stats_deltas", res["stats_deltas"][-1] if res["stats_deltas"] else 0,
                 "count")
        self.put("streaming.incremental.compactions", sum(res["compactions"]), "count")
        v = res.get("refresh_ms", [])
        self.put("engine.wand.refresh_ms", obs.percentile(v, 50) if v else 0.0, "ms", len(v))


def overhead_ratios(recs: list[dict], pool) -> list[float]:
    """Per request shape with requests in both halves: median latency of
    the traced requests over that of the untraced ones. Comparing within a
    shape keeps the halves' different shape mixes out of the ratio. With
    no such shape, the one ratio of the halves' medians."""
    halves = defaultdict(lambda: ([], []))
    for r in recs:
        halves[pool[r["p"]]["shape"]][0 if r["traced"] else 1].append(r["lat"])
    pairs = [(on, off) for on, off in halves.values() if on and off]
    if not pairs:
        pairs = [tuple([r["lat"] for r in recs if r["traced"] is t] for t in (True, False))]
    return [obs.percentile(on, 50) / obs.percentile(off, 50) for on, off in pairs if on and off]


def request_terms(req: dict, analyze, fp) -> list[str]:
    """The dictionary terms a request's seek must read: analyzed query and
    must_not terms, or a prefix/fuzzy expansion over the dictionary (fuzzy
    capped at 50 best-by-df, the engine's default max_expansions)."""
    fam = family(req["shape"])
    toks = analyze(req["text"])
    if fam == "search":
        return sorted(set(toks) | set(analyze(req.get("must_not_text") or "")))
    if fam == "phrase":
        return sorted(set(toks))
    if fam == "phrase_prefix":
        pfx = toks[-1]
        return sorted(set(toks[:-1]) | {t for t in fp.postings if t.startswith(pfx)})
    q = toks[0]
    cands = [t for t in fp.postings if abs(len(t) - len(q)) <= 1 and levenshtein(t, q) <= 1]
    cands.sort(key=lambda t: (-fp.postings[t], t))
    return cands[:50]


def levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def probe_set(pool) -> list[dict]:
    """The fixed probe reads of the write phases: the four most popular
    plain searches of the mix."""
    return [r for r in pool if r["shape"] in ("or", "and", "lang")][:4]


# ------------------------------------------------------------ workloads --

def run_serve(b: Bench, route: str, lib_import_s: float) -> None:
    args = b.args
    docs = gen.make_docs(b.seed, 0, N_DOCS)
    corpus = b.write_corpus(docs, "corpus")
    pool = gen.make_pool(b.seed, docs)
    stream = gen.make_stream(b.seed, pool)
    session_s = b.start_session()
    out = os.path.join(b.work, "index")
    in_bytes = gen.input_bytes(docs)
    build_s = b.build(corpus, out, "positions", in_bytes)
    t0 = time.perf_counter()
    ix = b.lib["wand"].CompressedIndex(b.spark, out)
    open_s = time.perf_counter() - t0
    b.put("setup_s", lib_import_s + session_s + build_s + open_s, "s")
    b.put("index_bytes_per_input_byte", obs.dir_size(out) / in_bytes, "ratio")
    b.put("session.start_s", session_s, "s")
    b.put("engine.wand.open_ms", 1e3 * open_s, "ms")
    t0 = time.perf_counter()
    expected = {}
    if not args.trace:
        # a traced run checks against the exact engine after its writes
        # instead (final_checks): one ExactBM25 pass per run
        exact = b.lib["exact"].ExactBM25(b.spark.read.parquet(corpus), attr_cols=("lang", "path"),
                                         cache=True)
        expected = b.oracle_sample(exact, pool, stream)
        b.attempted += len(expected)
    print(f"phase oracle {time.perf_counter() - t0:.2f} s, build {build_s:.2f} s, "
          f"since start {time.perf_counter() - T_PROC0:.2f} s")
    res = b.serve(ix, route, pool, stream, len(docs), args.seconds, expected)
    for key, v in obs.spark_floors(b.spark).items():
        b.put(f"session.{key}", v, "ms")
    b.put("host.steal_pct", res["host"]["steal_pct"], "%")
    b.put("host.busy_pct", res["host"]["busy_pct"], "%")
    b.latency_metrics(res)
    by_shape = defaultdict(list)
    for r in res["recs"]:
        by_shape[pool[r["p"]]["shape"]].append(1e3 * r["lat"])
    print("shape p50 ms (n): " + ", ".join(
        f"{k} {obs.percentile(v, 50):.1f} ({len(v)})" for k, v in sorted(by_shape.items())))
    print(f"fingerprint {res['fingerprint']} (first {FINGERPRINT_REQUESTS} requests, seed {b.seed})")
    # the decode cache's size after the loop: the mix's working set
    print(f"decode cache {getattr(ix, '_dec_cache_bytes', 0) / 2**20:.2f} MB after the loop")
    if args.trace:
        fp = obs.Footprint(out)
        b.builder_layers(out, fp)
        b.put("engine.wand.dict_terms", len(fp.postings), "count")
        b.query_layers(res, pool, fp)
        wres = b.writes(ix, out, docs, TRACE_APPEND_DOCS, probe_set(pool))
        b.write_layers(wres)
        b.final_checks(ix, out, wres["docs"])


def run_ingest(b: Bench, lib_import_s: float) -> None:
    args = b.args
    docs = gen.make_docs(b.seed, 0, N_DOCS)
    corpus = b.write_corpus(docs, "corpus")
    pool = gen.make_pool(b.seed, docs)
    session_s = b.start_session()
    b.put("setup_s", lib_import_s + session_s, "s")
    b.put("session.start_s", session_s, "s")
    host0 = obs.read_proc_stat()
    t_start = time.perf_counter()
    out = os.path.join(b.work, "index")
    b.build(corpus, out, "freqs", gen.input_bytes(docs))
    t0 = time.perf_counter()
    ix = b.lib["wand"].CompressedIndex(b.spark, out)
    b.put("engine.wand.open_ms", 1e3 * (time.perf_counter() - t0), "ms")
    probes = probe_set(pool)
    res = b.writes(ix, out, docs, APPEND_DOCS, probes)
    lats = res["probe_lat"]
    while time.perf_counter() < t_start + args.seconds:
        lats += b.probe(ix, probes, len(res["docs"]))
    wall = time.perf_counter() - t_start
    host = obs.host_delta(host0, obs.read_proc_stat())
    for key, v in obs.spark_floors(b.spark).items():
        b.put(f"session.{key}", v, "ms")
    b.put("host.steal_pct", host["steal_pct"], "%")
    b.put("host.busy_pct", host["busy_pct"], "%")
    ms = [x * 1e3 for x in lats]
    b.put("latency_p50_ms", obs.percentile(ms, 50), "ms", len(ms))
    b.put("latency_p95_ms", obs.percentile(ms, 95), "ms", len(ms))
    b.put("throughput_qps", len(ms) / sum(lats), "1/s", len(ms))
    b.put("append_s", obs.percentile(res["append_s"], 50), "s", len(res["append_s"]))
    b.put("update_s", obs.percentile(res["update_s"], 50), "s", len(res["update_s"]))
    b.put("index_bytes_per_input_byte", obs.dir_size(out) / gen.input_bytes(res["docs"]), "ratio")
    b.write_layers(res)
    print(f"ingest wall {wall:.1f} s for {len(res['append_s']) + len(res['update_s'])} writes")
    if args.trace:
        b.builder_layers(out, obs.Footprint(out))
    b.final_checks(ix, out, res["docs"])


# ----------------------------------------------------------------- main --

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    global gen
    try:
        from librecatastro_spark import session
        from librecatastro_spark.engine import exact, wand
        from librecatastro_spark.index import builder
        from librecatastro_spark.streaming import incremental
        from perfbench import gen
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    lib_import_s = time.perf_counter() - T_PROC0
    lib = {"session": session, "exact": exact, "wand": wand, "builder": builder,
           "incremental": incremental}
    b = Bench(args, lib)
    try:
        try:
            if args.workload == "ingest":
                run_ingest(b, lib_import_s)
            else:
                run_serve(b, "local" if args.workload == "serve-local" else "cluster", lib_import_s)
        except Exception:
            b.attempted += 1
            b.fail(f"run aborted: {traceback.format_exc()}")
        spans_dir = os.path.join(os.getcwd(), ".perfbench", "spans")
        if args.trace and b.tracer.spans:
            os.makedirs(spans_dir, exist_ok=True)
            b.tracer.dump(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        t0 = time.perf_counter()
        b.stop()
        shutil.rmtree(b.work, ignore_errors=True)
        print(f"phase stop {time.perf_counter() - t0:.2f} s, total {time.perf_counter() - T_PROC0:.2f} s")

    for name, (value, unit, n) in sorted(b.report.items()):
        print(f"metric {name} {value:.6g} {unit}" + (f" n={n}" if n is not None else ""))
    print(f"fail_ratio {len(b.failures) / max(1, b.attempted):.6g} "
          f"({len(b.failures)} failed of {b.attempted} attempted)")
    # a workload BENCHMARK.json lists reports exactly its metrics there;
    # another reports its end-to-end (unprefixed) or per-layer names
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload in {w["name"] for w in spec["workloads"]}:
        names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
        missing = [m for m in names if m not in b.report]
        if missing and not b.failures:
            b.fail(f"metrics not measured: {missing}")
    else:
        names = [m for m in b.report if ("." in m) == bool(args.trace)]
    metrics = {m: {"value": b.report[m][0], "unit": b.report[m][1]} for m in names if m in b.report}
    ok = not b.failures
    print(json.dumps({"correct": ok, "attempted": max(1, b.attempted), "failed": len(b.failures),
                      "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
