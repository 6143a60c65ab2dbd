"""CPU per one-task query, split by process: driver Python, JVM, Python
workers.

Starts a local session with ``session.get_spark`` and runs three query
shapes, each of which runs as one Spark task:

- ``trivial``: a DataFrame grouped map over one row that returns it —
  the job floor of the per-shard grouped map the engine ran before the
  executor seek replaced it, kept for comparison;
- ``rdd``: ``sc.parallelize([0], 1).mapPartitions(...)`` over one
  element — the job floor of the engine's only distributed shape
  (``CompressedIndex._dispatch``: scored queries, phrases, expansion
  tails, aggregations, compound scorers, multi_match);
- ``search``: a distributed ``CompressedIndex.search`` on a tiny index
  (400 docs, 4 shards): the rdd floor plus the seek plan on the driver,
  the seek and kernel in the task and the TakeOrderedAndProject merge.

A fourth shape, ``local``, runs the same query through
``CompressedIndex.search_local`` — no Spark job — twice: ``cold``, with
``_POSTING_CACHE_BYTES = 0`` so every call reads and decodes its postings,
and ``warm``, with the default budget after the warm-up calls filled the
coordinator cache. Its CPU is the driver's alone, split by thread from
``/proc/self/task``: the calling thread, the seek pool's threads (the
column reads) and every other driver thread.

CPU comes from ``/proc/<pid>/stat`` (user + system): the driver is this
process, the JVM is the gateway's child, and the Python workers are the
JVM's descendants (the daemon and every worker it forked). ``/proc``
counts CPU in clock ticks (10 ms), so each sample is a round of queries
divided by its size; the tool prints the median per query over the
rounds, with n.

Usage: python tools/worker_cost.py [--stock] [--rounds 8] [--per-round 10]
                                   [--profile]

(``local`` runs ten times ``--per-round`` queries a round: one call costs
a few ms, under one tick.)

``--stock`` passes ``extra_conf={"spark.python.daemon.module":
"pyspark.daemon"}``, the stock daemon, to compare with the daemon
``get_spark`` picks by default.

``--profile`` then runs the warm ``local`` query ``--rounds`` x ten
times ``--per-round`` more times under cProfile and prints the share of
the profiled time spent inside (cumulative) the BM25 kernel
(``_shard_topk_fn``), the coordinator seek (``_seek_blocks``), its row
selection (``_select``), the block order (``_ordered``) and the
pyarrow→pandas conversions (``table_to_dataframe``).
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TICK_MS = 1e3 / os.sysconf("SC_CLK_TCK")
GROUPS = ("driver", "jvm", "workers")
THREADS = ("caller", "pool", "other")


def _stat(path: str) -> tuple[int, int] | None:
    """(parent pid, user + system ticks) from a ``/proc`` stat file;
    None once its process or thread exited."""
    try:
        with open(path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return None
    return int(fields[1]), int(fields[11]) + int(fields[12])


def cpu_ticks(jvm: int) -> dict[str, dict[int, int]]:
    """Ticks per live pid of each group."""
    stats = {p: s for p in map(int, filter(str.isdigit, os.listdir("/proc")))
             if (s := _stat(f"/proc/{p}/stat")) is not None}
    workers, frontier = {}, [jvm]
    while frontier:
        parent = frontier.pop()
        for p, (ppid, ticks) in stats.items():
            if ppid == parent and p not in workers:
                workers[p] = ticks
                frontier.append(p)
    me = os.getpid()
    return {
        "driver": {me: stats[me][1]},
        "jvm": {jvm: stats[jvm][1]},
        "workers": workers,
    }


def measure(run, jvm: int, rounds: int, per_round: int) -> dict[str, list[float]]:
    """ms per query of each group, one sample per round. A worker that
    exits during a round adds nothing for that round."""
    samples = {g: [] for g in GROUPS}
    for _ in range(rounds):
        time.sleep(0.3)  # the last task's post-task gc lands in this round
        before = cpu_ticks(jvm)
        for _ in range(per_round):
            run()
        time.sleep(0.3)
        after = cpu_ticks(jvm)
        for g in GROUPS:
            ticks = sum(t - before[g].get(p, 0) for p, t in after[g].items())
            samples[g].append(ticks * TICK_MS / per_round)
    return samples


def thread_ticks() -> dict[int, int]:
    """Ticks per live thread of this process."""
    return {int(t): s[1] for t in os.listdir("/proc/self/task")
            if (s := _stat(f"/proc/self/task/{t}/stat")) is not None}


def measure_threads(run, pool_tids, rounds: int, per_round: int) -> dict[str, list[float]]:
    """ms per query of the calling thread, the threads ``pool_tids()``
    names and the other driver threads, one sample per round."""
    me = threading.get_native_id()
    samples = {g: [] for g in THREADS}
    for _ in range(rounds):
        before = thread_ticks()
        for _ in range(per_round):
            run()
        after = thread_ticks()
        delta = {t: v - before.get(t, 0) for t, v in after.items()}
        pool = sum(delta.get(t, 0) for t in pool_tids())
        caller = delta.get(me, 0)
        for g, ticks in zip(THREADS, (caller, pool, sum(delta.values()) - caller - pool)):
            samples[g].append(ticks * TICK_MS / per_round)
    return samples


def profile(run, n: int) -> None:
    """Cumulative cProfile shares of the layers of ``n`` warm ``run``
    calls (a layer absent from the engine reads 0)."""
    import cProfile
    import pstats
    import types

    from librecatastro_spark.engine import wand

    kernel = next(
        c for c in wand._shard_topk_fn.__code__.co_consts
        if isinstance(c, types.CodeType) and c.co_name == "fn"
    )
    layers = {
        "bm25 kernel": lambda f, ln, name: (f, ln) == (
            kernel.co_filename, kernel.co_firstlineno),
        **{fn: lambda f, ln, name, fn=fn: f == wand.__file__ and name == fn
           for fn in ("_seek_blocks", "_select", "_ordered")},
        "to_pandas": lambda f, ln, name: name == "table_to_dataframe",
    }
    pr = cProfile.Profile()
    pr.enable()
    for _ in range(n):
        run()
    pr.disable()
    st = pstats.Stats(pr)
    print(f"profile: {n} warm calls, {1e3 * st.total_tt / n:.2f} ms each "
          "under the profiler; cumulative share of that time")
    for label, match in layers.items():
        cum = sum(v[3] for key, v in st.stats.items() if match(*key))
        print(f"  {label:14s} {100 * cum / st.total_tt:5.1f} %")


def report(name: str, s: dict[str, list[float]], groups, rounds: int) -> None:
    med = {g: statistics.median(s[g]) for g in groups}
    total = statistics.median([sum(s[g][i] for g in groups) for i in range(rounds)])
    print(f"{name:8s} " + " ".join(f"{med[g]:11.1f}" for g in groups)
          + f" {total:9.1f}   n={rounds}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--stock", action="store_true",
                    help="run the stock pyspark.daemon")
    ap.add_argument("--rounds", type=int, default=8)
    ap.add_argument("--per-round", type=int, default=10)
    ap.add_argument("--profile", action="store_true",
                    help="profile the warm local query's layers")
    args = ap.parse_args()

    from pyspark import SparkContext

    from librecatastro_spark.corpus import assign_doc_ids, generate_corpus
    from librecatastro_spark.engine.wand import CompressedIndex
    from librecatastro_spark.index.builder import build_index
    from librecatastro_spark.session import get_spark

    extra = {"spark.ui.showConsoleProgress": "false"}
    if args.stock:
        extra["spark.python.daemon.module"] = "pyspark.daemon"
    spark = get_spark("worker_cost", cores=4, shuffle_partitions=4, extra_conf=extra)
    daemon = spark.sparkContext.getConf().get(
        "spark.python.daemon.module", "pyspark.daemon")
    jvm = SparkContext._gateway.proc.pid
    try:
        with tempfile.TemporaryDirectory() as tmp:
            docs = assign_doc_ids(generate_corpus(
                spark, 400, min_tokens=20, max_tokens=80, partitions=2))
            build_index(spark, docs, os.path.join(tmp, "idx"), attr_cols=("lang",),
                        n_shards=4, shards_per_job=4, block_size=16, resume=False)
            ix = CompressedIndex(spark, os.path.join(tmp, "idx"))
            one = spark.range(1).coalesce(1)
            sc = spark.sparkContext
            shapes = {
                "trivial": lambda: one.groupBy("id").applyInPandas(
                    lambda key, pdf: pdf, schema="id long").collect(),
                "rdd": lambda: sc.parallelize([0], 1).mapPartitions(
                    lambda it: it).collect(),
                "search": lambda: ix.search("def return", k=5).collect(),
            }
            print(f"daemon {daemon}, {args.rounds} rounds x {args.per_round} queries")
            print(f"{'shape':8s} " + " ".join(f"{g + '_ms':>11s}" for g in GROUPS)
                  + f" {'total_ms':>9s}   (median per query, n rounds)")
            for name, run in shapes.items():
                for _ in range(3):  # start the workers, warm the JIT
                    run()
                report(name, measure(run, jvm, args.rounds, args.per_round),
                       GROUPS, args.rounds)

            def local():
                ix.search_local("def return", k=5)

            def pool_tids():
                return [t.native_id for t in ix._executor()._threads]

            print(f"local: search_local, driver threads only, "
                  f"{args.rounds} rounds x {10 * args.per_round} queries")
            print(f"{'cache':8s} " + " ".join(f"{g + '_ms':>11s}" for g in THREADS)
                  + f" {'total_ms':>9s}   (median per query, n rounds)")
            for name, budget in (("cold", 0),
                                 ("warm", CompressedIndex._POSTING_CACHE_BYTES)):
                ix._POSTING_CACHE_BYTES = budget
                for _ in range(3):
                    local()
                report(name, measure_threads(
                    local, pool_tids, args.rounds, 10 * args.per_round
                ), THREADS, args.rounds)
            if args.profile:
                profile(local, args.rounds * 10 * args.per_round)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
