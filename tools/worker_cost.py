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

CPU comes from ``/proc/<pid>/stat`` (user + system): the driver is this
process, the JVM is the gateway's child, and the Python workers are the
JVM's descendants (the daemon and every worker it forked). ``/proc``
counts CPU in clock ticks (10 ms), so each sample is a round of queries
divided by its size; the tool prints the median per query over the
rounds, with n.

Usage: python tools/worker_cost.py [--stock] [--rounds 8] [--per-round 10]

``--stock`` passes ``extra_conf={"spark.python.daemon.module":
"pyspark.daemon"}``, the stock daemon, to compare with the daemon
``get_spark`` picks by default.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TICK_MS = 1e3 / os.sysconf("SC_CLK_TCK")
GROUPS = ("driver", "jvm", "workers")


def _stat(pid: int) -> tuple[int, int] | None:
    """(parent pid, user + system ticks) of ``pid``; None once it exited."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return None
    return int(fields[1]), int(fields[11]) + int(fields[12])


def cpu_ticks(jvm: int) -> dict[str, dict[int, int]]:
    """Ticks per live pid of each group."""
    stats = {p: s for p in map(int, filter(str.isdigit, os.listdir("/proc")))
             if (s := _stat(p)) is not None}
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


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--stock", action="store_true",
                    help="run the stock pyspark.daemon")
    ap.add_argument("--rounds", type=int, default=8)
    ap.add_argument("--per-round", type=int, default=10)
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
                s = measure(run, jvm, args.rounds, args.per_round)
                med = {g: statistics.median(s[g]) for g in GROUPS}
                total = statistics.median(
                    [sum(s[g][i] for g in GROUPS) for i in range(args.rounds)])
                print(f"{name:8s} " + " ".join(f"{med[g]:11.1f}" for g in GROUPS)
                      + f" {total:9.1f}   n={args.rounds}")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
