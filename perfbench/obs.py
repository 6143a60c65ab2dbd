"""Observation helpers: span recorder, percentiles, host and Spark counters,
and work counts derived from the index files without timing anything.

All of it sits outside the program under test. Layers are timed around the
calls into each module's public functions; the driver-side codec and
positions functions are reached by swapping the module attribute the engine
looks up for a wrapper defined here (``traced_modules``).
"""

from __future__ import annotations

import bisect
import json
import os
import time
from contextlib import contextmanager

import numpy as np

# ---------------------------------------------------------- percentiles --

TAIL_CANDIDATES = (50.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    return float(np.percentile(np.asarray(values, dtype=np.float64), p))


def tail_percentile(n: int) -> float | None:
    """The highest percentile in ``TAIL_CANDIDATES`` that has at least ten
    samples beyond it, or None when not even the median does."""
    best = None
    for p in TAIL_CANDIDATES:
        if round(n * (100.0 - p) / 100.0, 9) >= 10:
            best = p
    return best


# ----------------------------------------------------------------- host --

def read_proc_stat() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user nice system idle
    iowait irq softirq steal (guest time is already inside user)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return [int(x) for x in fields[1:9]]


def host_delta(before: list[int], after: list[int]) -> dict[str, float]:
    """Steal and busy shares (percent of all CPU time) between two reads."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    user, nice, system, _idle, _iowait, irq, softirq, steal = d
    busy = user + nice + system + irq + softirq
    return {
        "steal_pct": 100.0 * steal / total,
        "busy_pct": 100.0 * busy / total,
    }


CLK_TCK = os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    """``pid`` and every process below it, from /proc (children of each of
    its threads)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    todo += [int(c) for c in fh.read().split()]
        except (FileNotFoundError, ProcessLookupError):
            pass
    return out


def proc_cpu_ticks(pid: int) -> int:
    """CPU time of a process in clock ticks: its own (utime + stime) and
    that of its children it has reaped (cutime + cstime)."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15])


def engine_cpu_s(jvm_pid: int) -> float:
    """CPU seconds the engine has used so far: this process (the client and
    the Spark driver's Python side, all threads) plus the Spark JVM and
    every process below it (its Python workers).

    The kernel charges a task only for the time it ran, not for the time
    the hypervisor stole from its virtual CPU, so on a shared host this
    counts the program's own work where wall time also counts the
    neighbours'. A process that exits is charged to the parent that reaps
    it, so the difference of two reads holds every process that ran in
    between."""
    ticks = 0
    for p in descendants(jvm_pid):
        try:
            ticks += proc_cpu_ticks(p)
        except (FileNotFoundError, ProcessLookupError):
            pass
    return time.process_time() + ticks / CLK_TCK


# ---------------------------------------------------------------- spans --

class Tracer:
    """In-memory span recorder. A span is (id, parent, request, name,
    start, end, attrs); spans of one request share its request id. Nesting
    follows a per-tracer stack, so spans must open and close on the
    client thread."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self.request: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "req": self.request,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **({"attrs": attrs} if attrs else {}),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Per span: its duration minus the part of its interval covered by
    its children (overlapping children count once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


# The engine modules import these codec/positions functions by name, so a
# span around them needs the module attribute swapped for a wrapper. The
# wrappers live at module level so Spark pickles them by reference: on an
# executor ``_ACTIVE`` is None and they only forward the call.
_ACTIVE: Tracer | None = None
_ORIG: dict[str, object] = {}


def _traced(name: str, fn, *args):
    tr = _ACTIVE
    if tr is None or not tr.enabled:
        return fn(*args)
    # recorded inline rather than through Tracer.span: decode runs once
    # per block on some paths, so the wrapper's own cost matters
    start = time.perf_counter()
    out = fn(*args)
    tr.spans.append({
        "id": len(tr.spans), "parent": tr._stack[-1] if tr._stack else None,
        "req": tr.request, "name": name, "start": start, "end": time.perf_counter(),
        "attrs": {"values": int(getattr(out, "size", 0))},
    })
    return out


def _original(attr: str):
    fn = _ORIG.get(attr)
    if fn is None:  # an executor: nothing was swapped there
        from librecatastro_spark.engine import positions

        fn = getattr(positions, attr)
    return fn


def decode_varbyte(buf):
    return _traced("index.codec.decode_varbyte", _original("decode_varbyte"), buf)


def decode_positions(buf, counts):
    return _traced("index.codec.decode_positions", _original("decode_positions"), buf, counts)


def phrase_verify(*args, **kwargs):
    fn = _original("phrase_verify")
    tr = _ACTIVE
    if tr is None or not tr.enabled:
        return fn(*args, **kwargs)
    with tr.span("engine.positions.phrase_verify"):
        return fn(*args, **kwargs)


@contextmanager
def traced_modules(tracer: Tracer, index, codec: bool = True):
    """Route the open index's analyzer and, with ``codec``, the engine's
    codec/positions calls through ``tracer`` for the duration of the block."""
    global _ACTIVE
    from librecatastro_spark.engine import positions, wand

    # a nested swap would save the wrappers as the originals
    assert _ACTIVE is None, "traced_modules does not nest"

    swaps = [
        (wand, "decode_varbyte", decode_varbyte),
        (positions, "decode_varbyte", decode_varbyte),
        (positions, "decode_positions", decode_positions),
        (positions, "phrase_verify", phrase_verify),
    ] if codec else []
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in swaps]
    for attr in ("decode_varbyte", "decode_positions", "phrase_verify"):
        _ORIG[attr] = getattr(positions, attr)
    analyze = index._analyze

    def traced_analyze(text):
        with tracer.span("analyzer.analyze"):
            return analyze(text)

    _ACTIVE = tracer
    for mod, attr, fn in swaps:
        setattr(mod, attr, fn)
    index._analyze = traced_analyze
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)
        index._analyze = analyze
        _ACTIVE = None


class CallLog:
    """While entered, routes ``module.attr`` through a wrapper that keeps
    each call's return value in ``results``; the module's own callers look
    the name up at call time, so they reach the wrapper."""

    def __init__(self, module, attr: str) -> None:
        self.module, self.attr = module, attr
        self.results: list = []

    def __enter__(self):
        self._fn = fn = getattr(self.module, self.attr)

        def logged(*args, **kwargs):
            out = fn(*args, **kwargs)
            self.results.append(out)
            return out

        setattr(self.module, self.attr, logged)
        return self

    def __exit__(self, *exc) -> None:
        setattr(self.module, self.attr, self._fn)


def span_cost_us(n: int = 20000) -> float:
    """Cost of one recorded span (open + close), from a calibration loop."""
    tr = Tracer()
    tr.enabled = True
    t0 = time.perf_counter()
    for _ in range(n):
        with tr.span("calibrate"):
            pass
    return (time.perf_counter() - t0) / n * 1e6


# ---------------------------------------------------------------- spark --

def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group ``group``."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages, tasks = set(), 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            st = tracker.getStageInfo(s)
            if st is not None and s not in stages:
                stages.add(s)
                tasks += st.numTasks
    return len(jobs), len(stages), tasks


def spark_floors(spark, reps: int = 3) -> dict[str, float]:
    """Median wall time of a bare 1-task job and of a bare 16-way
    two-stage (shuffle) job — the fixed cost every distributed query pays."""
    from pyspark.sql import functions as F

    one, shuffle = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(0, 1, 1, 1).collect()
        one.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        spark.range(0, 1600, 1, 16).groupBy((F.col("id") % 16).alias("g")).count().collect()
        shuffle.append(time.perf_counter() - t0)
    return {
        "job_floor_ms": 1e3 * float(np.median(one)),
        "shuffle_floor_ms": 1e3 * float(np.median(shuffle)),
    }


# ------------------------------------------------------------ footprint --

class Footprint:
    """Work a term lookup implies, read from the index files alone: the
    term-sorted postings files' row-group term ranges (parquet footers) and
    the per-term block and posting counts. Nothing here is timed."""

    def __init__(self, out_dir: str) -> None:
        import pyarrow.parquet as pq

        self.files = []  # (mins, maxs, rg_bytes) per postings file
        blocks: dict[str, int] = {}
        postings: dict[str, int] = {}
        post_dir = os.path.join(out_dir, "postings")
        for entry in sorted(os.listdir(post_dir)):
            d = os.path.join(post_dir, entry)
            if not entry.startswith("shard=") or not os.path.isdir(d):
                continue
            for fname in sorted(os.listdir(d)):
                if not fname.endswith(".parquet"):
                    continue
                pf = pq.ParquetFile(os.path.join(d, fname))
                md = pf.metadata
                mins, maxs, sizes = [], [], []
                for i in range(md.num_row_groups):
                    rg = md.row_group(i)
                    col = next(
                        rg.column(j) for j in range(rg.num_columns)
                        if rg.column(j).path_in_schema == "term"
                    )
                    mins.append(col.statistics.min)
                    maxs.append(col.statistics.max)
                    sizes.append(sum(
                        rg.column(j).total_compressed_size for j in range(rg.num_columns)
                    ))
                self.files.append((mins, maxs, sizes))
                tbl = pf.read(columns=["term", "n_docs"])
                for t, n in zip(tbl.column("term").to_pylist(), tbl.column("n_docs").to_pylist()):
                    blocks[t] = blocks.get(t, 0) + 1
                    postings[t] = postings.get(t, 0) + n
                pf.close()
        self.blocks, self.postings = blocks, postings
        self.n_files = len(self.files)
        self.n_row_groups = sum(len(f[0]) for f in self.files)
        self.n_blocks = sum(blocks.values())

    def cost(self, terms: list[str]) -> dict[str, int]:
        """Postings, blocks, row groups and compressed bytes a seek for
        ``terms`` must read (row groups whose term range holds a term)."""
        rgs, nbytes = 0, 0
        for mins, maxs, sizes in self.files:
            hit = set()
            for t in terms:
                hit.update(range(bisect.bisect_left(maxs, t), bisect.bisect_right(mins, t)))
            rgs += len(hit)
            nbytes += sum(sizes[i] for i in hit)
        return {
            "postings": sum(self.postings.get(t, 0) for t in terms),
            "blocks": sum(self.blocks.get(t, 0) for t in terms),
            "row_groups": rgs,
            "bytes_read": nbytes,
        }


def dir_size(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def file_state(path: str) -> dict[str, tuple[int, int]]:
    """{file: (size, mtime_ns)} under ``path``."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of files that are new or changed between two ``file_state``s."""
    return sum(size for p, (size, mt) in after.items() if before.get(p) != (size, mt))
