"""Partitioned inverted-index build — staged, doc-sharded, salted, resumable.

Architecture (the Spark-native analog of the reference's 5-shard ES index,
reference: src/utils/elasticsearch_utils.py:28-30):

  * **Doc-sharding**: dense doc_ids are range-split into ``n_shards`` shards
    (ES routes docs to shards; range split keeps doc-id deltas small for
    varbyte). Every shard holds postings for all its docs' terms, so WAND
    runs shard-locally and the coordinator merges top-k (capability B14).
  * **Stage 1 (one pass over the corpus)**: tokenize → (doc_id, term, tf, dl)
    staged to Parquet partitioned by shard. This is the only full-corpus
    shuffle; it is the resume checkpoint for everything downstream.
  * **Stage 2 (per shard group, independently resumable)**: read one shard's
    staged postings (partition-pruned), salt hot terms (df > threshold) by
    doc-id sub-range so per-salt blocks stay sorted and concatenation-free,
    groupBy(shard, term, salt) → applyInPandas over numeric-only
    columns (term→tid) building 128-doc
    delta+varbyte blocks with per-block max BM25 weight, write sorted
    Parquet, then append a manifest/lineage record (rows, blocks, duration
    — the A29 tracking-journal analog, reference:
    src/utils/catastro_logger.py:15-45). Restart skips completed units
    (A16/A30 analog: skip-if-present, reference:
    src/librecatastro/scrapping/parsers/parser_xml.py:149-151).

Layout under ``out_dir``::

    meta.json                     N, avgdl, n_shards, block_size, …
    attrs/shard=S/…               doc_id, content_sha256, keyword cols
    term_stats/delta=N/…          term, df, cf (delta-partitioned: base
                                  build = delta=0, appends add one delta
                                  per batch, merged on read / compacted)
    _stage/postings/shard=S/…     doc_id, term, tf, dl
                                  [+ pos_enc when index_options=positions]
    postings/shard=S/…            term, salt, block_seq, n_docs,
                                  first_doc_id, last_doc_id,
                                  docs_enc, tfs_enc, block_max_w,
                                  pos_enc (null unless positions)
    _manifest/*.json              one lineage record per completed unit
"""

from __future__ import annotations

import json
import math
import os
import time
from collections.abc import Iterable
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analyzer import Analyzer
from ..bm25 import B, K1, idf_np
from .codec import encode_blocks_bulk

BLOCK_SCHEMA = (
    "shard int, term string, salt int, block_seq int, n_docs int, "
    "first_doc_id long, last_doc_id long, docs_enc binary, tfs_enc binary, "
    "dls_enc binary, block_max_w double, idf_build double, pos_enc binary"
)


@dataclass(frozen=True)
class IndexMeta:
    n_docs: int
    avgdl: float
    n_shards: int
    block_size: int
    salt_threshold: int
    n_salts: int
    attr_cols: list[str]
    n_buckets: int = 128
    version: int = 1
    # "freqs" = docs+tf+norms (the default); "positions" additionally
    # stores per-occurrence token positions (ES index_options analog)
    index_options: str = "freqs"
    # the field's analyzer boundary pattern (ES per-field analyzer hook);
    # None = the default. Build, append and query all analyze with
    # ``analyzer()``, never the global default
    analyzer_re: str | None = None
    # ES stop token filter: tokens dropped after segmentation, recorded
    # so build/append/query all honor the same list (sorted for
    # deterministic meta.json bytes); None = no stopwords
    stopwords: list[str] | None = None
    # ES synonym filter (replace form, src -> canonical dst), applied
    # BEFORE the stop filter (frozen chain order — analyzer.Analyzer);
    # recorded sorted-by-key for deterministic meta.json bytes
    synonyms: dict[str, str] | None = None

    def analyzer(self) -> Analyzer:
        """The index's analyzer, built from the three fields above."""
        return Analyzer(self.analyzer_re, self.stopwords, self.synonyms)


# ------------------------------------------------------------- manifest --

def _manifest_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def manifest_records(out_dir: str) -> dict[str, dict]:
    recs = {}
    d = _manifest_dir(out_dir)
    if os.path.isdir(d):
        for f in sorted(os.listdir(d)):
            if f.endswith(".json"):
                with open(os.path.join(d, f)) as fh:
                    r = json.load(fh)
                recs[r["unit"]] = r
    return recs


def _write_manifest(out_dir: str, unit: str, **fields) -> None:
    """Atomic lineage record: written AFTER the unit's data is durable, via
    tmp+rename, so a crash can only lose the record (unit re-runs and
    overwrites idempotently) — never record-without-data."""
    os.makedirs(_manifest_dir(out_dir), exist_ok=True)
    path = os.path.join(_manifest_dir(out_dir), f"{unit}.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"unit": unit, "finished_at": time.time(), **fields}, fh)
    os.replace(tmp, path)


def read_meta(out_dir: str) -> IndexMeta:
    with open(os.path.join(out_dir, "meta.json")) as fh:
        return IndexMeta(**json.load(fh))


# --------------------------------------------------------------- builder --

from contextlib import contextmanager


@contextmanager
def _small_arrow_batches(spark: SparkSession, rows: int = 512):
    """Scope small Arrow batches to the TOKENIZE stage only.

    At the default 10,000 rows a batch holds ~10M tokens (avgdl ~1k), so
    every numpy temporary in the tokenize kernel is an ~80 MB allocation —
    32 concurrent workers then mmap/munmap hundreds of MB per batch and
    the host's page-fault path becomes the bottleneck (measured: the
    tokenize stage ANTI-scaled 315 s @8 → 776 s @32 on a 4.9 GB corpus).
    At 512 rows the temporaries are ~4 MB, stay in the allocator's reuse
    pools, and the same stage runs 30 s @8 / 21 s @32 (A/B-probed,
    interleaved best-of-2; 1024 was 1.5× worse, 256 no better).

    MUST NOT leak into stage 2: the grouped map reassembles each group by
    concatenating its Arrow chunks, and 512-row chunks turn the bucket
    groups into ~190k tiny batches (measured 1.9× stage-2 slowdown).
    """
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(rows))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


#: scan-split size for reads of the staged postings (``_staged_read_splits``)
_STAGED_SPLIT_BYTES = 8 << 20


@contextmanager
def _staged_read_splits(spark: SparkSession):
    """Bound scan-split size for reads of the staged postings.

    Staged posting rows decompress ~5-8× from snappy parquet to unsafe
    rows, so at the session-default 128 MB split one map task of the
    stage-2 shuffle holds ~700 MB of rows; the shuffle writer then spills
    (measured at the 1.6M-doc bench corpus: 41 GB memoryBytesSpilled
    across only 10 map tasks, which also left a 10-tasks-on-8-cores
    ragged wave). Small splits bound per-task decompressed volume
    REGARDLESS of corpus size — the bound scales with data, not with the
    cluster, and the extra task-launch overhead is amortized by worker
    reuse. The split is 8 MB (``_STAGED_SPLIT_BYTES``; ~50 MB
    decompressed per task — the setting the 1.6M-doc zero-spill result
    was measured at). Scan splits are decided at job-execution time from
    the live session conf, so the scope must cover the ACTIONS, not just
    the read() call.
    """
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key, str(128 << 20))
    spark.conf.set(key, str(_STAGED_SPLIT_BYTES))
    try:
        yield
    finally:
        spark.conf.set(key, prev)

def _widen_for_tokenize(spark: SparkSession, docs: DataFrame, id_col: str):
    """The Python tokenizer costs ~10 s per 128 MB task: a small corpus
    packed into few scan partitions would serialize stage 1, and a task
    count barely above the core count leaves a ragged last wave (39 tasks
    on 32 cores = 45% idle in wave 2) — pure scaling-efficiency loss.
    Target ≥4 waves of the CPU-bound stage so the tail is ≤ 1/4 wave,
    via an explicit range- (not round-robin-) partition on doc_id so each
    task still lands in ~1 shard directory for the partitioned write.

    Callers that own their scan should instead size
    ``spark.sql.files.maxPartitionBytes`` to ~bytes/(4·cores) BEFORE
    reading (bench.py does) — then the scan itself yields the width with
    NO shuffle and this is a no-op. Scan confs cannot be applied here:
    they only take effect for frames created after the conf change, and
    re-reading the base files would silently drop caller transforms.
    At real scale the scan yields thousands of partitions → no-op.
    Returns (frame, restore_conf)."""
    target = 4 * spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() >= target:
        return docs, lambda: None
    return docs.repartitionByRange(target, F.col(id_col)), lambda: None


def assign_term_ids(tstats: DataFrame, n_buckets: int = 256) -> DataFrame:
    """(term, df, tid) — a deterministic, unique, JOB-EPHEMERAL integer id
    per vocabulary term, assigned with the same two-phase bucketed rank as
    corpus.assign_doc_ids (no global-sort bottleneck: xxhash buckets are
    uniform; only the n_buckets-row count table touches the driver).

    Why: stage 2's grouped map used to ship the term STRING of every
    posting row into the python workers; Arrow→pandas then materializes
    one CPython object per row (~100M per build at the bench corpus),
    which both dominates the transport time and saturates the host
    allocator at high worker counts. With tid the grouped map moves only
    fixed-width numerics (pure memcpy), and term strings are re-attached
    JVM-side at BLOCK level — postings/block_size rows, ~1% of the rows.
    Ids need no durability: every build/append job derives them fresh
    from the current term_stats and they never leave the job."""
    from pyspark.sql import Window

    b = F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
    df = tstats.withColumn("_b", b)
    counts = {
        r["_b"]: r["cnt"]
        for r in df.groupBy("_b").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for i in range(n_buckets):
        offsets[i] = acc
        acc += counts.get(i, 0)
    off = F.element_at(
        F.create_map(*[F.lit(x) for i in range(n_buckets) for x in (i, offsets[i])]),
        F.col("_b"),
    )
    w = Window.partitionBy("_b").orderBy("term")
    return df.withColumn(
        "tid", (off + F.row_number().over(w) - F.lit(1)).cast("long")
    ).drop("_b")


# grouped-map output: tid instead of term (strings never enter python),
# tbucket passed through so the write slicing needs no re-hash
BLOCK_SCHEMA_TID = (
    "shard int, tbucket int, tid long, salt int, block_seq int, n_docs int, "
    "first_doc_id long, last_doc_id long, docs_enc binary, tfs_enc binary, "
    "dls_enc binary, block_max_w double, idf_build double, pos_enc binary"
)


def _bucket_builder(
    block_size: int, n_docs: float, avgdl: float, positions: bool = False
):
    """Grouped-map fn over one (shard, tbucket) group — a hash bucket of
    MANY (tid, salt) posting runs. Bucket-coarsened grouping (~hundreds of
    groups, not one per term) amortizes the per-group Arrow exchange
    overhead ~50×; run boundaries are found vectorized and each run is
    chunked into delta+varbyte blocks. Hot (salted) terms hash to distinct
    buckets per salt, so no bucket exceeds ~|shard postings|/n_buckets plus
    one salt share — the OOM bound the salting exists for.

    The input frame is ALL-NUMERIC (see assign_term_ids): Arrow→pandas is
    a zero-copy/memcpy conversion, the sort is an integer np.lexsort, and
    no per-row Python object is ever created. (applyInArrow was measured
    and rejected: its JVM writer serializes groups ~3.4× slower than the
    pandas path on identical data — 128 s vs 38 s for an identity UDF over
    the 800k-doc staged postings — with GCLocker alloc stalls; the pandas
    path's object churn was the OTHER bottleneck, and numeric-only input
    eliminates both.)"""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n == 0:
            return pd.DataFrame(
                columns=[
                    "shard", "tbucket", "tid", "salt", "block_seq", "n_docs",
                    "first_doc_id", "last_doc_id", "docs_enc", "tfs_enc",
                    "dls_enc", "block_max_w", "idf_build", "pos_enc",
                ]
            )
        tids = pdf["tid"].to_numpy(np.int64)
        salts = pdf["salt"].to_numpy(np.int64)
        doc_ids = pdf["doc_id"].to_numpy(np.int64)
        tfs_all = pdf["tf"].to_numpy(np.int64)
        dls_all = pdf["dl"].to_numpy(np.int64)
        dfs_all = pdf["df"].to_numpy(np.float64)
        shard = int(pdf["shard"].iloc[0])
        tbucket = int(pdf["tbucket"].iloc[0])
        # integer lexsort, last key primary: (tid, salt, doc_id) — unique
        # per row, so the order (hence every block byte) is deterministic.
        # Lexicographic TERM order is restored JVM-side before the write;
        # within a bucket only run grouping matters, not run order.
        order = np.lexsort((doc_ids, salts, tids))
        tids = tids[order]
        salts = salts[order]
        doc_ids = doc_ids[order]
        tfs_all = tfs_all[order]
        dls_all = dls_all[order]
        dfs_all = dfs_all[order]
        change = np.empty(n, dtype=bool)
        change[0] = True
        change[1:] = (tids[1:] != tids[:-1]) | (salts[1:] != salts[:-1])
        starts = np.flatnonzero(change)
        # all BM25 weights in one vectorized pass (idf varies per run)
        idfs = idf_np(dfs_all, n_docs)
        dls_f = dls_all.astype(np.float64)
        tfs_f = tfs_all.astype(np.float64)
        # not idfs * tf_weight_np(...): that associates the floats
        # differently and would change the block_max_w bytes
        w_all = idfs * tfs_f * (K1 + 1.0) / (
            tfs_f + K1 * (1.0 - B + B * dls_f / avgdl)
        )
        # dl travels inside the block (Lucene norms analog) so scoring needs
        # NO doc-table join/shuffle at query time; every stream is encoded
        # in ONE vectorized pass for the whole bucket (codec bulk path)
        blk = encode_blocks_bulk(
            doc_ids, tfs_all, dls_all, w_all, starts, block_size
        )
        run_idx = blk["run_idx"]
        nb = len(run_idx)
        if positions:
            # per-row position streams were encoded in stage 1 (one bulk
            # varbyte per batch, codec.encode_positions_bulk); a block's
            # stream is the CONCATENATION of its rows' buffers, so the
            # block column is built with one bytes-join over the whole
            # bucket plus byte-offset slicing at block boundaries — the
            # only per-object work is len() over already-materialized
            # bytes (no decode, no re-encode).
            pe = pdf["pos_enc"].to_numpy(dtype=object)[order]
            lens = np.fromiter((len(x) for x in pe), dtype=np.int64, count=n)
            joined = b"".join(pe)
            bends = np.cumsum(lens)
            bstarts = bends - lens
            bs, be = blk["blk_starts"], blk["blk_ends"]
            pos_col = [
                joined[bstarts[s] : bends[e - 1]] for s, e in zip(bs, be)
            ]
        else:
            pos_col = [None] * nb
        return pd.DataFrame(
            {
                "shard": np.full(nb, shard, dtype=np.int32),
                "tbucket": np.full(nb, tbucket, dtype=np.int32),
                "tid": tids[starts[run_idx]],
                "salt": salts[starts[run_idx]].astype(np.int32),
                "block_seq": blk["block_seq"].astype(np.int32),
                "n_docs": blk["n_docs"].astype(np.int32),
                "first_doc_id": blk["first_doc_id"],
                "last_doc_id": blk["last_doc_id"],
                "docs_enc": blk["docs_enc"],
                "tfs_enc": blk["tfs_enc"],
                "dls_enc": blk["dls_enc"],
                "block_max_w": blk["block_max_w"],
                # idf at build time: incremental appends grow N (idf up), so
                # the query-time scorer rescales the bound by
                # idf_now / idf_build to keep pruning safe (wand.py).
                "idf_build": idfs[starts[run_idx]],
                "pos_enc": pos_col,
            }
        )

    return fn


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "content",
    attr_cols: Iterable[str] = (),
    n_shards: int = 8,
    block_size: int = 128,
    salt_threshold: int = 100_000,
    n_salts: int = 16,
    shards_per_job: int = 4,
    n_buckets: int = 128,
    resume: bool = True,
    index_options: str = "freqs",
    analyzer_re: str | None = None,
    stopwords: Iterable[str] | None = None,
    synonyms: dict[str, str] | None = None,
) -> IndexMeta:
    """Build (or resume building) the index at out_dir. Idempotent: a
    completed out_dir is a no-op; a partially built one finishes only the
    missing units.

    ``index_options="positions"`` (the ES/Lucene mapping option) stores
    per-occurrence token positions next to every posting block (delta +
    varbyte, aligned with the block's doc/tf streams); phrase queries
    (engine.wand.CompressedIndex.match_phrase / match_phrase_prefix) need
    them and are answered ENTIRELY from the index. The default ("freqs")
    build is byte-identical to before the option existed apart from an
    all-null pos_enc column, and refuses phrase queries.

    ``analyzer_re`` / ``stopwords`` / ``synonyms`` make the index's
    ``Analyzer``, built before anything else: a ``synonyms`` map with a
    chained or cyclic pair is rejected (ValueError,
    analyzer.check_synonyms) before anything is written."""
    analyzer = Analyzer(analyzer_re, stopwords, synonyms)
    # the build wants AQE (coalesced shuffles) regardless of what an open
    # CompressedIndex turned off for query latency in this session — set it
    # for the build's duration and restore the caller's value after
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        return _build_index(
            spark, docs, out_dir, id_col, text_col, attr_cols, n_shards,
            block_size, salt_threshold, n_salts, shards_per_job, n_buckets,
            resume, index_options, analyzer,
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def _build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    id_col: str,
    text_col: str,
    attr_cols: Iterable[str],
    n_shards: int,
    block_size: int,
    salt_threshold: int,
    n_salts: int,
    shards_per_job: int,
    n_buckets: int,
    resume: bool,
    index_options: str,
    analyzer: Analyzer,
) -> IndexMeta:
    if index_options not in ("freqs", "positions"):
        raise ValueError("index_options must be 'freqs' or 'positions'")
    attr_cols = list(attr_cols)
    os.makedirs(out_dir, exist_ok=True)
    done = manifest_records(out_dir) if resume else {}

    # ---- stage 1: corpus pass -> staged postings + attrs + term stats ----
    if "stage" not in done:
        t0 = time.time()
        from ..stats import term_freqs_arrow

        # N first (cheap count; parquet sources answer from footers), so the
        # doc-id range shard split is known before any heavy pass
        n_docs_total = docs.count()
        t_count = time.time()
        shard_expr = F.least(
            F.lit(n_shards - 1),
            F.floor(F.col("doc_id") * n_shards / F.lit(n_docs_total)).cast("int"),
        )
        # keyword/attr table (the .keyword analog) + per-row sha invariant —
        # a pure projection of the ORIGINAL frame (no repartition upstream,
        # so this pass shuffles nothing and prunes to the attr columns; dl
        # lives inside posting blocks; avgdl is derived below as sum(cf)/N,
        # which equals avg doc length exactly, so the corpus is tokenized
        # exactly once end-to-end)
        attrs = docs.select(
            F.col(id_col).alias("doc_id"),
            *[F.col(c) for c in attr_cols],
        ).withColumn("shard", shard_expr)
        # the partitioned writer sorts its input by "shard" anyway (required
        # ordering of dynamic-partition writes); making that sort explicit
        # and extending it with doc_id costs nothing extra and gives every
        # attrs file monotone doc_id row-group stats — the id-seek analog
        # of the postings term sort below
        attrs.sortWithinPartitions("shard", "doc_id").write.mode(
            "overwrite"
        ).partitionBy("shard").parquet(os.path.join(out_dir, "attrs"))
        t_attrs = time.time()
        # the ONE heavy pass: fused Arrow tokenize + per-doc tf aggregation
        # (map-side, shuffle-free — see term_freqs_arrow). Its output IS the
        # durable stage checkpoint everything downstream re-reads.
        docs_tok, restore_conf = _widen_for_tokenize(spark, docs, id_col)
        try:
            staged = term_freqs_arrow(
                docs_tok, id_col, text_col,
                positions=(index_options == "positions"), analyzer=analyzer,
            ).withColumn("shard", shard_expr)
            with _small_arrow_batches(spark):
                staged.write.mode("overwrite").partitionBy("shard").parquet(
                    os.path.join(out_dir, "_stage", "postings")
                )
        finally:
            restore_conf()
        t_staged = time.time()
        staged_r = spark.read.parquet(os.path.join(out_dir, "_stage", "postings"))
        # delta=0 is the base generation of the delta-partitioned stats
        # layout: appends add delta=<n> dirs of BATCH-vocabulary size (see
        # streaming/incremental.py) and readers aggregate on read, so no
        # append ever rewrites the global vocabulary
        with _staged_read_splits(spark):
            staged_r.groupBy("term").agg(
                F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
            ).write.mode("overwrite").parquet(
                os.path.join(out_dir, "term_stats", "delta=0")
            )
        agg_row = load_term_stats(spark, out_dir).agg(
            F.sum("cf").alias("total_cf"),
            # how many terms exceed the salt threshold — recorded in the
            # manifest so salting is observable lineage, not a silent knob
            F.sum((F.col("df") > salt_threshold).cast("int")).alias("n_salted"),
        ).collect()[0]
        total_tokens, n_salted_terms = agg_row["total_cf"], agg_row["n_salted"]
        avgdl = float(total_tokens or 0) / n_docs_total if n_docs_total else 0.0
        meta = IndexMeta(
            n_docs=n_docs_total,
            avgdl=avgdl,
            n_shards=n_shards,
            block_size=block_size,
            salt_threshold=salt_threshold,
            n_salts=n_salts,
            attr_cols=attr_cols,
            n_buckets=n_buckets,
            index_options=index_options,
            analyzer_re=analyzer.split_re,
            stopwords=sorted(analyzer.stopwords) or None,
            synonyms=dict(sorted(analyzer.synonyms.items())) or None,
        )
        with open(os.path.join(out_dir, "meta.json"), "w") as fh:
            json.dump(asdict(meta), fh)
        t_stats = time.time()
        _write_manifest(
            out_dir, "stage",
            n_docs=n_docs_total, avgdl=avgdl, secs=time.time() - t0,
            salted_terms=int(n_salted_terms or 0),
            # per-section wall times — the scaling-efficiency breakdown
            sec_count=round(t_count - t0, 3),
            sec_attrs=round(t_attrs - t_count, 3),
            sec_tokenize=round(t_staged - t_attrs, 3),
            sec_stats=round(t_stats - t_staged, 3),
        )
        done = manifest_records(out_dir)
    meta = read_meta(out_dir)

    # ---- stage 2: per shard-group block build (resumable units) ----------
    staged = spark.read.parquet(os.path.join(out_dir, "_stage", "postings"))
    tstats = load_term_stats(spark, out_dir)
    # one ephemeral term→tid map for the whole stage (cached: every shard
    # group broadcasts from it; see assign_term_ids for why tid exists).
    # Materialized eagerly so its cost is attributed in the manifest
    # (scaling-efficiency breakdown) instead of hiding in the first unit.
    t_tids0 = time.time()
    tids = assign_term_ids(tstats).cache()
    n_terms = tids.count()
    # total staged posting rows = Σ df — already aggregated in term_stats,
    # so sizing the stage-2 shuffle needs no pass over the staged data
    staged_rows = tstats.agg(F.sum("df").alias("r")).collect()[0]["r"] or 0
    sec_tids = round(time.time() - t_tids0, 3)
    with _staged_read_splits(spark):
        shard_span = meta.n_docs / meta.n_shards
        for lo in range(0, meta.n_shards, shards_per_job):
            shards = list(range(lo, min(lo + shards_per_job, meta.n_shards)))
            unit = f"shards_{shards[0]}_{shards[-1]}"
            if unit in done:
                continue
            t0 = time.time()
            # df-per-term is small (vocabulary-sized) → broadcast, no shuffle.
            # tid replaces the term STRING for everything python-side
            # (assign_term_ids docstring has the numbers); the join projects
            # the string away immediately after.
            part = staged.where(F.col("shard").isin(shards)).join(
                F.broadcast(tids.select("term", "df", "tid")), "term"
            ).drop("term")
            # salt hot terms by doc-id sub-range within the shard: per-salt
            # groups are disjoint, sorted ranges, so blocks need no re-merge.
            rel = F.col("doc_id") - F.col("shard") * F.lit(shard_span)
            salt = F.when(
                F.col("df") > meta.salt_threshold,
                F.least(
                    F.lit(meta.n_salts - 1),
                    F.floor(rel * meta.n_salts / F.lit(shard_span)).cast("int"),
                ),
            ).otherwise(F.lit(0))
            part = part.withColumn("salt", salt)
            # bucket-coarsened grouping: (tid, salt) runs hash into n_buckets
            # groups per shard, so the grouped-map pays Arrow exchange overhead
            # per BUCKET (hundreds), not per TERM (millions at scale), while
            # salted hot terms still spread across buckets
            part = part.withColumn(
                "tbucket",
                F.pmod(F.xxhash64("tid", "salt"), F.lit(meta.n_buckets)).cast("int"),
            )
            # Size the grouped-map shuffle by DATA VOLUME, never by core count:
            # with spark.sql.shuffle.partitions = cores (the bench/cluster
            # default), each shuffle partition holds corpus/cores bytes, so the
            # sort-based grouped-map read crosses its spill threshold as soon as
            # the corpus — not the cluster — grows (measured: stage 2 went
            # 108 s → 288 s for a 2× corpus at local[8], 2.67× superlinear,
            # while the same 2× corpus at local[2] scaled exactly 2× because
            # its partitions were past the cliff at both sizes). An explicit
            # hash repartition on the exact group keys replaces (not precedes)
            # the groupBy exchange — ClusteredDistribution(shard, tbucket) is
            # already satisfied, so the plan still has ONE shuffle — and AQE
            # never coalesces a user-specified partition count back up into the
            # spill regime. 48 B ≈ unsafe-row width of the six numeric columns.
            row_w = 48 if meta.index_options != "positions" else 64
            rows_job = staged_rows * len(shards) / max(1, meta.n_shards)
            n_parts = max(
                2 * spark.sparkContext.defaultParallelism,
                math.ceil(rows_job * row_w / (96 << 20)),
            )
            blocks_tid = part.repartition(
                n_parts, "shard", "tbucket"
            ).groupBy("shard", "tbucket").applyInPandas(
                _bucket_builder(
                    meta.block_size, float(meta.n_docs), meta.avgdl,
                    positions=(meta.index_options == "positions"),
                ),
                schema=BLOCK_SCHEMA_TID,
            )
            # re-attach term strings JVM-side at BLOCK granularity (~1% of the
            # posting rows; unhinted join — AQE broadcasts the vocab when it
            # fits, sort-merges when a 100 TB vocabulary does not)
            blocks = blocks_tid.join(tids.select("tid", "term"), "tid").drop("tid")
            # one job per group: dynamic partition overwrite replaces only the
            # shard dirs this group produced (idempotent re-run of the unit)
            prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "DYNAMIC")
            try:
                # The encode work runs at full shuffle width in the grouped-map
                # stage; the repartition AFTER it only consolidates the WRITE so
                # each shard directory gets a few term-sorted files instead of
                # O(tasks) fragments (502 tiny files cost ~1 s of footer opens
                # per query — measured). The exchange moves only encoded blocks
                # (~3% of corpus bytes) — the Lucene segment-merge analog.
                # Write width = cores (not n_shards): capping it at n_shards
                # left (cores - n_shards) threads idle through the whole
                # encode+write tail, the main scaling-efficiency leak found in
                # round 1. wslice carves each shard into contiguous tbucket
                # ranges, so files stay term-clustered; small row groups then
                # give tight per-group term min/max, so a term lookup reads
                # only its own row groups in BOTH pyarrow (fast path) and
                # Spark scans — the term-dictionary seek.
                files_per_shard = max(
                    1, spark.sparkContext.defaultParallelism // len(shards)
                )
                # tbucket rides along in the grouped-map output, so the write
                # slice needs no re-hash
                wslice = F.floor(
                    F.col("tbucket") * files_per_shard / F.lit(meta.n_buckets)
                ).cast("int")
                # the sort MUST lead with the dynamic-partition column: the
                # parquet writer requires its input ordered by "shard" and
                # inserts its own NON-STABLE sort when the incoming ordering
                # doesn't already satisfy that — which silently scrambled the
                # term order inside every file (row-group term min/max spanned
                # the whole vocabulary; measured 0.4-0.7 s/query of useless
                # decompression on the 800 k-doc index). Leading with "shard"
                # makes the writer reuse this sort, keeping files term-sorted.
                (
                    blocks.withColumn("wslice", wslice)
                    .repartition(len(shards) * files_per_shard, "shard", "wslice")
                    .sortWithinPartitions("shard", "term", "salt", "block_seq")
                    .drop("wslice", "tbucket")
                    .write.mode("overwrite")
                    .option("parquet.block.size", str(1 << 20))
                    .partitionBy("shard")
                    .parquet(os.path.join(out_dir, "postings"))
                )
            finally:
                spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
            _write_manifest(
                out_dir, unit, shards=shards, secs=time.time() - t0,
                sec_tids=sec_tids, n_terms=n_terms,
            )
            sec_tids = 0.0  # attributed once, to the first unit built
        tids.unpersist()
    return meta


# ---------------------------------------------------------------- readers

def load_postings(spark: SparkSession, out_dir: str) -> DataFrame:
    df = spark.read.option("basePath", os.path.join(out_dir, "postings")).parquet(
        os.path.join(out_dir, "postings")
    )
    return df.withColumn("shard", F.col("shard").cast("int"))


def load_attrs(spark: SparkSession, out_dir: str) -> DataFrame:
    df = spark.read.option("basePath", os.path.join(out_dir, "attrs")).parquet(
        os.path.join(out_dir, "attrs")
    )
    return df.withColumn("shard", F.col("shard").cast("int"))


def stats_delta_dirs(out_dir: str) -> list[str]:
    """Absolute paths of the term_stats delta partitions, oldest first.
    Layout: term_stats/delta=<n>/ — the base build writes delta=0, each
    append adds one batch-vocabulary-sized delta, readers merge on read,
    and compaction (streaming/incremental.py) folds them back to one."""
    ts = os.path.join(out_dir, "term_stats")
    if not os.path.isdir(ts):
        return []
    out = []
    for d in os.listdir(ts):
        if d.startswith("delta="):
            try:
                out.append((int(d.split("=", 1)[1]), os.path.join(ts, d)))
            except ValueError:
                continue
    return [p for _, p in sorted(out)]


# temp dir an in-flight flat→delta migration stages files in; skipped by
# stats_delta_dirs (no "delta=" prefix) and by parquet readers ("_" prefix)
_FLAT_MIG_TMP = "_delta0_tmp"


def _flat_stats_files(ts: str) -> list[str]:
    """Parquet data files sitting DIRECTLY in ``ts`` — the pre-delta flat
    layout, or the not-yet-moved remainder of an interrupted
    migrate_flat_stats run."""
    if not os.path.isdir(ts):
        return []
    return sorted(
        os.path.join(ts, f)
        for f in os.listdir(ts)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def term_stats_sources(out_dir: str) -> tuple[list[str], bool]:
    """Every location holding term-stats rows, plus whether reading them
    needs an additive df/cf merge. Three layouts are possible: pure flat
    (legacy, pre-delta indexes), pure delta (current), and the transient
    mix an interrupted migrate_flat_stats leaves (flat remainder +
    _delta0_tmp + deltas). The three file sets are DISJOINT — migration
    renames each file exactly once, never copies — so summing df/cf
    across all of them is exact in every intermediate state."""
    ts = os.path.join(out_dir, "term_stats")
    deltas = stats_delta_dirs(out_dir)
    flat = _flat_stats_files(ts)
    tmp_files = _flat_stats_files(os.path.join(ts, _FLAT_MIG_TMP))
    srcs = flat + tmp_files + deltas
    if not srcs:  # empty/odd layout: let the reader raise its own error
        return [ts], False
    n_gens = len(deltas) + (1 if flat else 0) + (1 if tmp_files else 0)
    return srcs, n_gens > 1


def migrate_flat_stats(out_dir: str) -> bool:
    """Fold a legacy flat term_stats layout (term_stats/*.parquet, written
    before the delta layout existed) into term_stats/delta=0, so appends
    can add delta=N partitions without orphaning the base vocabulary (an
    un-migrated flat base next to delta=1 would vanish from delta-only
    readers). Idempotent and crash-resumable: each file moves by atomic
    rename into _delta0_tmp, which renames into place last; a re-run
    completes any interrupted state, and term_stats_sources reads
    flat ∪ tmp ∪ deltas additively in the interim, so stats stay exact at
    every crash point. Returns True if anything moved."""
    ts = os.path.join(out_dir, "term_stats")
    if not os.path.isdir(ts):
        return False
    tmp = os.path.join(ts, _FLAT_MIG_TMP)
    flat = [
        f for f in os.listdir(ts)
        if not f.startswith("delta=") and f != _FLAT_MIG_TMP
    ]
    moved = False
    if flat:
        os.makedirs(tmp, exist_ok=True)
        for f in flat:  # data files plus markers (_SUCCESS, .crc)
            os.rename(os.path.join(ts, f), os.path.join(tmp, f))
        moved = True
    if os.path.isdir(tmp):
        dest = os.path.join(ts, "delta=0")
        if os.path.isdir(dest):
            # only reachable from a partial prior migration that raced a
            # delta-layout write; part-file names are unique per write
            for f in os.listdir(tmp):
                os.replace(os.path.join(tmp, f), os.path.join(dest, f))
            os.rmdir(tmp)
        else:
            os.rename(tmp, dest)
        moved = True
    return moved


def load_term_stats(spark: SparkSession, out_dir: str) -> DataFrame:
    """Aggregated (term, df, cf) over every stats source. With a single
    generation (every batch-built index) this is a plain scan — no extra
    shuffle on the build/bench path; the merge groupBy only appears once
    appends have added deltas (or mid flat→delta migration), and is
    vocabulary-sized either way."""
    srcs, merge = term_stats_sources(out_dir)
    df = spark.read.parquet(*srcs)
    if not merge:
        return df
    return df.groupBy("term").agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))


def load_staged_postings(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "_stage", "postings"))


def verify_content_sha(docs: DataFrame, spark: SparkSession, out_dir: str,
                       id_col: str = "doc_id", sha_col: str = "content_sha256") -> bool:
    """Per-row content_sha256 equality corpus↔index (north_rule invariant)."""
    idx = load_attrs(spark, out_dir).select(
        F.col("doc_id").alias(id_col), F.col(sha_col).alias("_idx_sha")
    )
    joined = docs.select(id_col, sha_col).join(idx, id_col, "full_outer")
    bad = joined.where(
        F.col(sha_col).isNull()
        | F.col("_idx_sha").isNull()
        | (F.col(sha_col) != F.col("_idx_sha"))
    )
    return bad.limit(1).count() == 0
