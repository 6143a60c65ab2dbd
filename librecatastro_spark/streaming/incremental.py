"""Incremental index maintenance — the Structured-Streaming analog of the
reference's long-running incremental crawler with resume-on-restart
(A16/A29/A30; reference: src/librecatastro/scrapping/parsers/
parser_xml.py:149-151 skip-if-present, src/utils/catastro_logger.py
progress journal, README.md:43-46 suspend/resume).

Model: the corpus is append-only. New document batches arrive (files in a
watched directory, or any stream source); each micro-batch is

  1. anti-joined against the index's attrs manifest (already-indexed docs
     are skipped — the reference's check_if_address_present),
  2. tokenized and staged (appended to _stage/postings),
  3. the affected shards' posting blocks are rebuilt from the staged
     postings (delta shards only), term_stats/meta refreshed.

Crash consistency: each append is guarded by a write-ahead intent record
(_pending_append.json) holding a file-level snapshot of the mutable
areas, written BEFORE any index file is touched and deleted as the COMMIT
step after the last write. Recovery (run automatically at the next
append, or explicitly via ``recover_index``) rolls an uncommitted batch
back completely — orphan staged/attrs files are purged against the
snapshot, the batch's stats delta is dropped, meta is restored, and the
touched shards' blocks are rebuilt from the clean state — so a replayed
batch can never duplicate staged rows or double-count df/cf. This is the
poor-man's single-writer transaction a production deployment would get
from an Iceberg commit.

Scale note: per-batch cost is O(new docs + touched shards + batch vocab):
the batch is tokenized once, term_stats are maintained by APPENDING a
batch-vocabulary-sized delta partition (term_stats/delta=<n>, merged on
read, folded back into one generation by ``compact_term_stats`` once
``COMPACT_AFTER`` deltas accumulate — df/cf are additive, N and Σcf are
counters), and only the touched shards' posting blocks are rebuilt from
their partition-pruned staged postings. The full staged corpus is never
re-read and the global vocabulary is never rewritten per batch (both
pytest-asserted). BM25 scores reflect the full corpus after every batch,
which is what ES's refresh gives (B15).
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.builder import (
    _bucket_builder,
    assign_term_ids,
    _small_arrow_batches,
    _write_manifest,
    BLOCK_SCHEMA_TID,
    IndexMeta,
    load_attrs,
    load_term_stats,
    migrate_flat_stats,
    read_meta,
    stats_delta_dirs,
)
from ..stats import term_freqs_arrow

COMPACT_AFTER = 8  # fold stats deltas back into one generation past this

_WAL_NAME = "_pending_append.json"


class _InjectedCrash(RuntimeError):
    """Raised by the test-only _fail_after hook to simulate a crash at a
    chosen point of the append protocol."""


def _list_files(root: str) -> list[str]:
    """Relative paths of every regular file under root ('' if missing)."""
    out: list[str] = []
    if not os.path.isdir(root):
        return out
    for dp, _, fns in os.walk(root):
        for fn in fns:
            out.append(os.path.relpath(os.path.join(dp, fn), root))
    return out


def _purge_files_not_in(root: str, keep: list[str]) -> int:
    """Delete every file under root whose relpath is not in keep (and any
    directories emptied by that), returning the number removed. This is
    the rollback primitive: `keep` is the pre-batch snapshot, so exactly
    the crashed batch's output files disappear."""
    if not os.path.isdir(root):
        return 0
    keep_set = set(keep)
    removed = 0
    for dp, dns, fns in os.walk(root, topdown=False):
        for fn in fns:
            p = os.path.join(dp, fn)
            if os.path.relpath(p, root) not in keep_set:
                os.remove(p)
                removed += 1
        if dp != root and not os.listdir(dp):
            os.rmdir(dp)
    return removed


def _recover_term_stats(out_dir: str) -> None:
    """Finish or undo an interrupted term_stats compaction swap: the swap
    is rename(ts → ts.old); rename(ts.compact → ts); rmtree(ts.old) — at
    any crash point either ts or ts.old holds a complete generation."""
    ts = os.path.join(out_dir, "term_stats")
    old, tmp = ts + ".old", ts + ".compact"
    if not os.path.isdir(ts) and os.path.isdir(old):
        os.rename(old, ts)
    shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    # incomplete batch-delta write (crash before its atomic rename)
    shutil.rmtree(os.path.join(ts, "_tmp_delta"), ignore_errors=True)


def recover_index(spark: SparkSession, out_dir: str) -> bool:
    """Recover from a crashed mutation, if one is pending. Safe to call
    on a healthy index (no-op). Returns True if recovery ran.
    Single-writer assumption: never call concurrently with a live
    append/delete on the same out_dir.

    Two WAL kinds, two directions: a crashed APPEND rolls BACK (its
    snapshot lists everything the batch added — purge it and the index
    is exactly the pre-batch state); a crashed DELETE rolls FORWARD (its
    durable id list + idempotent steps re-run to completion — rollback
    is impossible once a staged partition has been rewritten, so the
    protocol makes completion the safe direction instead)."""
    _recover_term_stats(out_dir)
    dwal_path = os.path.join(out_dir, _DEL_WAL_NAME)
    if os.path.exists(dwal_path):
        with open(dwal_path) as fh:
            dwal = json.load(fh)
        _finish_delete(spark, out_dir, dwal, None)
        return True
    wal_path = os.path.join(out_dir, _WAL_NAME)
    if not os.path.exists(wal_path):
        return False
    with open(wal_path) as fh:
        wal = json.load(fh)
    # 1) purge the crashed batch's attrs + staged files (snapshot diff)
    _purge_files_not_in(os.path.join(out_dir, "attrs"), wal["attrs_files"])
    _purge_files_not_in(
        os.path.join(out_dir, "_stage", "postings"), wal["staged_files"]
    )
    # 2) drop the batch's stats delta (written whole via atomic rename,
    #    so it is either absent or complete)
    shutil.rmtree(
        os.path.join(out_dir, "term_stats", f"delta={wal['stats_delta']}"),
        ignore_errors=True,
    )
    # deleting files out from under Spark leaves stale entries in its
    # file-listing cache — invalidate before anything re-reads these paths
    for sub in ("attrs", os.path.join("_stage", "postings"), "term_stats"):
        spark.catalog.refreshByPath(os.path.join(out_dir, sub))
    # 3) restore meta
    with open(os.path.join(out_dir, "meta.json"), "w") as fh:
        json.dump(wal["old_meta"], fh)
    # 4) rebuild the touched shards' blocks from the now-clean staged
    #    postings (idempotent overwrite; a crash here re-enters recovery)
    meta = read_meta(out_dir)
    _rebuild_shards(spark, out_dir, meta, wal["touched_shards"])
    os.remove(wal_path)
    _write_manifest(
        out_dir, f"rollback_{int(time.time() * 1000)}",
        rolled_back_batch=wal.get("batch_token"),
        shards=wal["touched_shards"],
    )
    return True


def compact_term_stats(
    spark: SparkSession, out_dir: str, max_deltas: int = COMPACT_AFTER
) -> bool:
    """Fold accumulated stats deltas back into a single delta=0 generation
    once there are >= max_deltas of them. Crash-safe via the rename-aside
    swap undone/finished by _recover_term_stats. O(vocabulary), amortized
    over max_deltas appends."""
    deltas = stats_delta_dirs(out_dir)
    if len(deltas) < max_deltas:
        return False
    ts = os.path.join(out_dir, "term_stats")
    tmp, old = ts + ".compact", ts + ".old"
    shutil.rmtree(tmp, ignore_errors=True)
    load_term_stats(spark, out_dir).write.mode("overwrite").parquet(
        os.path.join(tmp, "delta=0")
    )
    os.rename(ts, old)
    os.rename(tmp, ts)
    shutil.rmtree(old)
    return True


def append_batch(
    spark: SparkSession,
    out_dir: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "content",
    _fail_after: str | None = None,
) -> int:
    """Merge a batch of new documents into an existing index at out_dir.
    Returns number of newly indexed docs. Crash-safe and idempotent per
    batch content (WAL rollback + A16 anti-join; see module docstring).
    Already-open CompressedIndex objects snapshot stats at open — call
    refresh() (or reopen) after an append. ``_fail_after`` is a TEST-ONLY
    hook that raises after a named protocol step to exercise recovery."""
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        return _append_batch(
            spark, out_dir, new_docs, id_col, text_col, _fail_after
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def _crash_hook(_fail_after: str | None, step: str) -> None:
    if _fail_after == step:
        raise _InjectedCrash(f"injected crash after step '{step}'")


def _append_batch(
    spark: SparkSession,
    out_dir: str,
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    _fail_after: str | None = None,
) -> int:
    recover_index(spark, out_dir)  # roll back any crashed predecessor
    compact_term_stats(spark, out_dir)  # bound the stats delta count
    meta = read_meta(out_dir)
    attrs = load_attrs(spark, out_dir)
    # A16 skip-if-present: only genuinely new doc_ids are indexed
    fresh = new_docs.withColumnRenamed(id_col, "doc_id").join(
        attrs.select("doc_id"), "doc_id", "left_anti"
    ).cache()
    n_new = fresh.count()
    if n_new == 0:
        return 0
    new_n_docs = meta.n_docs + n_new
    shard_expr = F.least(
        F.lit(meta.n_shards - 1),
        F.floor(F.col("doc_id") * meta.n_shards / F.lit(new_n_docs)).cast("int"),
    )
    # NB: growing N shifts range boundaries; for an append-only corpus with
    # monotonically assigned doc_ids, new docs land in the tail shards and
    # the boundary shift is handled by rebuilding every TOUCHED shard below
    # (staged rows keep their original shard; doc_ids are absolute; a doc's
    # attrs and postings use the SAME shard expression, so they agree).
    staged_new = term_freqs_arrow(
        fresh, "doc_id", text_col,
        positions=(meta.index_options == "positions"),
        # appended docs must tokenize with the INDEX's analyzer (the
        # per-field hook, incl. its filters), never the global default
        analyzer=meta.analyzer(),
    ).withColumn("shard", shard_expr).cache()
    # small Arrow batches scoped to the tokenize pass — the same
    # allocation-churn mitigation as the batch build (builder.py:
    # _small_arrow_batches); the collect() materializes the cache here, so
    # the downstream stats/block stages run at the default batch size
    with _small_arrow_batches(spark):
        touched = sorted(
            r["shard"] for r in staged_new.select("shard").distinct().collect()
        )

    # normalize a legacy flat stats layout into delta=0 BEFORE minting a
    # delta id: writing delta=1 next to an un-migrated flat base would
    # make delta-only readers drop the entire pre-existing vocabulary
    # (and _rebuild_shards' term-id join would then silently delete every
    # old-vocabulary posting from the touched shards). Idempotent,
    # crash-resumable, pre-WAL by design — it mutates layout, not content.
    migrate_flat_stats(out_dir)

    # ---- write-ahead intent record: snapshot of everything this batch
    # will touch, written before the first index mutation; deleting it is
    # the commit. Any crash in between → recover_index rolls back fully.
    deltas = stats_delta_dirs(out_dir)
    delta_id = 1 + max(
        (int(os.path.basename(d).split("=", 1)[1]) for d in deltas), default=0
    )
    wal = {
        "batch_token": f"incr_{int(time.time() * 1000)}",
        "touched_shards": touched,
        "staged_files": _list_files(os.path.join(out_dir, "_stage", "postings")),
        "attrs_files": _list_files(os.path.join(out_dir, "attrs")),
        "stats_delta": delta_id,
        "old_meta": meta.__dict__,
    }
    wal_path = os.path.join(out_dir, _WAL_NAME)
    with open(wal_path + ".tmp", "w") as fh:
        json.dump(wal, fh)
    os.replace(wal_path + ".tmp", wal_path)
    _crash_hook(_fail_after, "wal")

    staged_new.write.mode("append").partitionBy("shard").parquet(
        os.path.join(out_dir, "_stage", "postings")
    )
    _crash_hook(_fail_after, "staged")

    # ---- stats: append ONE batch-vocabulary-sized delta partition —
    # df/cf are additive across disjoint doc sets, so merge-on-read over
    # deltas equals the batch-build aggregation exactly. Written to a
    # temp dir and renamed in, so the delta is either absent or complete.
    ts = os.path.join(out_dir, "term_stats")
    tmp_delta = os.path.join(ts, "_tmp_delta")
    shutil.rmtree(tmp_delta, ignore_errors=True)
    staged_new.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    ).write.mode("overwrite").parquet(tmp_delta)
    os.rename(tmp_delta, os.path.join(ts, f"delta={delta_id}"))
    _crash_hook(_fail_after, "stats")

    # N counts ALL docs (zero-token ones included, matching build_index's
    # docs.count()) and avgdl = Σcf / N — identical to the batch-build
    # derivation, so an appended index converges to the batch-built one
    # bit-for-bit. Σcf is a plain column sum over the deltas (no groupBy).
    total_tokens = (
        spark.read.parquet(*stats_delta_dirs(out_dir))
        .agg(F.sum("cf")).collect()[0][0]
    )
    # replace() so every other field (index_options, version, …) survives
    # the append verbatim — reconstructing the dataclass field-by-field
    # silently reset new fields to their defaults (caught by
    # tests/test_positions.py::test_append_preserves_positions)
    meta = dataclasses.replace(
        meta,
        n_docs=new_n_docs,
        avgdl=float(total_tokens or 0) / new_n_docs if new_n_docs else 0.0,
    )
    with open(os.path.join(out_dir, "meta.json"), "w") as fh:
        json.dump(dataclasses.asdict(meta), fh)
    _crash_hook(_fail_after, "meta")

    # rebuild blocks for touched shards only (idf changed globally, but
    # block_max_w is an upper bound built from the CURRENT df at build
    # time; the scorer recomputes true idf at query time, so untouched
    # shards stay valid as long as df only grows — idf shrinks, bounds
    # stay upper bounds)
    _rebuild_shards(spark, out_dir, meta, touched)
    _crash_hook(_fail_after, "blocks")

    # append attrs rows for ALL fresh docs (projected from fresh, not
    # from staged postings — a zero-token doc has no postings but must
    # exist in attrs for the sha invariant and the A16 anti-join).
    # ORDERING MATTERS: this write triggers refreshByPath(attrs), which
    # invalidates every cached plan referencing the attrs files —
    # including `fresh` itself (its anti-join reads attrs). Any action on
    # fresh/staged_new AFTER this point would recompute against the
    # updated attrs and silently see ZERO fresh docs, so this must be the
    # final consumer.
    new_attrs = fresh.select("doc_id", *meta.attr_cols).withColumn(
        "shard", shard_expr
    )
    # sort leads with the partition column (the writer otherwise inserts
    # its own non-stable shard sort), keeping the base build's invariant —
    # every attrs file has monotone doc_id row-group stats — true across
    # appends too
    new_attrs.sortWithinPartitions("shard", "doc_id").write.mode(
        "append"
    ).partitionBy("shard").parquet(os.path.join(out_dir, "attrs"))
    _crash_hook(_fail_after, "attrs")

    os.remove(wal_path)  # COMMIT — the batch is now fully visible
    _write_manifest(
        out_dir, wal["batch_token"],
        docs_added=n_new, shards=touched, stats_delta=delta_id,
    )
    staged_new.unpersist()
    fresh.unpersist()
    return n_new


_DEL_WAL_NAME = "_pending_delete.json"
_DEL_IDS_DIR = "_pending_delete_ids"


def delete_batch(
    spark: SparkSession,
    out_dir: str,
    doc_ids,
    _fail_after: str | None = None,
) -> int:
    """Remove documents from an existing index — the ES delete/_delete_by
    _query write API the engine lacked. ``doc_ids`` is a list of ints or
    a DataFrame with a doc_id column. Returns the number of docs actually
    removed (ids absent from the index are ignored).

    Unlike ES/Lucene — whose deletes are tombstone bitsets that leave
    df/cf/N stale until a segment merge — this delete CONVERGES
    IMMEDIATELY to the batch build of the remaining corpus, bit-for-bit
    (pytest-asserted): a negative batch-vocabulary stats delta (df/cf are
    additive counters, so the delta layout absorbs removals for free),
    touched-shard staged/attrs rewrites, and a touched-shard block
    rebuild. Cost O(touched shards + deleted-batch vocab), the same bill
    as append_batch.

    Crash safety is ROLL-FORWARD (vs append's rollback): the victim id
    list is made durable before the first mutation, every step is
    idempotent and guarded (the stats delta by dir existence, partition
    rewrites by a rename-aside swap), so recover_index re-runs the
    deletion to completion from any crash point — rollback is impossible
    once a staged partition has been rewritten, so completion is the
    safe direction. ``_fail_after`` is the TEST-ONLY crash hook."""
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        return _delete_batch(spark, out_dir, doc_ids, _fail_after)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def _delete_batch(
    spark: SparkSession, out_dir: str, doc_ids, _fail_after: str | None
) -> int:
    recover_index(spark, out_dir)
    compact_term_stats(spark, out_dir)
    meta = read_meta(out_dir)
    if isinstance(doc_ids, (list, tuple, set)):
        ids_df = spark.createDataFrame(
            [(int(i),) for i in sorted(set(doc_ids))], "doc_id long"
        )
    else:
        ids_df = doc_ids.select(F.col("doc_id").cast("long")).distinct()
    attrs = load_attrs(spark, out_dir)
    victims = attrs.select("doc_id", "shard").join(ids_df, "doc_id").cache()
    n_del = victims.count()
    if n_del == 0:
        victims.unpersist()
        return 0
    touched = sorted(
        r["shard"] for r in victims.select("shard").distinct().collect()
    )
    migrate_flat_stats(out_dir)
    # durable victim id list — the roll-forward token; everything after
    # the WAL write derives from THIS list, never the caller's frame
    ids_dir = os.path.join(out_dir, _DEL_IDS_DIR)
    shutil.rmtree(ids_dir, ignore_errors=True)
    victims.select("doc_id").write.mode("overwrite").parquet(ids_dir)
    victims.unpersist()
    deltas = stats_delta_dirs(out_dir)
    delta_id = 1 + max(
        (int(os.path.basename(d).split("=", 1)[1]) for d in deltas), default=0
    )
    wal = {
        "batch_token": f"del_{int(time.time() * 1000)}",
        "touched_shards": touched,
        "stats_delta": delta_id,
        "n_deleted": n_del,
        "old_meta": dataclasses.asdict(meta),
    }
    wal_path = os.path.join(out_dir, _DEL_WAL_NAME)
    with open(wal_path + ".tmp", "w") as fh:
        json.dump(wal, fh)
    os.replace(wal_path + ".tmp", wal_path)
    _crash_hook(_fail_after, "wal")
    _finish_delete(spark, out_dir, wal, _fail_after)
    return n_del


def _swap_filtered_partition(
    spark: SparkSession, root: str, shard: int, ids_dir: str,
    sort_cols: tuple[str, ...],
) -> None:
    """Rewrite one hive partition dir minus the victim ids, via a
    rename-aside swap (Spark refuses to overwrite a path it reads from,
    and a crash mid-overwrite would lose the partition). Idempotent:
    re-running on an already-filtered partition is a no-op filter, and
    every intermediate crash state is repaired on entry — ``old`` exists
    without ``src`` → restore it; a stale ``new`` is recomputed."""
    src = os.path.join(root, f"shard={shard}")
    new = os.path.join(root, f"_del_new_{shard}")
    old = os.path.join(root, f"_del_old_{shard}")
    if os.path.isdir(old) and not os.path.isdir(src):
        os.rename(old, src)  # crashed between the two swap renames
    shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(new, ignore_errors=True)
    if not os.path.isdir(src):
        return  # nothing materialized for this shard (e.g. zero-token docs)
    spark.catalog.refreshByPath(src)
    ids = spark.read.parquet(ids_dir)
    kept = spark.read.parquet(src).join(ids, "doc_id", "left_anti")
    kept.sortWithinPartitions(*sort_cols).write.mode("overwrite").parquet(new)
    os.rename(src, old)
    os.rename(new, src)
    shutil.rmtree(old)
    spark.catalog.refreshByPath(src)


def _finish_delete(
    spark: SparkSession, out_dir: str, wal: dict, _fail_after: str | None
) -> None:
    """Steps (b)..(g) of the delete protocol — every one idempotent, so
    this runs both inline and as crash recovery (roll-forward)."""
    touched = wal["touched_shards"]
    delta_id = wal["stats_delta"]
    ids_dir = os.path.join(out_dir, _DEL_IDS_DIR)
    staged_root = os.path.join(out_dir, "_stage", "postings")
    ts = os.path.join(out_dir, "term_stats")
    # (b) negative stats delta — computed from the STILL-INTACT staged
    # rows, guarded by dir existence so a recovery after (c) started
    # (staged already filtered) never recomputes it from missing rows:
    # delta-absent ⇒ no (c) rewrite has run, by strict step order.
    delta_dir = os.path.join(ts, f"delta={delta_id}")
    if not os.path.isdir(delta_dir):
        ids = spark.read.parquet(ids_dir)
        dead = (
            spark.read.parquet(staged_root)
            .where(F.col("shard").isin(touched))
            .join(ids, "doc_id", "left_semi")
        )
        tmp_delta = os.path.join(ts, "_tmp_delta")
        shutil.rmtree(tmp_delta, ignore_errors=True)
        dead.groupBy("term").agg(
            (-F.count(F.lit(1))).alias("df"), (-F.sum("tf")).alias("cf")
        ).write.mode("overwrite").parquet(tmp_delta)
        os.rename(tmp_delta, delta_dir)
    _crash_hook(_fail_after, "stats")
    # (c) staged postings minus victims, touched shards only
    staged_cols = ("doc_id", "term")
    for s in touched:
        _swap_filtered_partition(spark, staged_root, s, ids_dir, staged_cols)
    _crash_hook(_fail_after, "staged")
    # (d) attrs minus victims (monotone doc_id invariant preserved)
    attrs_root = os.path.join(out_dir, "attrs")
    for s in touched:
        _swap_filtered_partition(spark, attrs_root, s, ids_dir, ("doc_id",))
    _crash_hook(_fail_after, "attrs")
    # (e) meta from the WAL's pre-state (idempotent on re-run): N shrinks
    # by the recorded victim count; avgdl = Σcf / N over the delta-merged
    # stats — identical to the batch-build derivation, so the index
    # converges to the fresh build of the remaining corpus bit-for-bit
    old_meta = IndexMeta(**wal["old_meta"])
    new_n = old_meta.n_docs - wal["n_deleted"]
    total_tokens = (
        spark.read.parquet(*stats_delta_dirs(out_dir))
        .agg(F.sum("cf")).collect()[0][0]
    )
    meta = dataclasses.replace(
        old_meta,
        n_docs=new_n,
        avgdl=float(total_tokens or 0) / new_n if new_n else 0.0,
    )
    with open(os.path.join(out_dir, "meta.json"), "w") as fh:
        json.dump(dataclasses.asdict(meta), fh)
    _crash_hook(_fail_after, "meta")
    # (f) rebuild the touched shards' blocks from the filtered staged
    _rebuild_shards(spark, out_dir, meta, touched)
    _crash_hook(_fail_after, "blocks")
    # (g) COMMIT
    shutil.rmtree(ids_dir, ignore_errors=True)
    wal_path = os.path.join(out_dir, _DEL_WAL_NAME)
    if os.path.exists(wal_path):
        os.remove(wal_path)
    _write_manifest(
        out_dir, wal["batch_token"],
        docs_deleted=wal["n_deleted"], shards=touched, stats_delta=delta_id,
    )


def update_batch(
    spark: SparkSession,
    out_dir: str,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "content",
) -> tuple[int, int]:
    """Index-level upsert (the ES _update / last-write-wins analog):
    delete any existing versions of the batch's doc_ids, then append the
    new versions. Returns (n_replaced, n_indexed). Each half is
    individually crash-safe; a crash between them leaves the ids deleted
    but not yet re-added — re-running the same update converges (the
    append half's A16 anti-join sees them as fresh)."""
    ids = docs.select(F.col(id_col).cast("long").alias("doc_id"))
    n_replaced = delete_batch(spark, out_dir, ids)
    n_indexed = append_batch(
        spark, out_dir, docs, id_col=id_col, text_col=text_col
    )
    return n_replaced, n_indexed


def _rebuild_shards(
    spark: SparkSession, out_dir: str, meta: IndexMeta, touched: list[int]
) -> None:
    """Rebuild the posting blocks of the given shards from the staged
    postings (partition-pruned to exactly those shards) — shared by the
    append hot path and crash rollback. Same numeric-only grouped-map
    design as the batch build (builder.py stage 2)."""
    if not touched:
        return
    tstats = load_term_stats(spark, out_dir)
    # ephemeral term→tid map so the grouped map below moves only numerics
    # (same design as the batch build — assign_term_ids docstring)
    tids = assign_term_ids(tstats).cache()
    # lazily open the staged postings; the isin(touched) predicate below is
    # partition pruning, so only the touched shards' files are ever read
    staged = spark.read.parquet(os.path.join(out_dir, "_stage", "postings"))
    part = staged.where(F.col("shard").isin(touched)).join(
        F.broadcast(tids.select("term", "df", "tid")), "term"
    ).drop("term")
    shard_span = meta.n_docs / meta.n_shards
    rel = F.col("doc_id") - F.col("shard") * F.lit(shard_span)
    salt = F.when(
        F.col("df") > meta.salt_threshold,
        F.least(
            F.lit(meta.n_salts - 1),
            F.floor(rel * meta.n_salts / F.lit(shard_span)).cast("int"),
        ),
    ).otherwise(F.lit(0))
    part = part.withColumn("salt", salt).withColumn(
        "tbucket",
        F.pmod(F.xxhash64("tid", "salt"), F.lit(meta.n_buckets)).cast("int"),
    )
    blocks = part.groupBy("shard", "tbucket").applyInPandas(
        _bucket_builder(
            meta.block_size, float(meta.n_docs), meta.avgdl,
            positions=(meta.index_options == "positions"),
        ),
        schema=BLOCK_SCHEMA_TID,
    ).join(tids.select("tid", "term"), "tid").drop("tid", "tbucket")
    for s in touched:
        blocks.where(F.col("shard") == s).sortWithinPartitions(
            "term", "salt", "block_seq"
        ).write.mode("overwrite").option(
            "parquet.block.size", str(1 << 20)  # tight row groups → term pruning
        ).parquet(os.path.join(out_dir, "postings", f"shard={s}"))
    tids.unpersist()


def stream_into_index(
    spark: SparkSession,
    out_dir: str,
    source_dir: str,
    schema: str,
    id_col: str = "doc_id",
    text_col: str = "content",
    checkpoint_dir: str | None = None,
):
    """Structured Streaming driver: watch source_dir for new parquet files
    and fold each micro-batch into the index via foreachBatch."""
    stream = spark.readStream.schema(schema).parquet(source_dir)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        append_batch(spark, out_dir, batch_df, id_col=id_col, text_col=text_col)

    writer = stream.writeStream.foreachBatch(sink).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
