"""Physical-plan audit → PLANS.md.

Dumps `.explain("formatted")` for the engine's key paths and greps each
plan for the scale-critical properties (SURVEY.md §4): Parquet
PushedFilters reaching the scan, partition pruning on the shard dirs,
WholeStageCodegen spans around the Catalyst parts, broadcast joins where
a small side exists, and the absence of unexpected exchanges.

Usage: python tools/explain_audit.py [sf_dir]   (default sf0.001)
Writes PLANS.md at the repo root, with run-specific paths and ids made
stable (``stable``), so two runs on one commit write identical files.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from librecatastro_spark.engine.wand import CompressedIndex
from librecatastro_spark.index.builder import build_index, load_term_stats
from librecatastro_spark.session import get_spark
from perfbench.obs import Footprint


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


CHECKS = {
    "pushed_filter": "PushedFilters: [",
    "codegen": "codegen id :",  # formatted-mode marker for WholeStageCodegen spans
    "broadcast": "BroadcastHashJoin",
    "exchange": "Exchange",
    "take_ordered": "TakeOrderedAndProject",
    "cartesian": "CartesianProduct",
    "pushed_startswith": "StartsWith",
    "window": "Window",
    "explode": "Generate",
    "arrow_eval": "ArrowEvalPython",
    "grouped_map": "FlatMapGroupsInPandas",
    "single_partition": "Exchange SinglePartition",
    "reads_pos_enc": "pos_enc:binary",  # the column in a scan's ReadSchema
}


_EXPR_ID = re.compile(r"(?<=[\w)])#(\d+)")
_PLAN_ID = re.compile(r"\[plan_id=(\d+)\]")
_RDD_ID = re.compile(r"RDD\[(\d+)\]")


def stable(section: str, work: str) -> str:
    """``section`` with what differs between runs of one commit replaced
    by stable placeholders: the run's temp directory becomes ``<work>``,
    and Catalyst expression ids (``name#N``) and ``[plan_id=N]``s are
    and an executor-path scan's ``RDD[N]`` are renumbered 1, 2, … in
    order of first appearance. A regeneration then rewrites only the
    sections whose plans changed."""

    def renumber(pattern: re.Pattern, fmt: str, text: str) -> str:
        ids: dict[str, int] = {}
        return pattern.sub(
            lambda m: fmt.format(ids.setdefault(m.group(1), len(ids) + 1)), text
        )

    section = renumber(_EXPR_ID, "#{}", section.replace(work, "<work>"))
    section = renumber(_RDD_ID, "RDD[{}]", section)
    return renumber(_PLAN_ID, "[plan_id={}]", section)


#: the plan of a query the executor tasks answer (``_dispatch``): an RDD
#: scan of the per-shard rows under one TakeOrderedAndProject merge — no
#: grouped map and no Exchange on either side
EXECUTOR_PLAN = {"take_ordered": True, "grouped_map": False, "exchange": False}


def seek_audit(index, make, pos_enc: bool = False):
    """``(df, lines, problems)``: the DataFrame ``make()`` builds and an
    audit of the seek its executor tasks run, recorded at
    ``index._dispatch``: the row groups the seek plan reads against the
    ones ``perfbench.obs.Footprint`` says its terms need (equal for exact
    terms; for a phrase prefix's [pfx, successor) range, at least the
    ones its dictionary expansion needs — no posting lost), the posting
    columns read (``pos_enc`` only when ``pos_enc``) and the tasks."""
    seen = []
    dispatch = index._dispatch

    def record(seeks, cols, *args, **kwargs):
        out = dispatch(seeks, cols, *args, **kwargs)
        seen.append((seeks, tuple(cols), out.rdd.getNumPartitions()))
        return out

    index._dispatch = record
    try:
        df = make()
    finally:
        del index._dispatch
    lines, problems = [], []
    if not seen:
        problems.append("no executor seek ran")
    for seeks, cols, tasks in seen:
        shards = set()
        for ix, sk in seeks:  # one (sub-index, _Seek) pair per field
            fp = Footprint(ix.out_dir)
            plan = ix._seek_plan(sk.terms, sk.pfx)
            shards |= set(plan)
            planned = sum(len(rgs) for files in plan.values() for _, rgs in files)
            n_files = sum(len(files) for files in plan.values())
            terms = list(sk.terms)
            if sk.pfx is not None:
                terms += [t for t in fp.postings if t.startswith(sk.pfx)]
            need = fp.cost(sorted(set(terms)))["row_groups"]
            ok = planned >= need if sk.pfx is not None else planned == need
            cmp = ">=" if sk.pfx is not None else "=="
            what = f"{len(sk.terms)} terms" + (
                f" + prefix range [{sk.pfx!r}, successor)" if sk.pfx is not None else ""
            ) + (f" of field {sk.field!r}" if sk.field is not None else "")
            lines.append(
                f"- {'OK ' if ok else '!! '}seek: {what} → {planned} row groups "
                f"in {n_files} files (Footprint.cost {need}; expected planned "
                f"{cmp} cost)"
            )
            if not ok:
                problems.append(f"seek plans {planned} row groups, Footprint.cost {need}")
        reads_pos = "pos_enc" in cols
        lines.append(
            f"- {'OK ' if reads_pos == pos_enc else '!! '}columns read: "
            f"{', '.join(cols)} (`pos_enc` {'present' if reads_pos else 'absent'}, "
            f"expected {'present' if pos_enc else 'absent'})"
        )
        lines.append(f"- tasks: {tasks} for {len(shards)} shards")
        if reads_pos != pos_enc:
            problems.append(f"seek reads {cols}")
    return df, lines, problems


#: one RDD scan in a formatted plan's operator tree
_RDD_SCAN = re.compile(r"Scan ExistingRDD \(\d+\)")


def audit(
    name: str, df, expect: dict[str, bool], notes: str, seek=None,
    scans: int | None = None,
) -> tuple[str, list[str]]:
    """One PLANS.md section: ``df``'s formatted plan grepped for
    ``expect``; ``seek`` is ``seek_audit``'s (lines, problems) for a
    query the executor tasks answer; ``scans`` is the number of
    ``Scan ExistingRDD`` operators (reads of an executor stage) the plan
    must hold."""
    plan = formatted_plan(df)
    problems = []
    if scans is not None and len(_RDD_SCAN.findall(plan)) != scans:
        problems.append(f"{name}: expected {scans} `Scan ExistingRDD`")
    for key, want in expect.items():
        have = CHECKS[key] in plan
        if have != want:
            problems.append(
                f"{name}: expected {CHECKS[key]!r} {'present' if want else 'absent'}"
            )
    lines = [f"## {name}", "", notes, ""]
    for key, want in expect.items():
        have = CHECKS[key] in plan
        mark = "OK " if have == want else "!! "
        lines.append(
            f"- {mark}`{CHECKS[key]}` {'present' if have else 'absent'}"
            f" (expected {'present' if want else 'absent'})"
        )
    if scans is not None:
        have = len(_RDD_SCAN.findall(plan))
        lines.append(
            f"- {'OK ' if have == scans else '!! '}`Scan ExistingRDD` x{have}"
            f" (expected x{scans})"
        )
    if seek is not None:
        lines += seek[0]
        problems += [f"{name}: {p}" for p in seek[1]]
    lines += ["", "```", plan.strip(), "```", ""]
    return "\n".join(lines), problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan_audit", cores=4, shuffle_partitions=4)
    work = tempfile.mkdtemp(prefix="lc_audit_")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx_dir = os.path.join(work, "index")
    build_index(
        spark, docs, idx_dir, id_col="doc_id", text_col="text",
        attr_cols=("lang", "source", "n_chars"), n_shards=4, shards_per_job=4,
        salt_threshold=10_000, n_salts=4, resume=False,
    )
    index = CompressedIndex(spark, idx_dir)

    sections: list[str] = []
    problems: list[str] = []

    s, p = audit(
        "Keyword-filtered corpus scan (B4 analog)",
        docs.where(F.col("lang") == "py").select("doc_id", "lang"),
        {"pushed_filter": True, "codegen": True, "exchange": False},
        "Equality on a keyword column must reach the Parquet scan as a "
        "pushed filter, stay in codegen, and shuffle nothing.",
    )
    sections.append(s); problems += p

    s, p = audit(
        "Term lookup into the posting table (query fast path)",
        index.postings.where(F.col("term").isin(["query", "scan"])),
        {"pushed_filter": True, "codegen": True, "exchange": False},
        "The isin(term) predicate must be pushed to Parquet; files are "
        "written term-sorted per shard so min/max row-group stats prune "
        "(the Lucene term-dictionary seek analog).",
    )
    sections.append(s); problems += p

    df, *seek = seek_audit(index, lambda: index.search("query scan", k=10))
    s, p = audit(
        "BM25 top-k via WAND scorer (unfiltered)",
        df, EXECUTOR_PLAN,
        "Per-shard seek + scorer inside executor tasks, then a single "
        "global TakeOrderedAndProject merge — the ES shard-fanout/"
        "coordinator pattern. The driver turns the resident footer stats "
        "into a seek plan (the row groups that can hold the query terms); "
        "each task reads its shards' row groups with pyarrow and runs the "
        "kernel, so the plan is an RDD scan of (doc_id, score) rows: no "
        "grouped map, no Exchange anywhere, and the query-term postings "
        "are a small decode volume, so every shard runs in one task.",
        seek=seek,
    )
    sections.append(s); problems += p

    index._ONE_TASK_MAX_POSTINGS = 0
    try:
        fanned, *seek = seek_audit(
            index, lambda: index.search("query scan", k=10)
        )
    finally:
        del index._ONE_TASK_MAX_POSTINGS
    s, p = audit(
        "BM25 top-k fanned out (one-task limit forced to 0)",
        fanned, EXECUTOR_PLAN,
        "With the one-task decode-volume limit at 0, the estimate "
        "exceeds it and the seek plan runs one task per shard (the "
        "`tasks` line) — the shape a large query gets. There is still no "
        "shuffle on either side: each task scores whole shards and the "
        "merge is one TakeOrderedAndProject over their top-k rows.",
        seek=seek,
    )
    sections.append(s); problems += p

    df, *seek = seek_audit(
        index, lambda: index.search("query scan", k=10, filters={"lang": "py"})
    )
    s, p = audit(
        "Keyword-FILTERED WAND query (B4+B14 — r2 pushdown fix)",
        df, EXECUTOR_PLAN,
        "The keyword predicate runs in each executor task as a pyarrow "
        "scan of that shard's attrs files with the predicate pushed to "
        "row-group stats and dictionary filtering (`_Clauses.docs`), so "
        "the scorer receives only surviving doc ids — round 1 shipped the "
        "whole attrs partition into pandas instead. The clauses are "
        "checked against the attrs schema on the driver before any job.",
        seek=seek,
    )
    sections.append(s); problems += p

    df, *seek = seek_audit(
        index, lambda: index.search("query scan", k=10, prefix=("lang", "p"))
    )
    s, p = audit(
        "Prefix-FILTERED WAND query (B5+B14 — r2 pushdown fix)",
        df, EXECUTOR_PLAN,
        "The prefix clause reaches each shard's attrs scan as the "
        "[p, successor) range (row-group pruning), with an exact "
        "starts_with re-check on the survivors, exactly like equality.",
        seek=seek,
    )
    sections.append(s); problems += p

    pos_dir = os.path.join(work, "posindex")
    build_index(
        spark, docs, pos_dir, id_col="doc_id", text_col="text",
        attr_cols=("lang", "source"), n_shards=4, shards_per_job=4,
        salt_threshold=10_000, n_salts=4, resume=False,
        index_options="positions",
    )
    pindex = CompressedIndex(spark, pos_dir)
    df, *seek = seek_audit(pindex, lambda: pindex.search("query scan", k=10))
    s, p = audit(
        "BM25 top-k on a positions index (column pruning)",
        df, EXECUTOR_PLAN,
        "The scorer reads only the columns its kernel decodes: on an "
        "index built with positions, the executor seek leaves out "
        "pos_enc, the largest column of a positional block (the "
        "`columns read` line).",
        seek=seek,
    )
    sections.append(s); problems += p
    df, *seek = seek_audit(
        pindex, lambda: pindex.match_phrase("the scan", k=10), pos_enc=True
    )
    s, p = audit(
        "match_phrase index-only plan (r3 positional postings)",
        df, {**EXECUTOR_PLAN, "cartesian": False, "arrow_eval": False},
        "Index-only phrase: the executor seek reads the phrase terms' "
        "row groups, position columns included; NO "
        "ArrowEvalPython means the source table is never scanned — "
        "phrase verify + BM25 scoring happen per shard in the task over "
        "decoded position streams (the rarest term's candidates prune "
        "the other terms' blocks before decode), and the merge is "
        "TakeOrderedAndProject. The query's data volume is O(phrase "
        "terms' postings) at any corpus size.",
        seek=seek,
    )
    sections.append(s); problems += p

    df, *seek = seek_audit(
        pindex, lambda: pindex.match_phrase_prefix("the sc", k=10), pos_enc=True
    )
    s, p = audit(
        "match_phrase_prefix index-only plan (r4)",
        df, {**EXECUTOR_PLAN, "cartesian": False, "arrow_eval": False},
        "Index-only type-ahead: ONE seek covers both roles — the complete "
        "terms OR the [pfx, successor) range, both pruning the "
        "term-sorted files' row groups by footer stats; the kernel prunes "
        "blocks against the complete terms' candidates before decode. NO "
        "ArrowEvalPython (the source table "
        "is never scanned); the expansion streams chain inside the "
        "per-shard kernel with a zero-slop step and are never collected. "
        "Merge is TakeOrderedAndProject.",
        seek=seek,
    )
    sections.append(s); problems += p

    df, *seek = seek_audit(
        index, lambda: index.function_score("the scan", "n_chars", k=10)
    )
    s, p = audit(
        "function_score field-boost plan (r3 compound scoring)",
        df, {**EXECUTOR_PLAN, "cartesian": False},
        "Score reshaping voids BM25 block-max bounds, so the kernel "
        "decodes the query terms' postings fully (the AND-branch bill). "
        "Each shard's task reads the numeric field from its own attrs "
        "files (the field never leaves its shard — no global join), the "
        "executor seek reads only the query terms' row groups, and the "
        "merge is TakeOrderedAndProject.",
        seek=seek,
    )
    sections.append(s); problems += p

    df, *seek = seek_audit(index, lambda: index.dis_max(
        ["the scan", "data model"], k=10, tie_breaker=0.3
    ))
    s, p = audit(
        "dis_max multi-clause plan (r3 compound scoring)",
        df, {**EXECUTOR_PLAN, "cartesian": False},
        "ONE executor seek covers every clause's terms; per shard the "
        "kernel computes each clause's sums and max-combines — no second "
        "read per clause, no cartesian.",
        seek=seek,
    )
    sections.append(s); problems += p

    s, p = audit(
        "constant_score filter plan (r3 compound scoring)",
        index.constant_score(k=10, filters={"lang": "py"}),
        {
            "pushed_filter": True, "codegen": True, "grouped_map": False,
            "arrow_eval": False,
        },
        "Pure Catalyst over the attrs table: the filter reaches the "
        "Parquet scan as PushedFilters, postings are never read, and no "
        "Python stage exists anywhere in the plan — a filter-only query "
        "costs a pruned columnar scan plus a top-k, nothing else.",
    )
    sections.append(s); problems += p

    df, *seek = seek_audit(
        index, lambda: index.fuzzy_term_search("scen", k=10, max_edits=1)
    )
    s, p = audit(
        "fuzzy_term_search expansion plan (r3)",
        df, {**EXECUTOR_PLAN, "cartesian": False},
        "The expansion runs where the dictionary lives: on the driver, "
        "over the resident term-sorted table (prefix range, length band, "
        "one batched Levenshtein DP), with no Spark job; the matched terms "
        "then go to the executor seek, which reads only their row groups "
        "(term-sorted files, footer-stat pruning) and only the doc-id "
        "columns (term, n_docs, docs_enc), exactly like an exact term "
        "query. Merge: doc_id ASC TakeOrderedAndProject.",
        seek=seek,
    )
    sections.append(s); problems += p

    s, p = audit(
        "search_highlighted snippet plan (r3)",
        index.search_highlighted("the scan", docs, k=10, source_text_col="text"),
        {"broadcast": True, "cartesian": False, "explode": True},
        "Snippets tokenize ONLY the k hit docs: the hit ids broadcast into "
        "a semi-join against the source before the higher-order-function "
        "fragment projection. The Generate (explode-array barrier) must "
        "stay in the plan — it pins the token array to ONE evaluation per "
        "row; without it CollapseProject re-inlines tokenize under the "
        "HOF lambdas and the fragment step goes O(tokens^2) per doc.",
    )
    sections.append(s); problems += p

    s, p = audit(
        "search_after keyset page plan (r3)",
        index.search("the scan", k=10, search_after=(2.0, 100)),
        {"take_ordered": True, "cartesian": False},
        "Keyset cursor: each shard's executor task filters on the "
        "rounded (score, doc_id) tuple INSIDE the scorer and returns only "
        "its local top-k past the cursor, restated as a Catalyst Filter "
        "above the RDD scan of those rows — the merge stays O(shards x k) "
        "at any page depth (offset pages grow every shard's window to "
        "k+offset instead).",
    )
    sections.append(s); problems += p

    df, *seek = seek_audit(
        index, lambda: index.collapse_search("the scan", "lang", k=5)
    )
    s, p = audit(
        "collapse_search field-collapsing plan (r3)",
        df, {**EXECUTOR_PLAN, "window": True, "cartesian": False},
        "Each shard's task emits its per-key best capped at its local "
        "top-k keys (exact by pigeonhole even though keys span shards), "
        "joining the key column from its own attrs files, so the "
        "key-partitioned Window re-collapse and the TakeOrderedAndProject "
        "merge see O(shards x k) rows, never the match set. One task "
        "(Coalesce 1) already satisfies the Window's partitioning: no "
        "Exchange.",
        seek=seek,
    )
    sections.append(s); problems += p

    df, *seek = seek_audit(index, lambda: index.top_hits_agg(
        "the scan", "lang", k_per_group=2, n_groups=3
    ))
    s, p = audit(
        "top_hits terms-bucket plan (one read of the per-shard stage)",
        df, {"take_ordered": True, "grouped_map": False, "window": False,
             "single_partition": False, "broadcast": False,
             "explode": True, "cartesian": False},
        "The executor tasks' per-shard top-j rows are read ONCE: one "
        "groupBy(key) keeps each key's best score and its sorted, "
        "sliced top-j hits (collect_list), orderBy().limit(n_groups) "
        "(TakeOrderedAndProject) picks the winning keys and their hits "
        "explode back into rows — no Window, no self-join (one `Scan "
        "ExistingRDD`) and no partition-less sort of the O(distinct "
        "group keys) frame of a hot query (Exchange SinglePartition "
        "absent).",
        seek=seek, scans=1,
    )
    sections.append(s); problems += p

    # multi-field: two sub-indexes over the same docs/shard split
    from librecatastro_spark.engine.multifield import MultiFieldIndex

    mf_dir = os.path.join(work, "mf_idx")
    mf = MultiFieldIndex.build(
        spark, docs, mf_dir, fields=("text", "source"),
        n_shards=4, block_size=32,
    )
    df, *seek = seek_audit(
        mf.sub[mf.fields[0]],
        lambda: mf.multi_match("the src3", k=10, tie_breaker=0.3),
    )
    s, p = audit(
        "multi_match shard-local combine plan (r3)",
        df, {**EXECUTOR_PLAN, "cartesian": False},
        "ONE executor seek plan spans the sub-indexes (a seek line per "
        "field): they share the doc-id range split, so each shard's task "
        "reads that shard's blocks of every field, tagged `_field`, and "
        "the cross-field combine (max/sum of per-field BM25) happens "
        "inside the per-shard kernel (one task for a small query), exact "
        "post-combine top-k, TakeOrderedAndProject merge.",
        seek=seek,
    )
    sections.append(s); problems += p

    from librecatastro_spark.ops.chunk import chunk_documents

    s, p = audit(
        "doc chunking fan-out plan (r3)",
        chunk_documents(docs, max_tokens=40, overlap=8, text_col="text"),
        {"explode": True, "exchange": False, "cartesian": False},
        "Overlapping token windows are pure per-row fan-out: tokenize "
        "behind the Generate barrier, sequence+slice per chunk — NO "
        "Exchange anywhere; output inherits the corpus partitioning, "
        "which is what a 100 TB packing pass needs.",
    )
    sections.append(s); problems += p

    from librecatastro_spark.ops.text import unigram_logprob

    s, p = audit(
        "unigram-LM scoring plan (r3)",
        unigram_logprob(docs, text_col="text"),
        {"broadcast": True, "cartesian": False},
        "The vocab-sized corpus-frequency table broadcasts into the "
        "token-explode scan (BroadcastHashJoin); the only shuffle is the "
        "doc-keyed mean with map-side partial aggregation.",
    )
    sections.append(s); problems += p

    emb_path = f"{sf_dir}/embeddings.parquet"
    if os.path.exists(emb_path):
        from librecatastro_spark.ops.similarity import embedding_near_dup_banded

        s, p = audit(
            "Embedding near-dup, banded-LSH path (r2 scale fix)",
            embedding_near_dup_banded(spark.read.parquet(emb_path), 0.4),
            {"cartesian": False},
            "Candidates come from an equi-self-join on (band_idx, "
            "band_val) — NO cartesian product anywhere in the plan "
            "(round 1 gated the brute-force cross join).",
        )
        sections.append(s); problems += p

    from librecatastro_spark.ops.dedup import minhash_lsh_pairs

    s, p = audit(
        "MinHash-LSH near-dup (band equi-join + explode-barrier signature, r3)",
        minhash_lsh_pairs(docs),
        {"cartesian": False, "explode": True},
        "Candidates come from an equi-self-join on (band, key) — no "
        "cartesian anywhere. The signature array is materialized behind an "
        "explode(array(...)) barrier (Generate present) so the 16 mh "
        "columns are attribute indexings, not 16 re-inlined copies of the "
        "tokenize→shingle→md5 pipeline (the r3 O(tokens²) fix).",
    )
    sections.append(s); problems += p

    from librecatastro_spark.ops.pipeline import training_data_pipeline

    s, p = audit(
        "Composed training-data curation pipeline (r3)",
        training_data_pipeline(docs),
        {"cartesian": False, "window": True, "broadcast": True},
        "lang-ID + quality filters fold into the scan projection; exact "
        "dedup is one hash-partitioned Window (min doc_id per "
        "fingerprint); near-dup candidates come from the LSH band "
        "equi-join (no cartesian); the final drop-set anti-join is an "
        "explicit broadcast.",
    )
    sections.append(s); problems += p

    from librecatastro_spark.ops.decontaminate import decontaminate

    s, p = audit(
        "Benchmark decontamination plan (r3)",
        decontaminate(docs, docs.where(F.col("doc_id") % 97 == 0),
                      text_col="text", n=5),
        {"broadcast": True, "cartesian": False, "explode": True},
        "The eval slice's distinct n-grams BROADCAST into the corpus-side "
        "n-gram explode as a LeftSemi BroadcastHashJoin — the corpus is "
        "never shuffled on the join key; the only corpus-keyed exchange "
        "is the per-doc hit-count aggregate (map-side combined).",
    )
    sections.append(s); problems += p

    from librecatastro_spark.ops.text import repetition_signals

    s, p = audit(
        "Gopher repetition signals plan (r3)",
        repetition_signals(docs, text_col="text"),
        {"exchange": False, "explode": False, "cartesian": False},
        "Both signals are per-row Catalyst expressions — the top-bigram "
        "multiplicity is a sorted-run fold over the row's own bigram "
        "array (max run of equal neighbours == max multiplicity), so the "
        "plan is a bare scan projection: NO Exchange, NO Generate. The "
        "explode→groupBy(doc,bigram)→groupBy(doc) alternative would cost "
        "two corpus-sized shuffles.",
    )
    sections.append(s); problems += p

    from librecatastro_spark.ops.pii import redact_pii

    s, p = audit(
        "PII redaction plan (r3)",
        redact_pii(docs, text_col="text"),
        {"exchange": False, "codegen": True, "cartesian": False},
        "Sequential regexp_count/regexp_replace passes are JVM intrinsics "
        "in one codegen'd scan projection — shuffle-free, Python-free.",
    )
    sections.append(s); problems += p

    df, *seek = seek_audit(
        index, lambda: index.composite_agg("the scan", "lang", size=4, after="a")
    )
    s, p = audit(
        "composite agg keyset page plan (r3)",
        df, {**EXECUTOR_PLAN, "cartesian": False},
        "The after-cursor filters keys INSIDE the per-shard combine of "
        "the executor tasks (key predicates commute with sum-by-key), so "
        "the reduce sees only post-cursor keys and the page cut is a "
        "TakeOrderedAndProject, never a full sort. One task (Coalesce 1) "
        "already satisfies the reduce's partitioning: no Exchange.",
        seek=seek,
    )
    sections.append(s); problems += p

    geo_dir = os.path.join(work, "geo_idx")
    geo_docs = docs.withColumn(
        "lon", (F.col("doc_id") % 720) / 2.0 - 180.0
    ).withColumn("lat", ((F.col("doc_id") * 7) % 360) / 2.0 - 90.0)
    build_index(
        spark, geo_docs, geo_dir, id_col="doc_id", text_col="text",
        attr_cols=("lon", "lat"), n_shards=4, shards_per_job=4,
        salt_threshold=10_000, n_salts=4, resume=False,
    )
    geo_index = CompressedIndex(spark, geo_dir)
    df, *seek = seek_audit(geo_index, lambda: geo_index.search(
        "the scan", k=10, geo=("lon", "lat", 0.0, 0.0, 2_000_000.0)
    ))
    s, p = audit(
        "geo_distance-FILTERED WAND query (r4)",
        df, {**EXECUTOR_PLAN, "cartesian": False},
        "The conservative radius bbox is four plain comparisons pushed to "
        "each shard's pyarrow attrs scan (row-group min/max pruning "
        "eliminates most row groups before any trig); the exact haversine "
        "re-check runs in numpy on the bbox survivors inside the task, "
        "and the scorer sees only surviving doc ids. Merge is "
        "TakeOrderedAndProject.",
        seek=seek,
    )
    sections.append(s); problems += p

    df, *seek = seek_audit(geo_index, lambda: geo_index.search(
        "the scan", k=10,
        geo=("lon", "lat",
             [(-60.0, -40.0), (80.0, -30.0), (70.0, 60.0), (-50.0, 50.0)]),
    ))
    s, p = audit(
        "geo_polygon-FILTERED WAND query (r5)",
        df, {**EXECUTOR_PLAN, "cartesian": False, "arrow_eval": False},
        "The vertex bbox is four plain comparisons pushed to each shard's "
        "pyarrow attrs scan; ONLY the bbox survivors go through the numpy "
        "ray-cast re-check inside the task (no ArrowEvalPython: nothing "
        "crosses a JVM→Python boundary), and the scorer sees only "
        "surviving doc ids. Merge is TakeOrderedAndProject.",
        seek=seek,
    )
    sections.append(s); problems += p

    s, p = audit(
        "Shard partition pruning (resume-unit read)",
        index.postings.where(F.col("shard") == 2),
        {"pushed_filter": False, "codegen": True, "exchange": False},
        "shard is a PARTITION column: the predicate prunes directories at "
        "planning time (PartitionFilters), never reaching row filters.",
    )
    sections.append(s); problems += p

    s, p = audit(
        "Bounded probe loop (A19 — closed-form window, r3)",
        __import__(
            "librecatastro_spark.ops.probe", fromlist=["bounded_probe_scan"]
        ).bounded_probe_scan(docs.select("lang", "n_chars"), "lang", "n_chars"),
        {"window": True, "explode": False},
        "Probe-until-k-consecutive-misses is two window functions over the "
        "PRESENT values (O(rows), one hash partition by key) — no "
        "sequence()+explode materialization of the probe space, which at "
        "100 TB would generate billions of phantom probe rows (Generate "
        "absent).",
    )
    sections.append(s); problems += p

    from librecatastro_spark.ops.dedup import dedup_paragraphs

    s, p = audit(
        "Paragraph-level dedup plan (r3)",
        dedup_paragraphs(docs, para_tokens=3, min_df=2),
        {"broadcast": True, "cartesian": False, "explode": True},
        "Paragraph df counts are one map-side-combinable groupBy over the "
        "exploded paragraphs; the duplicate SET (df >= min_df — a tiny "
        "fraction of distinct paragraphs) is explicitly BROADCAST back, "
        "so the removal pass is a broadcast-hash probe, not a "
        "corpus-keyed equi-join on paragraph text; the rebuild is one "
        "doc-keyed shuffle.",
    )
    sections.append(s); problems += p

    from librecatastro_spark.ops.chunk import pack_sequences

    s, p = audit(
        "Sequence packing plan (r3)",
        pack_sequences(docs, budget=200, n_buckets=8, text_col="text"),
        {"window": True, "explode": False, "cartesian": False},
        "Cumulative-token packing is BUCKET-PARALLEL: one shuffle on the "
        "hash bucket, then a per-bucket running-sum Window ordered by "
        "doc_id — no single global window serializing the corpus through "
        "one partition, and no Generate (token counts come from size(), "
        "never an exploded token table).",
    )
    sections.append(s); problems += p

    from librecatastro_spark.ops.sampling import stratified_sample

    s, p = audit(
        "Stratified sampling plan (r3)",
        stratified_sample(docs, {"py": 0.5, "md": 0.25}),
        {"exchange": False, "codegen": True, "cartesian": False},
        "The md5-bucket survival test is a pure scan-projection filter "
        "(md5/conv/CASE are codegen intrinsics) — shuffle-free, "
        "Python-free, deterministic at any parallelism.",
    )
    sections.append(s); problems += p

    # broadcast evidence: stage-2 stats join
    staged = spark.read.parquet(os.path.join(idx_dir, "_stage", "postings"))
    tstats = load_term_stats(spark, idx_dir)
    s, p = audit(
        "Stage-2 df-per-term join (build path)",
        staged.join(F.broadcast(tstats.select("term", "df")), "term"),
        {"broadcast": True},
        "Vocabulary-sized stats side is explicitly broadcast — no shuffle "
        "of the full postings for the join.",
    )
    sections.append(s); problems += p

    header = [
        "# PLANS — physical-plan audit (generated by tools/explain_audit.py)",
        "",
        f"Input: `{sf_dir}`. Every section greps the formatted plan for the",
        "scale-critical properties and marks violations with `!!`.",
        "",
        ("**ALL CHECKS PASS.**" if not problems else
         "**VIOLATIONS:** " + "; ".join(problems)),
        "",
    ]
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(header) + "\n"
                 + "\n".join(stable(s, work) for s in sections))
    print("PLANS.md written;", "OK" if not problems else f"problems: {problems}")
    shutil.rmtree(work, ignore_errors=True)
    return 0 if not problems else 1


if __name__ == "__main__":
    raise SystemExit(main())
