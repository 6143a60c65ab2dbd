"""Positional postings (index_options="positions") — exactness gates.

The phrase engine (CompressedIndex.match_phrase / match_phrase_prefix and
their coordinator twins, engine/positions.py) must be RANK-IDENTICAL to
ExactBM25's phrase queries over the same corpus, for every phrase shape:
hot bigrams, selective phrases, repeated terms, slop > 0, absent terms.
The position codec must round-trip arbitrary ascending streams, and a
default ("freqs") index must refuse phrase queries rather than silently
mis-answer.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from librecatastro_spark.corpus import assign_doc_ids, generate_corpus
from librecatastro_spark.engine import ExactBM25
from librecatastro_spark.engine.wand import CompressedIndex
from librecatastro_spark.index.builder import build_index
from librecatastro_spark.index.codec import (
    decode_positions,
    encode_positions_bulk,
)


@pytest.fixture(scope="module")
def corpus(spark):
    docs = generate_corpus(spark, 400, min_tokens=20, max_tokens=150, partitions=4)
    return assign_doc_ids(docs).cache()


@pytest.fixture(scope="module")
def exact(corpus):
    return ExactBM25(corpus, attr_cols=("repo", "path", "lang"), cache=True)


@pytest.fixture(scope="module")
def pidx(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("posidx"))
    build_index(
        spark, corpus, out, attr_cols=("repo", "path", "lang"),
        n_shards=4, block_size=16, salt_threshold=120, n_salts=4,
        index_options="positions",
    )
    return CompressedIndex(spark, out)


@pytest.fixture(scope="module")
def fidx(spark, corpus, tmp_path_factory):
    """The same corpus built without positions (the default "freqs")."""
    out = str(tmp_path_factory.mktemp("fidx"))
    build_index(
        spark, corpus, out, attr_cols=("repo",),
        n_shards=2, block_size=16, salt_threshold=120, n_salts=4,
    )
    return CompressedIndex(spark, out)


def rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def lrows(pdf):
    return list(zip(pdf["doc_id"].tolist(), pdf["score"].tolist()))


def tuples(df):
    return [tuple(r) for r in df.collect()]


# ---------------------------------------------------------------- codec --

def test_position_codec_roundtrip():
    rng = np.random.default_rng(7)
    for _ in range(20):
        n_rows = int(rng.integers(1, 40))
        counts, vals = [], []
        for _r in range(n_rows):
            c = int(rng.integers(1, 12))
            # strictly ascending positions per row, arbitrary magnitudes
            p = np.cumsum(rng.integers(1, 1000, size=c)) + int(
                rng.integers(0, 10)
            )
            counts.append(c)
            vals.append(p)
        counts = np.array(counts, dtype=np.int64)
        flat = np.concatenate(vals)
        starts = np.cumsum(counts) - counts
        encoded = encode_positions_bulk(flat, starts)
        assert len(encoded) == n_rows
        # concatenated row slices decode back with per-row delta reset
        got = decode_positions(b"".join(encoded), counts)
        np.testing.assert_array_equal(got, flat)
        # any contiguous subsequence of rows decodes independently
        a, b = sorted(rng.integers(0, n_rows + 1, size=2))
        if a < b:
            got_ab = decode_positions(b"".join(encoded[a:b]), counts[a:b])
            np.testing.assert_array_equal(
                got_ab, np.concatenate(vals[a:b])
            )


def test_position_codec_rejects_nonascending():
    with pytest.raises(ValueError):
        encode_positions_bulk(
            np.array([3, 3], dtype=np.int64), np.array([0], dtype=np.int64)
        )


# ----------------------------------------------------- rank identity -----

PHRASES = [
    ("def return", 0),
    ("spark session builder", 0),
    ("return return", 0),          # repeated term: adjacency required
    ("import def", 0),
    ("def return", 1),
    ("def return", 2),
    ("spark session", 3),
]


@pytest.mark.parametrize("phrase,slop", PHRASES)
def test_positional_matches_verify_first(pidx, exact, phrase, slop):
    ex = rows(exact.match_phrase(phrase, k=10_000, slop=slop))
    po = rows(pidx.match_phrase(phrase, k=10_000, slop=slop))
    assert po == ex
    lo = lrows(pidx.match_phrase_local(phrase, k=10_000, slop=slop))
    assert lo == ex


def test_positional_topk_and_offset(pidx, exact):
    phrase = "def return"
    full = rows(exact.match_phrase(phrase, k=20))
    assert rows(pidx.match_phrase(phrase, k=20)) == full
    assert rows(pidx.match_phrase(phrase, k=5, offset=5)) == full[5:10]
    assert lrows(pidx.match_phrase_local(phrase, k=5, offset=5)) == full[5:10]


def test_positional_single_term_equals_term_match(pidx):
    """A one-term 'phrase' is just the term match (require_all on one
    term) — the contract ExactBM25.match_phrase has too."""
    po = rows(pidx.match_phrase_positional("def", k=50))
    se = [
        (r["doc_id"], r["score"])
        for r in pidx.search("def", k=50, require_all=True).collect()
    ]
    assert po == se


def _disjoint_pair(ix: CompressedIndex) -> tuple[str, str]:
    """Two indexed terms whose posting doc ranges do not overlap, and no
    term starting with the second overlaps the first's range either."""
    spans = ix.postings.groupBy("term").agg(
        F.min("first_doc_id").alias("lo"), F.max("last_doc_id").alias("hi")
    ).collect()
    first = min(spans, key=lambda r: (r["hi"], r["term"]))
    later = next(
        r["term"] for r in sorted(spans, key=lambda r: r["term"])
        if all(s["lo"] > first["hi"] for s in spans if s["term"].startswith(r["term"]))
    )
    return first["term"], later


def test_positional_absent_term_empty(pidx, exact):
    assert rows(pidx.match_phrase_positional("def zzznotindexed")) == []
    assert lrows(pidx.match_phrase_local("def zzznotindexed")) == []
    # both terms indexed, but no doc can hold both: every shard's kernel
    # runs out of overlapping blocks before verify
    first, later = _disjoint_pair(pidx)
    text = f"{first} {later}"
    assert pidx._analyze(text) == [first, later]
    assert rows(pidx.match_phrase(text)) == []
    assert lrows(pidx.match_phrase_local(text)) == []
    assert rows(pidx.match_phrase_prefix(text)) == []
    assert lrows(pidx.match_phrase_prefix_local(text)) == []
    assert rows(exact.match_phrase(text)) == []


def test_positional_rejects_empty_phrase(pidx):
    with pytest.raises(ValueError):
        pidx.match_phrase_positional("!!!")


def test_freqs_index_refuses_positional(fidx):
    assert fidx.meta.index_options == "freqs"
    with pytest.raises(ValueError):
        fidx.match_phrase_positional("def return")
    # and the pos_enc column of a freqs build is all-null (no dead bytes)
    nn = (
        fidx.postings.where(F.col("pos_enc").isNotNull()).limit(1).count()
    )
    assert nn == 0


def test_append_preserves_positions(spark, corpus, tmp_path_factory):
    """append_batch to a positional index must carry positions for the
    appended docs (and rebuilt shards), so phrase queries stay identical
    to a fresh positional build of the combined corpus."""
    from librecatastro_spark.streaming.incremental import append_batch

    base = corpus.where(F.col("doc_id") < 300)
    extra = corpus.where(F.col("doc_id") >= 300)
    out = str(tmp_path_factory.mktemp("apposidx"))
    build_index(
        spark, base, out, attr_cols=("repo", "path", "lang"),
        n_shards=4, block_size=16, salt_threshold=120, n_salts=4,
        index_options="positions",
    )
    n = append_batch(spark, out, extra)
    assert n == extra.count()
    idx = CompressedIndex(spark, out)
    ref = str(tmp_path_factory.mktemp("refposidx"))
    build_index(
        spark, corpus, ref, attr_cols=("repo", "path", "lang"),
        n_shards=4, block_size=16, salt_threshold=120, n_salts=4,
        index_options="positions",
    )
    fresh = CompressedIndex(spark, ref)
    for phrase, slop in (("def return", 0), ("def return", 1)):
        a = rows(idx.match_phrase_positional(phrase, k=10_000, slop=slop))
        b = rows(fresh.match_phrase_positional(phrase, k=10_000, slop=slop))
        # FULL (doc_id, score) row equality: append merges term stats, so
        # df/cf/avgdl — and therefore every BM25 weight — must equal the
        # fresh build's exactly; a set-only check would let score/rank
        # drift after append_batch go undetected (r3 ADVICE)
        assert a == b and a


def test_coordinator_phrase_after_append_moves_shard_ranges(
    spark, corpus, exact, tmp_path_factory
):
    """A 100-doc, 4-shard positional index grown to 400 docs by
    ``append_batch`` moves the range boundaries, so the shards' doc-id
    ranges interleave (shard 2 holds docs 50-74 and 100-...). The
    coordinator phrase kernels, which see every shard's blocks at once,
    still equal the exact engine, as the distributed ones do."""
    from librecatastro_spark.streaming.incremental import append_batch

    out = str(tmp_path_factory.mktemp("interleaved"))
    build_index(spark, corpus.where(F.col("doc_id") < 100), out,
                n_shards=4, block_size=16, index_options="positions")
    append_batch(spark, out, corpus.where(F.col("doc_id") >= 100))
    idx = CompressedIndex(spark, out)
    for phrase in ("def return", "if return", "class return"):
        want = rows(exact.match_phrase(phrase, k=10_000))
        assert rows(idx.match_phrase(phrase, k=10_000)) == want and want
        assert lrows(idx.match_phrase_local(phrase, k=10_000)) == want, phrase
    for q in ("def re", "import d"):
        want = rows(exact.match_phrase_prefix(q, k=10_000))
        assert lrows(idx.match_phrase_prefix_local(q, k=10_000)) == want and want


# ------------------------------------------- match_phrase_prefix (r4) ----

PREFIX_QUERIES = [
    "def re",       # hot complete term + hot prefix
    "spark sessio", # selective: exactly one matching doc
    "import d",
    "def return",   # prefix == a complete indexed term
    "return retu",  # repeated-stem: complete term also matches pfx
]


@pytest.mark.parametrize("q", PREFIX_QUERIES)
def test_phrase_prefix_positional_matches_verify_first(pidx, exact, q):
    """The index-only type-ahead path must be RANK-IDENTICAL to
    ExactBM25.match_phrase_prefix (scores included — both score BM25
    require_all over the complete terms only); the coordinator twin
    (match_phrase_prefix_local) likewise."""
    ex = rows(exact.match_phrase_prefix(q, k=10_000))
    po = rows(pidx.match_phrase_prefix(q, k=10_000))
    assert po == ex and ex
    lo = lrows(pidx.match_phrase_prefix_local(q, k=10_000))
    assert lo == ex


def test_phrase_prefix_local_single_token_and_offset(pidx):
    a = lrows(pidx.match_phrase_prefix_local("retu", k=15))
    b = rows(pidx.term_prefix_search("retu", k=15))
    assert a == b and a
    full = rows(pidx.match_phrase_prefix_positional("def re", k=20))
    assert lrows(pidx.match_phrase_prefix_local("def re", k=5, offset=5)) == full[5:10]


def test_phrase_prefix_positional_topk_offset_and_edges(pidx, exact):
    full = rows(exact.match_phrase_prefix("def re", k=20))
    assert rows(pidx.match_phrase_prefix_positional("def re", k=20)) == full
    assert (
        rows(pidx.match_phrase_prefix_positional("def re", k=5, offset=5))
        == full[5:10]
    )
    # single token routes to term_prefix_search (constant score, id ASC)
    a = rows(pidx.match_phrase_prefix_positional("retu", k=15))
    b = rows(pidx.term_prefix_search("retu", k=15))
    assert a == b and a
    # absent complete term / absent prefix -> empty
    assert rows(pidx.match_phrase_prefix_positional("zzznope re")) == []
    assert rows(pidx.match_phrase_prefix_positional("def zzznope")) == []
    with pytest.raises(ValueError):
        pidx.match_phrase_prefix_positional("!!!")


def test_freqs_index_refuses_phrase_prefix_positional(fidx):
    with pytest.raises(ValueError):
        fidx.match_phrase_prefix_positional("def re")


def test_phrase_queries_take_no_source_and_need_positions(pidx, fidx, exact):
    """``match_phrase`` / ``match_phrase_prefix`` answer from the index
    alone: on a positions index they equal ExactBM25 with no source
    table argument; on a freqs index every phrase entry point refuses
    with a ValueError naming index_options='positions' (the ES
    contract: no PhraseQuery on a field indexed without positions)."""
    for q in ("def return", "spark session builder"):
        assert rows(pidx.match_phrase(q, k=10)) == rows(
            exact.match_phrase(q, k=10)
        )
    ex = rows(exact.match_phrase_prefix("def re", k=10))
    assert rows(pidx.match_phrase_prefix("def re", k=10)) == ex and ex
    assert CompressedIndex.match_phrase_positional is CompressedIndex.match_phrase
    assert (
        CompressedIndex.match_phrase_prefix_positional
        is CompressedIndex.match_phrase_prefix
    )
    for call in (
        lambda: fidx.match_phrase("def return", k=10),
        lambda: fidx.match_phrase_prefix("def re", k=10),
        lambda: fidx.match_phrase_local("def return", k=10),
        lambda: fidx.match_phrase_prefix_local("def re", k=10),
    ):
        with pytest.raises(ValueError, match="index_options='positions'"):
            call()


def test_positional_build_is_rank_identical_on_keyword_queries(pidx, spark):
    """Positions must not perturb the non-phrase query surface: BM25
    top-k over the positional index equals the same query over a freqs
    index of the same corpus (same params) — asserted via the exact
    scorer's contract queries on both paths."""
    a = rows(pidx.search("def return", k=10))
    b = lrows(pidx.search_local("def return", k=10))
    assert a == b


def test_single_token_type_ahead_offset_pages(pidx, exact):
    """r5 regression: the single-token routes of the type-ahead paths
    must THREAD their offset (they silently dropped it, so page 2
    repeated page 1). All pages tile against the un-paged prefix
    contract (constant score 1.0, doc_id ASC), ExactBM25's included."""
    full = rows(pidx.term_prefix_search("re", k=20))
    assert len(full) > 10
    want = full[5:10]
    assert rows(pidx.term_prefix_search("re", k=5, offset=5)) == want
    assert rows(
        pidx.match_phrase_prefix_positional("re", k=5, offset=5)
    ) == want
    assert lrows(pidx.match_phrase_prefix_local("re", k=5, offset=5)) == want
    assert rows(exact.match_phrase_prefix("re", k=5, offset=5)) == want


def test_phrase_local_volume_routing(pidx, monkeypatch):
    """Cost-based routing (r5): the coordinator phrase twins route to
    the distributed kernel when the estimated decode volume exceeds
    ``_PHRASE_LOCAL_MAX_POSTINGS`` — results identical on BOTH routes at
    every threshold, so only latency ever changes."""
    want = lrows(pidx.match_phrase_local("def return", k=25))
    want_pp = lrows(pidx.match_phrase_prefix_local("def re", k=25))
    for cap in (0, 1_000_000_000):
        monkeypatch.setattr(CompressedIndex, "_PHRASE_LOCAL_MAX_POSTINGS", cap)
        assert lrows(pidx.match_phrase_local("def return", k=25)) == want
        assert lrows(
            pidx.match_phrase_prefix_local("def re", k=25)
        ) == want_pp
    monkeypatch.undo()
    # the estimator is candidate-share × total occurrences
    # ((min df / N) × Σ cf): a hot-hot phrase estimates far above a
    # hot+rare one (the rare candidates skip the hot blocks), and an
    # unindexed term estimates 0 (empty result, instant local answer)
    hot = pidx._phrase_decode_estimate(["def", "return"])
    mixed = pidx._phrase_decode_estimate(["def", "spark"])
    assert 0 < mixed < hot
    assert pidx._phrase_decode_estimate(["def", "zzznotindexed"]) == 0


def test_non_resident_dictionary_same_rows(spark, pidx, monkeypatch):
    """An index whose term dictionary is not resident (term_stats above
    ``_LOCAL_TERMSTATS_BYTES``) answers every scored shape, both phrase
    prefix twins, the match-set stages (no estimate: one task per
    shard) and every expansion query on both sites with the resident
    instance's rows — idfs, estimates and expansions then come from
    Spark scans of term_stats."""
    monkeypatch.setattr(CompressedIndex, "_LOCAL_TERMSTATS_BYTES", 0)
    cold = CompressedIndex(spark, pidx.out_dir)
    assert cold._dict is None and pidx._dict is not None
    try:
        for ix_rows, call, some in (
            (rows, lambda ix: ix.search("def return", k=15), True),
            (rows, lambda ix: ix.search(
                "def spark", k=10, must_not_text="merge", filters={"lang": "py"}
            ), True),
            (lrows, lambda ix: ix.search_local("def return", k=15, offset=3), True),
            (rows, lambda ix: ix.match_phrase("def return", k=15), True),
            (lrows, lambda ix: ix.match_phrase_local("def return", k=15), True),
            (lrows, lambda ix: ix.match_phrase_local("def zzznotindexed"), False),
            (lrows, lambda ix: ix.match_phrase_prefix_local("def re", k=15), True),
            (lrows, lambda ix: ix.match_phrase_prefix_local("re", k=15, offset=2), True),
            (rows, lambda ix: ix.fuzzy_term_search("retrn", k=50), True),
            (lrows, lambda ix: ix.fuzzy_term_search_local("retrn", k=5), True),
            (lrows, lambda ix: ix.wildcard_term_search_local("re*", k=20), True),
            (lrows, lambda ix: ix.regexp_term_search_local("(def|ret)[a-z]*", k=20), True),
            (tuples, lambda ix: ix.facet_counts("def return", "lang"), True),
            (rows, lambda ix: ix.function_score("def return", "doc_id", k=15), True),
        ):
            want = ix_rows(call(pidx))
            assert bool(want) == some
            assert ix_rows(call(cold)) == want
    finally:
        cold.term_stats.unpersist()
