"""Randomized differential test of the three routes across index states.

For seeded random queries drawn from the corpus vocabulary and its
token sequences, the distributed result (executor tasks), the
coordinator ``_local`` twin and ``ExactBM25`` give the same ranked
(doc_id, score) list for ``search`` (plain, ``filters``, ``prefix``,
``must_not`` and the ``search_after`` page behind each), ``match_phrase``
with slop, ``match_phrase_prefix`` and ``term_prefix_search``, on a
fresh index, after ``append_batch`` + ``refresh()`` (the appended
posting files must enter the seek plan) and after ``delete_batch`` +
``refresh()``.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from librecatastro_spark.corpus import assign_doc_ids, generate_corpus
from librecatastro_spark.engine import ExactBM25
from librecatastro_spark.engine.wand import CompressedIndex
from librecatastro_spark.index.builder import build_index
from librecatastro_spark.streaming.incremental import append_batch, delete_batch

ATTRS = ("repo", "path", "lang")


def dist(df) -> list:
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def local(pdf) -> list:
    return list(zip(map(int, pdf["doc_id"]), map(float, pdf["score"])))


def draw(rng: random.Random, ix: CompressedIndex, live: list) -> dict:
    """One seeded query per shape: terms from the resident vocabulary
    (df >= 2, so most queries match), phrases cut from a live document's
    analyzed token sequence, filter values from the live attrs."""
    vocab = ix._dict.term[ix._dict.df >= 2].tolist()
    doc = rng.choice([r for r in live if len(ix._analyze(r["content"])) >= 4])
    toks = ix._analyze(doc["content"])
    i = rng.randrange(len(toks) - 3)
    words = " ".join(rng.sample(vocab, 3))
    return {
        "plain": dict(text=words),
        "filters": dict(text=words, filters={
            "lang": rng.choice(sorted({r["lang"] for r in live}))
        }),
        "prefix": dict(text=words, prefix=(
            "path", rng.choice(sorted({r["path"][:3] for r in live}))
        )),
        "must_not": dict(text=words, must_not_text=rng.choice(vocab)),
        "phrase": (f"{toks[i]} {toks[i + 2]}", 1),
        "phrase_prefix": f"{toks[i]} {toks[i + 1][:2]}",
        "term_prefix": rng.choice(vocab)[:2],
    }


def check_state(ix: CompressedIndex, live, seed: int) -> None:
    exact = ExactBM25(live, attr_cols=ATTRS, cache=True)
    q = draw(random.Random(seed), ix, live.select("content", "lang", "path").collect())
    k = 8
    for shape in ("plain", "filters", "prefix", "must_not"):
        kw = q[shape]
        d = dist(ix.search(k=k, **kw))
        assert d == local(ix.search_local(k=k, **kw)), shape
        assert d == dist(exact.search(k=k, **kw)), shape
        if d:
            after = (d[-1][1], d[-1][0])
            page = dist(ix.search(k=k, search_after=after, **kw))
            assert page == local(ix.search_local(k=k, search_after=after, **kw)), shape
            assert page == dist(exact.search(k=k, search_after=after, **kw)), shape
    text, slop = q["phrase"]
    d = dist(ix.match_phrase(text, k=k, slop=slop))
    assert d and d == local(ix.match_phrase_local(text, k=k, slop=slop))
    assert d == dist(exact.match_phrase(text, k=k, slop=slop))
    text = q["phrase_prefix"]
    d = dist(ix.match_phrase_prefix(text, k=k))
    assert d and d == local(ix.match_phrase_prefix_local(text, k=k))
    assert d == dist(exact.match_phrase_prefix(text, k=k))
    # the empty prefix reads every posting file: exactly the live docs
    ids = sorted(r["doc_id"] for r in live.select("doc_id").collect())
    assert [i for i, _ in dist(ix.term_prefix_search("", k=1000))] == ids
    p = q["term_prefix"]
    d = dist(ix.term_prefix_search(p, k=k))
    assert d and d == local(ix.match_phrase_prefix_local(p, k=k))
    assert d == dist(exact.term_prefix_search(p, k=k))


def test_routes_agree_on_every_index_state(spark, tmp_path):
    docs = assign_doc_ids(generate_corpus(
        spark, 400, min_tokens=20, max_tokens=150, partitions=4
    )).cache()
    out = str(tmp_path / "diffidx")
    build_index(
        spark, docs.where(F.col("doc_id") < 300), out, attr_cols=ATTRS,
        n_shards=4, block_size=16, salt_threshold=120, n_salts=4,
        index_options="positions",
    )
    ix = CompressedIndex(spark, out)
    check_state(ix, docs.where(F.col("doc_id") < 300), seed=11)

    files_before = {h[0] for h in ix._files()[0]}
    append_batch(spark, out, docs.where(F.col("doc_id") >= 300))
    ix.refresh()
    assert {h[0] for h in ix._files()[0]} != files_before  # the new files
    check_state(ix, docs, seed=12)

    deleted = list(range(10, 30))  # one shard's id range: one shard rewritten
    assert delete_batch(spark, out, deleted) == len(deleted)
    ix.refresh()
    check_state(ix, docs.where(~F.col("doc_id").isin(deleted)), seed=13)
