"""A31 CLI dispatch, driven end-to-end (was "manual" in the round-2
verdict): every subcommand of ``python -m librecatastro_spark`` — build,
health, search, append, verify — run through ``main(argv)`` exactly as
argparse receives it from a shell, plus one true ``python -m`` subprocess
to prove the module entry point itself (reference dispatch analog:
libreCatastro.py:19-72).

In-process calls share the test SparkSession via get_spark's getOrCreate —
the CLI's own code path — so the suite pays one JVM, not six.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from librecatastro_spark.__main__ import main

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def cli_env(spark, tmp_path_factory):
    """A corpus parquet (with the content_sha256 attr the verify
    subcommand checks) and an index built FROM it via the CLI."""
    root = tmp_path_factory.mktemp("cli")
    corpus = str(root / "corpus.parquet")
    idx = str(root / "index")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    half = docs.where(F.col("doc_id") % 2 == 0)
    rest = docs.where(F.col("doc_id") % 2 == 1)
    for part, path in ((half, corpus), (rest, str(root / "batch.parquet"))):
        part.withColumn("content_sha256", F.sha2(F.col("text"), 256)).write.parquet(path)
    rc = main([
        "build", "--input", corpus, "--out", idx,
        "--text-col", "text", "--attr-cols", "lang,source,n_chars,content_sha256",
        "--shards", "4",
    ])
    assert rc == 0
    return {"corpus": corpus, "batch": str(root / "batch.parquet"), "index": idx}


def _json_lines(capsys) -> list[dict]:
    return [json.loads(l) for l in capsys.readouterr().out.splitlines()
            if l.startswith("{")]


def test_cli_build_is_resumable_noop(cli_env, capsys):
    # second build over a completed out_dir: resume path, same meta
    rc = main([
        "build", "--input", cli_env["corpus"], "--out", cli_env["index"],
        "--text-col", "text", "--attr-cols", "lang,source,n_chars,content_sha256",
        "--shards", "4",
    ])
    (out,) = _json_lines(capsys)[-1:]
    assert rc == 0 and out["n_shards"] == 4 and out["n_docs"] > 0


def test_cli_health(cli_env, capsys):
    rc = main(["health", "--input", cli_env["corpus"], "--text-col", "text"])
    (out,) = _json_lines(capsys)
    assert rc == 0
    assert out["n_docs"] > 0 and out["n_langs"] > 0 and out["avg_tokens"] > 0


def test_cli_search_matches_library(cli_env, spark, capsys):
    from librecatastro_spark.engine.wand import CompressedIndex

    rc = main([
        "search", "--index", cli_env["index"], "--text", "data model",
        "--k", "5", "--filter", "lang=en",
    ])
    got = [(r["doc_id"], r["score"]) for r in _json_lines(capsys)]
    assert rc == 0 and 0 < len(got) <= 5
    want = CompressedIndex(spark, cli_env["index"]).search(
        "data model", k=5, filters={"lang": "en"}
    ).collect()
    assert got == [(r["doc_id"], r["score"]) for r in want]


def test_cli_append_then_verify(cli_env, spark, capsys):
    rc = main([
        "append", "--index", cli_env["index"], "--input", cli_env["batch"],
        "--text-col", "text",
    ])
    (out,) = _json_lines(capsys)
    assert rc == 0 and out["docs_added"] > 0
    # corpus∪batch ↔ index sha invariant must hold after the append;
    # verify reads BOTH inputs, so point it at the parent glob via a view
    spark.read.parquet(cli_env["corpus"], cli_env["batch"]).createOrReplaceTempView(
        "cli_full_corpus"
    )
    rc = main([
        "verify", "--input", "cli_full_corpus", "--index", cli_env["index"],
        "--text-col", "text",
    ])
    (out,) = _json_lines(capsys)
    assert rc == 0 and out["ok"] is True and out["n_mismatch"] == 0


def test_cli_verify_detects_mismatch(cli_env, capsys):
    # the ORIGINAL corpus alone no longer matches the appended index
    # (index has extra docs) — verify must fail loudly, not pass vacuously
    rc = main([
        "verify", "--input", cli_env["corpus"], "--index", cli_env["index"],
        "--text-col", "text",
    ])
    (out,) = _json_lines(capsys)
    assert rc == 1 and out["ok"] is False and out["n_mismatch"] > 0


def test_cli_module_subprocess(cli_env):
    """The real ``python -m librecatastro_spark`` entry (own JVM)."""
    r = subprocess.run(
        [sys.executable, "-m", "librecatastro_spark", "--cores", "2",
         "search", "--index", cli_env["index"],
         "--text", "data model", "--k", "3"],
        capture_output=True, text=True, timeout=300,
        cwd=REPO, env={**os.environ, "PYTHONPATH": REPO},
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rows = [json.loads(l) for l in r.stdout.splitlines() if l.startswith("{")]
    assert 0 < len(rows) <= 3 and all("doc_id" in x and "score" in x for x in rows)


def test_cli_bad_filter_exits(cli_env):
    with pytest.raises(SystemExit):
        main(["search", "--index", cli_env["index"], "--text", "x",
              "--filter", "notakv"])


def test_cli_round3_query_surface(cli_env, spark, capsys):
    """phrase / fuzzy / mlt / highlight / search --fast / --search-after:
    each subcommand runs end-to-end and agrees with the library call."""
    idx, corpus = cli_env["index"], cli_env["corpus"]

    # a freqs index has no positions: phrase exits naming the build flag
    with pytest.raises(SystemExit, match="--index-options positions"):
        main(["phrase", "--index", idx, "--text", "data model", "--k", "5"])

    rc = main(["fuzzy", "--index", idx, "--term", "modell", "--k", "5"])
    assert rc == 0 and _json_lines(capsys) is not None

    some_doc = spark.read.parquet(corpus).first()["doc_id"]
    rc = main(["mlt", "--index", idx, "--input", corpus,
               "--doc-id", str(some_doc), "--k", "5", "--text-col", "text"])
    assert rc == 0
    capsys.readouterr()  # drain mlt output before the snippet check

    rc = main(["highlight", "--index", idx, "--input", corpus,
               "--text", "data model", "--k", "3", "--text-col", "text"])
    hl_rows = _json_lines(capsys)
    assert rc == 0 and all("snippet" in r for r in hl_rows) and hl_rows

    # keyset page 2 == offset page 2, and the fast path agrees
    rc = main(["search", "--index", idx, "--text", "data model", "--k", "3"])
    p1 = _json_lines(capsys)
    assert rc == 0 and p1
    cur = f"{p1[-1]['score']},{p1[-1]['doc_id']}"
    rc = main(["search", "--index", idx, "--text", "data model", "--k", "3",
               "--search-after", cur])
    page2 = _json_lines(capsys)
    rc2 = main(["search", "--index", idx, "--text", "data model", "--k", "3",
                "--offset", "3"])
    off2 = _json_lines(capsys)
    rc3 = main(["search", "--index", idx, "--text", "data model", "--k", "3",
                "--search-after", cur, "--fast"])
    fast2 = _json_lines(capsys)
    assert rc == rc2 == rc3 == 0 and page2 == off2 == fast2


def test_cli_msearch_and_chunk(cli_env, spark, tmp_path, capsys):
    root = str(tmp_path)
    mf_dir = os.path.join(root, "mf")
    for field in ("text", "source"):
        rc = main(["build", "--input", cli_env["corpus"],
                   "--out", os.path.join(mf_dir, f"field={field}"),
                   "--text-col", field, "--attr-cols", "", "--shards", "4"])
        assert rc == 0
        capsys.readouterr()
    rc = main(["msearch", "--index", mf_dir, "--text", "data src1",
               "--k", "5", "--tie-breaker", "0.3"])
    rows = _json_lines(capsys)
    assert rc == 0 and rows

    out = os.path.join(root, "chunks.parquet")
    rc = main(["chunk", "--input", cli_env["corpus"], "--out", out,
               "--max-tokens", "32", "--overlap", "8", "--text-col", "text"])
    (res,) = _json_lines(capsys)
    assert rc == 0 and res["chunks"] > 0
    cols = set(spark.read.parquet(out).columns)
    assert cols == {"doc_id", "chunk_id", "n_tokens", "chunk_text"}


def test_cli_range_and_facets(cli_env, capsys):
    rc = main(["search", "--index", cli_env["index"], "--text", "data model",
               "--k", "5", "--range", "lang=en:fr"])
    ranged = _json_lines(capsys)
    assert rc == 0
    rc = main(["facets", "--index", cli_env["index"], "--text", "data model",
               "--col", "lang", "--top", "5"])
    facets = _json_lines(capsys)
    assert rc == 0 and facets and all("cnt" in r for r in facets)
    with pytest.raises(SystemExit):
        main(["search", "--index", cli_env["index"], "--text", "x",
              "--range", "notaspec"])


def test_cli_compound_score_queries(cli_env, spark, capsys):
    """fscore / dismax / boosting subcommands agree with the library."""
    from librecatastro_spark.engine.wand import CompressedIndex

    idx = CompressedIndex(spark, cli_env["index"])
    rc = main([
        "fscore", "--index", cli_env["index"], "--text", "data model",
        "--field", "n_chars", "--modifier", "log1p", "--factor", "0.01",
        "--k", "5",
    ])
    got = [(r["doc_id"], r["score"]) for r in _json_lines(capsys)]
    want = [
        (r["doc_id"], r["score"])
        for r in idx.function_score(
            "data model", "n_chars", k=5, modifier="log1p", factor=0.01
        ).collect()
    ]
    assert rc == 0 and got == want and got

    rc = main([
        "dismax", "--index", cli_env["index"], "--text", "data model",
        "--text", "merge sort", "--tie-breaker", "0.3", "--k", "5",
    ])
    got = [(r["doc_id"], r["score"]) for r in _json_lines(capsys)]
    want = [
        (r["doc_id"], r["score"])
        for r in idx.dis_max(
            ["data model", "merge sort"], k=5, tie_breaker=0.3
        ).collect()
    ]
    assert rc == 0 and got == want and got

    rc = main([
        "boosting", "--index", cli_env["index"], "--positive", "data model",
        "--negative", "merge", "--negative-boost", "0.4", "--k", "5",
    ])
    got = [(r["doc_id"], r["score"]) for r in _json_lines(capsys)]
    want = [
        (r["doc_id"], r["score"])
        for r in idx.boosting(
            "data model", "merge", k=5, negative_boost=0.4
        ).collect()
    ]
    assert rc == 0 and got == want and got

    rc = main([
        "rescore", "--index", cli_env["index"], "--text", "data model",
        "--rescore-text", "merge sort", "--k", "5", "--window-size", "20",
        "--query-weight", "0.7", "--rescore-weight", "1.3",
    ])
    got = [(r["doc_id"], r["score"]) for r in _json_lines(capsys)]
    want = [
        (r["doc_id"], r["score"])
        for r in idx.rescore(
            "data model", "merge sort", k=5, window_size=20,
            query_weight=0.7, rescore_query_weight=1.3,
        ).collect()
    ]
    assert rc == 0 and got == want and got


def test_cli_positional_phrase(cli_env, spark, tmp_path, capsys):
    """build --index-options positions, then phrase (+--fast) equals the
    library's match_phrase; --type-ahead likewise."""
    pidx = str(tmp_path / "posidx")
    rc = main([
        "build", "--input", cli_env["corpus"], "--out", pidx,
        "--text-col", "text", "--attr-cols", "lang,source,content_sha256",
        "--shards", "4", "--index-options", "positions",
    ])
    assert rc == 0
    _json_lines(capsys)  # drain
    from librecatastro_spark.engine.wand import CompressedIndex

    lib = CompressedIndex(spark, pidx)
    rc = main([
        "phrase", "--index", pidx, "--text", "key order", "--k", "10",
    ])
    po = [(r["doc_id"], r["score"]) for r in _json_lines(capsys)]
    rc2 = main([
        "phrase", "--index", pidx, "--text", "key order", "--k", "10",
        "--fast",
    ])
    fp = [(r["doc_id"], r["score"]) for r in _json_lines(capsys)]
    want = [
        (r["doc_id"], r["score"])
        for r in lib.match_phrase("key order", k=10).collect()
    ]
    assert rc == rc2 == 0
    assert po == want and fp == want and want
    # r4 type-ahead: --type-ahead on both routes agrees
    # ("key ord": complete term "key" + prefix of "order", a hot bigram
    # in this corpus slice — non-empty asserted below)
    rc = main([
        "phrase", "--index", pidx, "--text", "key ord", "--k", "10",
        "--type-ahead",
    ])
    ta_po = [(r["doc_id"], r["score"]) for r in _json_lines(capsys)]
    rc2 = main([
        "phrase", "--index", pidx, "--text", "key ord", "--k", "10",
        "--type-ahead", "--fast",
    ])
    ta_fp = [(r["doc_id"], r["score"]) for r in _json_lines(capsys)]
    ta_want = [
        (r["doc_id"], r["score"])
        for r in lib.match_phrase_prefix("key ord", k=10).collect()
    ]
    assert rc == rc2 == 0
    assert ta_po == ta_want and ta_fp == ta_want and ta_want
    with pytest.raises(SystemExit):
        main(["phrase", "--index", pidx, "--text", "key ord",
              "--type-ahead", "--slop", "1"])


def test_cli_fuzzy_fast_and_geo_search(cli_env, spark, tmp_path, capsys):
    """r4 CLI surface: fuzzy --fast/--max-expansions equals the
    distributed path; search --geo filters by radius identically on the
    cluster and coordinator routes."""
    idx = cli_env["index"]
    rc = main(["fuzzy", "--index", idx, "--term", "modell", "--k", "5",
               "--max-expansions", "10"])
    d = [(r["doc_id"], r["score"]) for r in _json_lines(capsys)]
    rc2 = main(["fuzzy", "--index", idx, "--term", "modell", "--k", "5",
                "--max-expansions", "10", "--fast"])
    f = [(r["doc_id"], r["score"]) for r in _json_lines(capsys)]
    assert rc == rc2 == 0 and d == f
    # geo: index with lon/lat attrs
    gidx = str(tmp_path / "geoidx")
    gsrc = str(tmp_path / "geosrc.parquet")
    spark.read.parquet(cli_env["corpus"]).withColumn(
        "lon", (F.col("doc_id") % 720) / 2.0 - 180.0
    ).withColumn(
        "lat", ((F.col("doc_id") * 7) % 360) / 2.0 - 90.0
    ).write.parquet(gsrc)
    rc = main([
        "build", "--input", gsrc, "--out", gidx, "--text-col", "text",
        "--attr-cols", "lon,lat", "--shards", "2",
    ])
    assert rc == 0
    _json_lines(capsys)  # drain
    geo = "lon,lat,0.0,0.0,3000000.0"
    rc = main(["search", "--index", gidx, "--text", "data model",
               "--k", "1000", "--geo", geo])
    d = [(r["doc_id"], r["score"]) for r in _json_lines(capsys)]
    rc2 = main(["search", "--index", gidx, "--text", "data model",
                "--k", "1000", "--geo", geo, "--fast"])
    f = [(r["doc_id"], r["score"]) for r in _json_lines(capsys)]
    rc3 = main(["search", "--index", gidx, "--text", "data model",
                "--k", "1000"])
    allhits = [(r["doc_id"], r["score"]) for r in _json_lines(capsys)]
    assert rc == rc2 == rc3 == 0
    assert d == f and d and len(d) < len(allhits)
    with pytest.raises(SystemExit):
        main(["search", "--index", gidx, "--text", "x", "--geo", "lon,lat,1"])


def test_cli_delete_and_update(cli_env, spark, tmp_path, capsys):
    """delete/update subcommands mutate a COPY of the index and agree
    with the library write API."""
    import shutil as _sh

    idx2 = str(tmp_path / "idx2")
    _sh.copytree(cli_env["index"], idx2)
    rc = main(["delete", "--index", idx2, "--ids", "0,2,4,6,8"])
    (out,) = _json_lines(capsys)
    assert rc == 0 and out["docs_deleted"] == 5
    # deleted ids vanish from every query path
    rc = main(["search", "--index", idx2, "--text", "data model",
               "--k", "10000"])
    got = {r["doc_id"] for r in _json_lines(capsys)}
    assert rc == 0 and not ({0, 2, 4, 6, 8} & got)
    # update: re-add doc 0 with marker content via the upsert command
    src = spark.read.parquet(cli_env["corpus"]).where(F.col("doc_id") == 0)
    upd = src.withColumn("text", F.concat(F.col("text"), F.lit(" zzzcliupd")))
    upd = upd.withColumn("content_sha256", F.sha2(F.col("text"), 256))
    upd_path = str(tmp_path / "upd.parquet")
    upd.write.parquet(upd_path)
    rc = main(["update", "--index", idx2, "--input", upd_path])
    (out,) = _json_lines(capsys)
    assert rc == 0 and out["docs_indexed"] == 1
    rc = main(["search", "--index", idx2, "--text", "zzzcliupd", "--k", "10"])
    got = {r["doc_id"] for r in _json_lines(capsys)}
    assert rc == 0 and got == {0}


def test_cli_geo_polygon_and_stopwords(cli_env, spark, tmp_path, capsys):
    """r5 CLI surface: search --geo-polygon filters to the polygon
    identically on the cluster and coordinator routes; build --stopwords
    records the stop list and query analysis honors it."""
    gidx = str(tmp_path / "gpidx")
    gsrc = str(tmp_path / "gpsrc.parquet")
    spark.read.parquet(cli_env["corpus"]).withColumn(
        "lon", (F.col("doc_id") % 720) / 2.0 - 180.0
    ).withColumn(
        "lat", ((F.col("doc_id") * 7) % 360) / 2.0 - 90.0
    ).write.parquet(gsrc)
    rc = main([
        "build", "--input", gsrc, "--out", gidx, "--text-col", "text",
        "--attr-cols", "lon,lat", "--shards", "2",
    ])
    assert rc == 0
    _json_lines(capsys)  # drain
    poly = "lon,lat,-60:-40,80:-30,70:60,-50:50"
    rc = main(["search", "--index", gidx, "--text", "data model",
               "--k", "1000", "--geo-polygon", poly])
    d = [(r["doc_id"], r["score"]) for r in _json_lines(capsys)]
    rc2 = main(["search", "--index", gidx, "--text", "data model",
                "--k", "1000", "--geo-polygon", poly, "--fast"])
    f = [(r["doc_id"], r["score"]) for r in _json_lines(capsys)]
    rc3 = main(["search", "--index", gidx, "--text", "data model",
                "--k", "1000"])
    allhits = [(r["doc_id"], r["score"]) for r in _json_lines(capsys)]
    assert rc == rc2 == rc3 == 0
    assert d == f and d and len(d) < len(allhits)
    with pytest.raises(SystemExit):
        main(["search", "--index", gidx, "--text", "x",
              "--geo-polygon", "lon,lat,1:2,3:4"])
    with pytest.raises(SystemExit):
        main(["search", "--index", gidx, "--text", "x",
              "--geo", "lon,lat,0,0,1", "--geo-polygon", poly])
    # --stopwords: the stop token contributes nothing to analysis
    sidx = str(tmp_path / "swidx")
    rc = main([
        "build", "--input", cli_env["corpus"], "--out", sidx,
        "--text-col", "text", "--attr-cols", "lang",
        "--shards", "2", "--stopwords", "data,the",
    ])
    assert rc == 0
    _json_lines(capsys)
    from librecatastro_spark.index.builder import read_meta
    assert read_meta(sidx).stopwords == ["data", "the"]
    rc = main(["search", "--index", sidx, "--text", "data merge", "--k", "20"])
    with_stop = [(r["doc_id"], r["score"]) for r in _json_lines(capsys)]
    rc2 = main(["search", "--index", sidx, "--text", "merge", "--k", "20"])
    without = [(r["doc_id"], r["score"]) for r in _json_lines(capsys)]
    assert rc == rc2 == 0 and with_stop == without and with_stop


def test_cli_synonyms_bad_segment_exits(cli_env, tmp_path):
    """A --synonyms segment without SRC=DST is rejected by name (like
    --geo), instead of being dropped from the map."""
    with pytest.raises(SystemExit, match="'scan'"):
        main([
            "build", "--input", cli_env["corpus"], "--out",
            str(tmp_path / "badsyn"), "--text-col", "text",
            "--synonyms", "join=merge,scan",
        ])
    assert not (tmp_path / "badsyn").exists()


def test_cli_synonyms_build(cli_env, tmp_path, capsys):
    """r5: build --synonyms records the replace-form map; query analysis
    maps the surface form, so surface and canonical queries agree."""
    sidx = str(tmp_path / "synidx")
    rc = main([
        "build", "--input", cli_env["corpus"], "--out", sidx,
        "--text-col", "text", "--attr-cols", "lang",
        "--shards", "2", "--synonyms", "join=merge",
    ])
    assert rc == 0
    _json_lines(capsys)
    from librecatastro_spark.index.builder import read_meta
    assert read_meta(sidx).synonyms == {"join": "merge"}
    rc = main(["search", "--index", sidx, "--text", "join sort", "--k", "20"])
    surface = [(r["doc_id"], r["score"]) for r in _json_lines(capsys)]
    rc2 = main(["search", "--index", sidx, "--text", "merge sort", "--k", "20"])
    canonical = [(r["doc_id"], r["score"]) for r in _json_lines(capsys)]
    assert rc == rc2 == 0 and surface == canonical and surface
