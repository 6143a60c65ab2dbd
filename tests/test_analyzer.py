from __future__ import annotations

from librecatastro_spark.analyzer import analyze_text, tokenize_expr


def test_analyze_text_golden():
    # frozen analyzer spec goldens (SURVEY.md §7.4: fidelity is defined, not chased)
    assert analyze_text("Hello, World!") == ["hello", "world"]
    assert analyze_text("CL TESTTEST 17 03005 AJALVIR (MURCIA)") == [
        "cl", "testtest", "17", "03005", "ajalvir", "murcia",
    ]
    assert analyze_text("def foo_bar(x): return x+1") == [
        "def", "foo_bar", "x", "return", "x", "1",
    ]
    assert analyze_text("") == []
    assert analyze_text("   ") == []
    assert analyze_text(None) == []


def test_expr_udf_python_equivalence(spark):
    texts = [
        "Spark SQL; DataFrame.filter(col('x') > 1)",
        "UPPER lower MiXeD_case_1",
        "",
        "   leading trailing   ",
        "ünïcode stays ascii-split",
        None,
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(
        "text",
        tokenize_expr("text").alias("by_expr"),
    ).collect()
    for r in rows:
        if r["text"] is None:
            continue  # Catalyst split(NULL) yields NULL — engine never feeds NULL text
        assert r["by_expr"] == analyze_text(r["text"])


def test_term_freqs_arrow_matches_catalyst(spark, documents):
    """The fused Arrow tokenize+tf pass (builder hot path) must produce
    exactly the (doc_id, term, tf, dl) set of the Catalyst
    tokenize→explode→groupBy pipeline."""
    from librecatastro_spark.stats import term_freqs, term_freqs_arrow

    docs = documents.limit(200)
    a = {
        (r["doc_id"], r["term"]): (r["tf"], r["dl"])
        for r in term_freqs_arrow(docs, "doc_id", "text").collect()
    }
    b = {
        (r["doc_id"], r["term"]): (r["tf"], r["dl"])
        for r in term_freqs(docs, "doc_id", "text").collect()
    }
    assert a == b and len(a) > 0
