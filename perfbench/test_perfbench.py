"""Self-tests of the benchmark's own machinery (no Spark needed).

Run from the repository root:  python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen, obs  # noqa: E402
from perfbench.run import check_answer, overhead_ratios  # noqa: E402


def _inputs(seed: int, n: int = 300):
    docs = gen.make_docs(seed, 0, n)
    pool = gen.make_pool(seed, docs)
    return docs, pool, gen.make_stream(seed, pool, n=2000)


def test_same_seed_same_inputs():
    d1, p1, s1 = _inputs(7)
    d2, p2, s2 = _inputs(7)
    assert d1.equals(d2)
    assert p1 == p2
    assert np.array_equal(s1, s2)


def test_other_seed_other_mix():
    d1, p1, s1 = _inputs(7)
    d2, p2, s2 = _inputs(8)
    assert not d1["content"].equals(d2["content"])
    assert p1 != p2
    assert [gen.request_key(p1[i]) for i in s1[:200]] != [gen.request_key(p2[i]) for i in s2[:200]]


def test_mix_follows_shape_weights_and_repeats():
    _, pool, stream = _inputs(3)
    shapes = [pool[i]["shape"] for i in stream]
    for shape, w in gen.SHAPES.items():
        assert abs(shapes.count(shape) / len(shapes) - w) < 0.03
    assert len(set(stream.tolist())) < len(stream) // 2  # hot requests repeat


def test_shape_weights_sum_to_one_and_follow_query_counts():
    assert sum(gen.SHAPES.values()) == pytest.approx(1.0)
    assert gen.SHAPES["or"] == pytest.approx(3 * gen.SHAPES["fuzzy"])


def test_docs_draw_from_the_engine_corpus_vocabulary():
    docs = gen.make_docs(2, 0, 50)
    vocab = set(gen.VOCAB)
    for content in docs["content"]:
        toks = content.split()
        assert gen.MIN_TOKENS <= len(toks) - 2 <= gen.MAX_TOKENS
        assert set(toks[:-2]) <= vocab
        assert all(t.startswith("uid") for t in toks[-2:])


def test_docs_carry_ids_and_hashes():
    docs = gen.make_docs(1, 500, 20, stream=3)
    assert docs["doc_id"].tolist() == list(range(500, 520))
    assert docs["content_sha256"].str.len().eq(64).all()
    assert gen.input_bytes(docs) > docs["content"].str.len().sum()


@pytest.mark.parametrize("n,expected", [
    (0, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    assert obs.tail_percentile(n) == expected


def test_percentile_interpolates():
    assert obs.percentile([1, 2, 3, 4], 50) == 2.5
    assert obs.percentile(range(101), 95) == 95.0


def _span(sid, parent, start, end):
    return {"id": sid, "parent": parent, "req": 0, "name": f"s{sid}", "start": start, "end": end}


def test_self_time_is_duration_minus_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),   # overlaps span 1: the union counts once
        _span(3, 0, 8.0, 12.0),  # runs past its parent: clipped
        _span(4, 1, 1.5, 2.5),   # a grandchild is its parent's business
    ]
    st = obs.self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 2.0))
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_nests_and_stays_silent_when_off():
    tr = obs.Tracer()
    with tr.span("off"):
        pass
    assert tr.spans == []
    tr.enabled, tr.request = True, 5
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert {outer["req"], inner["req"]} == {5}
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


def test_host_delta_shares():
    before = [0] * 8
    after = [10, 0, 10, 70, 0, 0, 0, 10]
    d = obs.host_delta(before, after)
    assert d["steal_pct"] == pytest.approx(10.0)
    assert d["busy_pct"] == pytest.approx(20.0)


def test_check_answer():
    req = {"shape": "or", "k": 3}
    assert check_answer([(1, 2.0), (0, 1.0), (2, 1.0)], req, 10) is None
    assert "k=3" in check_answer([(1, 4.0), (2, 3.0), (3, 2.0), (4, 1.0)], req, 10)
    assert "order" in check_answer([(2, 1.0), (1, 1.0)], req, 10)
    assert "out of range" in check_answer([(10, 1.0)], req, 10)
    assert "cursor" in check_answer([(5, 2.0)], req, 10, cursor=(2.0, 5))
    assert "constant" in check_answer([(1, 0.5)], {"shape": "fuzzy", "k": 10}, 10)


def test_bytes_written_counts_new_and_changed_files(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.write_bytes(b"x" * 10)
    b.write_bytes(b"y" * 5)
    before = obs.file_state(str(tmp_path))
    b.write_bytes(b"y" * 7)
    (tmp_path / "c").write_bytes(b"z" * 3)
    assert obs.bytes_written(before, obs.file_state(str(tmp_path))) == 10


def test_engine_cpu_counts_this_process_and_the_tree_below_the_jvm():
    import subprocess

    # a stand-in for the JVM: burns 0.2 s of CPU, then waits
    burn = "import sys, time\nt = time.process_time()\nwhile time.process_time() - t < 0.2: pass\n" \
           "print(flush=True)\nsys.stdin.read()"
    jvm = subprocess.Popen([sys.executable, "-c", burn], stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    try:
        jvm.stdout.readline()
        assert obs.descendants(jvm.pid) == [jvm.pid]
        own = time.process_time()
        assert obs.engine_cpu_s(jvm.pid) - own >= 0.15
    finally:
        jvm.stdin.close()
        jvm.wait()
    assert obs.descendants(jvm.pid) == [jvm.pid]  # gone: nothing to read
    assert obs.engine_cpu_s(jvm.pid) == pytest.approx(time.process_time(), abs=0.05)


def test_overhead_ratios_compare_within_shape():
    pool = [{"shape": "or"}, {"shape": "fuzzy"}]
    recs = (
        [{"p": 0, "traced": True, "lat": 1.1}] * 3 + [{"p": 0, "traced": False, "lat": 1.0}] * 3
        # fuzzy is ten times slower and traced only: a mix skew, not overhead
        + [{"p": 1, "traced": True, "lat": 10.0}] * 3
    )
    assert overhead_ratios(recs, pool) == [pytest.approx(1.1)]
    # no shape in both halves: the halves' medians
    split = [{"p": 0, "traced": True, "lat": 1.1}] * 3 + [{"p": 1, "traced": False, "lat": 1.0}] * 3
    assert overhead_ratios(split, pool) == [pytest.approx(1.1)]


def test_call_log_keeps_results_and_restores():
    class Mod:
        @staticmethod
        def f(x):
            return x > 1

    orig = Mod.f
    with obs.CallLog(Mod, "f") as log:
        Mod.f(1)
        Mod.f(2)
    assert log.results == [False, True]
    assert Mod.f is orig
