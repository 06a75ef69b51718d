"""Tests for the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


def _nested():
    """entry [0, 10] > extensions [1, 7] > utils [2, 4]; a sibling
    operators span [8, 9]."""
    clock = FakeClock()
    tr = spans.Tracer(clock)
    root = tr.open("entry", "q")
    clock.now = 1
    ext = tr.open("extensions", "f")
    clock.now = 2
    ut = tr.open("utils", "g")
    clock.now = 4
    tr.close(ut)
    clock.now = 7
    tr.close(ext)
    clock.now = 8
    op = tr.open("operators", "h")
    clock.now = 9
    tr.close(op)
    clock.now = 10
    tr.close(root)
    return tr, root, ext, ut, op


def test_self_time_subtracts_children_once():
    tr, root, ext, ut, op = _nested()
    st = spans.self_times(tr.spans)
    assert st[id(ut)] == pytest.approx(2.0)
    assert st[id(ext)] == pytest.approx(6.0 - 2.0)
    assert st[id(op)] == pytest.approx(1.0)
    assert st[id(root)] == pytest.approx(10.0 - 6.0 - 1.0)
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_overlapping_thread_children():
    parent = spans.Span("extensions", "p", 0.0)
    parent.end = 10.0
    a = spans.Span("utils", "a", 1.0, parent)
    a.end = 5.0
    b = spans.Span("utils", "b", 3.0, parent)
    b.end = 6.0
    late = spans.Span("utils", "late", 9.0, parent)
    late.end = 12.0  # runs past its parent: only [9, 10] is covered
    st = spans.self_times([parent, a, b, late])
    assert st[id(parent)] == pytest.approx(10.0 - 5.0 - 1.0)


def test_spans_on_other_threads_hang_off_the_root():
    import threading

    tr = spans.Tracer()
    seen = []

    def body():
        t = threading.Thread(target=lambda: seen.append(tr.call("utils", "u", lambda: tr.spans[-1])))
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()

    tr.call_root("entry", "q", body)
    (child,) = seen
    assert child.parent is tr.spans[0] and child.depth == 1


def test_write_spans_keeps_parents(tmp_path):
    import json

    tr, root, ext, ut, op = _nested()
    spans.write_spans(tr.spans, str(tmp_path / "s.jsonl"))
    rows = [json.loads(line) for line in open(tmp_path / "s.jsonl")]
    assert [r["layer"] for r in rows] == ["entry", "extensions", "utils", "operators"]
    assert [r["parent"] for r in rows] == [None, 0, 1, 0]
    assert rows[2]["start"] == 2 and rows[2]["end"] == 4


def test_jobs_go_to_the_innermost_open_span():
    tr, root, ext, ut, op = _nested()
    jobs = [
        {"jobId": 0, "submissionTime": 500},    # entry only
        {"jobId": 1, "submissionTime": 3000},   # utils inside extensions
        {"jobId": 2, "submissionTime": 5000},   # extensions after utils closed
        {"jobId": 3, "submissionTime": 8500},   # operators
        {"jobId": 4, "submissionTime": 20000},  # after the query
        {"jobId": 5, "submissionTime": 20000, "jobGroup": "r1"},
        {"jobId": 6, "submissionTime": 3000,
         "description": "q\nid = 0b5c0b1e-0000-4000-8000-000000000000\n"
                        "runId = 9f1d2c3b-0000-4000-8000-000000000000\nbatch = 0"},
    ]
    got = spans.attribute(jobs, tr.spans, {"r1"})
    assert got == {0: "entry", 1: "utils", 2: "extensions", 3: "operators", 4: None,
                   5: "streaming", 6: "streaming"}


def test_wrapped_function_keeps_identity_and_can_be_switched_off():
    import pickle
    import types

    mod = types.ModuleType("perfbench_fake_layer")
    sys.modules[mod.__name__] = mod
    try:
        exec("def public(x):\n    return x + 1\n", mod.__dict__)
        tr = spans.Tracer()
        mod.public = spans._wrapper(tr, "utils", "public", mod.public)
        assert mod.public(1) == 2
        assert tr.spans[0].layer == "utils" and tr.spans[0].end is not None
        assert pickle.loads(pickle.dumps(mod.public)) is mod.public
        tr.enabled = False
        assert mod.public(2) == 3 and len(tr.spans) == 1
    finally:
        del sys.modules[mod.__name__]


def _digest(path):
    h = hashlib.sha256()
    for name in gen.TABLES:
        with open(os.path.join(path, f"{name}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


@pytest.fixture(scope="module")
def sf0001():
    """The sf0.001 test tables, where TESTDATA.md says they are."""
    src = gen.source_dir(ROOT, "0.001")
    if not os.path.isdir(src):
        pytest.skip(f"no test tables at {src}")
    return src


def test_source_dir_reads_testdata_md(tmp_path):
    (tmp_path / "TESTDATA.md").write_text(
        "| 0.001 | `/d/sf0.001/` | ~6,000 |\n| 0.01 | `/d/sf0.01/` | ~60,000 |\n"
    )
    assert gen.source_dir(str(tmp_path), "0.01") == "/d/sf0.01"
    assert gen.source_dir(str(tmp_path), "0.001") == "/d/sf0.001"
    with pytest.raises(FileNotFoundError):
        gen.source_dir(str(tmp_path), "0.1")


def test_generator_is_a_function_of_the_seed(tmp_path, sf0001):
    a = gen.write_inputs(sf0001, str(tmp_path / "a"), 1)
    gen.write_inputs(sf0001, str(tmp_path / "b"), 1)
    gen.write_inputs(sf0001, str(tmp_path / "c"), 2)
    assert a["lineitem"] > 1000 and a["region"] == 5
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    assert gen.query_order("abcdefgh", 1) == gen.query_order("abcdefgh", 1)
    assert gen.query_order("abcdefgh", 1) != gen.query_order("abcdefgh", 2)


def test_seeds_permute_the_source_rows(tmp_path, sf0001):
    import pyarrow.parquet as pq

    gen.write_inputs(sf0001, str(tmp_path / "a"), 1)
    gen.write_inputs(sf0001, str(tmp_path / "b"), 2)
    for name in ("lineitem", "documents", "events"):
        src = pq.read_table(os.path.join(sf0001, f"{name}.parquet"))
        ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        tb = pq.read_table(tmp_path / "b" / f"{name}.parquet")
        assert ta.schema == src.schema
        key = ta.column_names[0]
        assert ta.column(key).to_pylist() != tb.column(key).to_pylist()
        rows = sorted(map(str, src.to_pylist()))
        assert sorted(map(str, ta.to_pylist())) == rows == sorted(map(str, tb.to_pylist()))


def test_warm_metrics_read_a_fixed_window_of_passes():
    def passes(*totals):
        return [[{"name": q, "latency": t * w, "heap_mb": 10 * t} for q, w in (("a", 0.25), ("b", 0.75))]
                for t in totals]

    warm = [6.0, 5.0, 7.0, 4.0, 8.0][:run.WARM_PASSES]
    slow = run.end_to_end((1.0, 2.0), passes(9.0, *warm))
    fast = run.end_to_end((1.0, 2.0), passes(9.0, *warm, 1.0, 1.0, 1.0))
    assert slow == fast
    assert slow["warm_pass_s"] == pytest.approx(statistics.median(warm))
    assert slow["heap_live_peak_mb"] == pytest.approx(10 * min(warm))
    assert slow["setup_s"] == pytest.approx(3.0) and slow["cold_pass_s"] == pytest.approx(9.0)


def test_warm_metrics_take_each_query_median_and_lowest_heap():
    lat = {"a": (1.0, 9.0, 1.2), "b": (2.0, 2.2, 8.0)}
    heap = {"a": (80.0, 81.0, 82.0), "b": (145.0, 113.0, 114.0)}
    passes = [[{"name": q, "latency": 0.0, "heap_mb": 0.0} for q in lat]]
    passes += [[{"name": q, "latency": lat[q][i], "heap_mb": heap[q][i]} for q in lat] for i in range(3)]
    m = run.end_to_end((1.0, 2.0), passes)

    def med(v):
        return statistics.median(v[:run.WARM_PASSES])

    assert m["warm_pass_s"] == pytest.approx(med(lat["a"]) + med(lat["b"]))
    assert m["heap_live_peak_mb"] == pytest.approx(113.0)
