"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import datagen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
from layers import reduce_pass  # noqa: E402
from stats import Span, covered, exclusive_times, tail  # noqa: E402
from workloads import LAYER_MAP, WORKLOADS, pass_order  # noqa: E402


@pytest.fixture(scope="module")
def bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# --- percentile rule ----------------------------------------------------------


def test_tail_is_the_nearest_rank_p90():
    xs = [float(i) for i in range(1, 21)]
    assert tail(list(reversed(xs))) == (18.0, 2, 20)
    assert tail([float(i) for i in range(1, 22)]) == (19.0, 2, 21)
    assert tail([3.0, 1.0, 2.0]) == (3.0, 0, 3)
    for n in range(1, 200):  # integer rank: no float rounding at multiples of 10
        assert tail([float(i) for i in range(n)])[1] == n - -(-9 * n // 10)


# --- self time ----------------------------------------------------------------


def test_self_time_subtracts_nested_children():
    spans = [
        Span("query", 0.0, 10.0, None),
        Span("a", 1.0, 4.0, 0),
        Span("a.inner", 2.0, 3.0, 1),
        Span("b", 5.0, 9.0, 0),
    ]
    assert exclusive_times(spans) == pytest.approx([3.0, 2.0, 1.0, 4.0])


def test_self_time_splits_concurrent_children_and_adds_up():
    spans = [
        Span("query", 0.0, 8.0, None),
        Span("thread1", 1.0, 5.0, 0),
        Span("thread2", 3.0, 7.0, 0),
    ]
    own = exclusive_times(spans)
    assert own == pytest.approx([2.0, 3.0, 3.0])
    assert sum(own) == pytest.approx(8.0)


def test_back_to_back_spans_do_not_overlap():
    spans = [Span("q1", 0.0, 1.0, None), Span("q2", 1.0, 3.0, None)]
    assert exclusive_times(spans) == pytest.approx([1.0, 2.0])


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == pytest.approx(3.0)
    assert covered([], 0, 1) == 0.0


def test_spans_opened_from_many_threads_get_distinct_indices():
    import threading

    from layers import Tracer

    fake = SimpleNamespace(sparkContext=SimpleNamespace(_jsc=SimpleNamespace(sc=lambda: None)))
    tracer = Tracer(fake)
    root = tracer.open("query")

    def work():
        for _ in range(2000):
            tracer.close(tracer.open("streaming.batch"))

    threads = [threading.Thread(target=work) for _ in range(4)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads often, so a race shows
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    finally:
        sys.setswitchinterval(interval)
    tracer.close(root)
    assert len(tracer.spans) == 1 + 4 * 2000
    assert all(s.end >= s.start > 0 for s in tracer.spans)
    assert all(s.parent == root for s in tracer.spans[1:])


def _fake_pass():
    """Two traced queries: one with an operator and py4j calls, one bare."""
    spans = [
        Span("query", 0.0, 10.0, None),
        Span("plans.queries.build", 0.0, 6.0, 0),
        Span("operators.dedup.minhash", 1.0, 5.0, 1),
        Span("py4j", 2.0, 4.0, 2),
        Span("sources.io.load_table", 5.0, 5.5, 1),
        Span("trace.bookkeeping", 6.0, 6.5, 0),
        Span("catalyst.plan", 6.5, 7.0, 0),
        Span("exec", 7.0, 9.5, 0),
        Span("query", 11.0, 12.0, None),
        Span("plans.queries.build", 11.0, 11.2, 8),
        Span("exec", 11.2, 11.9, 8),
    ]
    jobs = {1: (0, 3), 2: (0, 2), 7: (3, 5), 9: (5, 5), 10: (5, 6)}
    stat = dict.fromkeys(
        ["jobs", "stages", "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s",
         "input_bytes", "input_records", "output_bytes", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes"], 0)
    records = [
        {"build": {**stat, "jobs": 3, "intervals": [(100.0, 102.0)]},
         "build_window": (100.0, 106.0), "exec": {**stat, "jobs": 2, "run_s": 4.0,
         "input_records": 50, "intervals": []}, "rows_out": 5,
         "exchanges": 2, "reused_exchanges": 0, "scans": 1, "streams": [0, 0, 0]},
        {"build": {**stat, "intervals": []}, "build_window": (111.0, 111.2),
         "exec": {**stat, "jobs": 1, "run_s": 1.0, "input_records": 50, "intervals": []},
         "rows_out": 5, "exchanges": 0, "reused_exchanges": 0, "scans": 1,
         "streams": [2, 1500, 40]},
    ]
    return SimpleNamespace(spans=spans, jobs=jobs), records


def test_layer_self_times_add_up_to_the_traced_wall():
    tracer, records = _fake_pass()
    m = reduce_pass(tracer, records, cores=4)
    parts = [k for k in m if k.endswith(".self_s")] + [
        "catalyst.plan_s", "exec.s", "trace.unattributed_s"]
    assert sum(m[k] for k in parts) == pytest.approx(m["trace.wall_s"])
    assert m["trace.wall_s"] == pytest.approx(10.5)  # 11 s of queries minus bookkeeping
    assert m["operators.dedup.self_s"] == pytest.approx(2.0)
    assert m["py4j.self_s"] == pytest.approx(2.0)
    assert (m["py4j.calls"], m["py4j.s"]) == (1, pytest.approx(2.0))
    assert m["operators.dedup.jobs"] == 2
    assert m["plans.queries.construct_s"] == pytest.approx(6.2 - 2.0)
    assert m["exec.rows_read_per_row_out"] == pytest.approx(10.0)
    assert m["streaming.epochs"] == 2


# --- workloads ----------------------------------------------------------------


def test_seed_gives_a_deterministic_order():
    for w in WORKLOADS:
        assert pass_order(w, 7, 1) == pass_order(w, 7, 1)
        assert sorted(pass_order(w, 7, 1)) == sorted(WORKLOADS[w])
    orders = {tuple(pass_order("relational_light", s, 1)) for s in range(5)}
    assert len(orders) == 5


def test_every_workload_query_is_declared_with_an_oracle():
    from tmdb_spark_data_pipeline_spark.plans.queries import REGISTRY

    for w, names in WORKLOADS.items():
        assert len(set(names)) == len(names), w
        for n in names:
            assert n in REGISTRY, n
            assert REGISTRY[n].oracle, n


# --- the output contract ------------------------------------------------------


def test_benchmark_json_matches_the_workloads(bench):
    assert set(bench) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in bench["workloads"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", m["name"])
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"])
        assert m["better"] in ("lower", "higher")


def test_end_to_end_output_names_every_metric(bench):
    per_query = {f"q{i}": [0.1 * i, 0.1 * i + 0.2] for i in range(1, 11)}
    res = {"latencies": [x for v in per_query.values() for x in v], "setup_s": 9.0,
           "pass_walls": [6.5, 7.5], "peak_rss_mb": 1000.0, "per_query": per_query}
    values, _ = run.end_to_end_values(res)
    assert set(values) == {m["name"] for m in bench["end_to_end"]}
    assert values["setup_s"] == 9.0
    assert values["wall_s"] == 7.0
    assert values["query_tail_s"] == pytest.approx(1.0)  # q9's median, one query beyond


def test_per_layer_output_names_every_metric(bench):
    tracer, records = _fake_pass()
    layers = reduce_pass(tracer, records, cores=4)
    layers.update({"trace.untraced_wall_s": 10.0, "trace.overhead_s": 0.5})
    values = run.per_layer_values(
        {"layers": layers, "get_spark_s": 5.0, "peak_rss_mb": 900.0}, 40.0, 0.1)
    assert set(values) == {m["name"] for m in bench["per_layer"]}
    assert all(k.split(".")[0] in {m.split(".")[0] for m in values} for k in LAYER_MAP)


# --- inputs and digests -------------------------------------------------------


def test_tables_are_deterministic():
    a, b = datagen.build_tables(0.001), datagen.build_tables(0.001)
    assert list(a) == list(datagen.TABLES)
    for t in datagen.TABLES:
        assert a[t].equals(b[t]), t
    assert a["lineitem"].num_rows == 6000
    assert a["embeddings"].schema.field("embedding").type.value_type.bit_width == 32


def test_digest_ignores_row_and_column_order():
    rows = [(1, "x", 0.1), (2, None, float("nan"))]
    swapped = [(r[2], r[1], r[0]) for r in reversed(rows)]
    assert oracle.digest(["a", "b", "c"], rows) == oracle.digest(["c", "b", "a"], swapped)
    assert oracle.digest(["a", "b", "c"], rows) != oracle.digest(["a", "b", "c"], rows[:1])
