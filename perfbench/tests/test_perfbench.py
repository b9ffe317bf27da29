"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import pandas as pd
import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(BENCH_DIR)
sys.path.insert(0, REPO)

from perfbench import measure, oracle, tracing, worker, workloads  # noqa: E402
from perfbench.tracing import Span  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", ["nightly", "research", "curation"])
def test_same_seed_same_schedule_other_seed_other_schedule(workload):
    a = workloads.schedule(workload, 7, 40)
    assert a == workloads.schedule(workload, 7, 40)
    assert a != workloads.schedule(workload, 8, 40)


def test_research_schedule_is_whole_permutations():
    n = len(workloads.RESEARCH_QUERIES)
    order = workloads.research_order(3, 3 * n)
    for c in range(3):
        assert sorted(order[c * n : (c + 1) * n]) == sorted(workloads.RESEARCH_QUERIES)


def test_night_schedule_ascends():
    nights = workloads.night_schedule(5, 200)
    assert all(b - a in (1, 2, 3) for a, b in zip(nights, nights[1:]))


@pytest.mark.parametrize(
    "n, want",
    [(19, None), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90), (199, 90), (200, 95), (1000, 99), (10000, 99.9)],
)
def test_tail_percentile_has_ten_samples_beyond(n, want):
    values = [float(i) for i in range(1, n + 1)]
    got = measure.tail_percentile(values)
    if want is None:
        assert got is None
        return
    pct, value = got
    assert pct == want
    assert sum(v > value for v in values) >= 10


def test_tail_percentile_value_is_nearest_rank():
    values = [float(i) for i in range(100, 0, -1)]  # unsorted input
    assert measure.tail_percentile(values) == (90, 90.0)


def test_self_time_on_hand_built_span_tree():
    spans = [
        Span("op", 0.0, 10.0, None, "op-0"),
        Span("windows.build", 1.0, 3.0, 0, "op-0"),
        Span("catalog.table", 1.5, 2.0, 1, "op-0"),
        Span("windows.exec", 2.0, 5.0, 0, "op-0"),  # overlaps the build
        Span("txn.merge", 8.0, 12.0, 0, "op-0"),  # runs past its parent
        Span("txn.read_versioned", 9.0, 9.5, 4, "op-0"),
    ]
    got = tracing.self_times(spans)
    want = [10 - 4 - 2, 2 - 0.5, 0.5, 3, 4 - 0.5, 0.5]
    assert got == pytest.approx(want)


def test_space_amp_counts_a_hard_linked_file_once(tmp_path):
    ledger = tmp_path / "ledger"
    old, live = ledger / "v_00000001" / "night=1", ledger / "v_00000002" / "night=1"
    old.mkdir(parents=True)
    live.mkdir(parents=True)
    (old / "a.parquet").write_bytes(b"x" * 100)
    os.link(old / "a.parquet", live / "a.parquet")
    (ledger / "v_00000002" / "night=2").mkdir()
    (ledger / "v_00000002" / "night=2" / "b.parquet").write_bytes(b"y" * 50)
    (old / "c.parquet").write_bytes(b"z" * 30)  # only in the old snapshot
    amp = measure.space_amplification(str(ledger), str(ledger / "v_00000002"))
    assert amp == pytest.approx((100 + 50 + 30) / 150)


def test_snapshot_file_stats_tells_linked_from_staged(tmp_path):
    base, new = tmp_path / "v_1", tmp_path / "v_2"
    for night in ("1", "2"):
        (base / f"night={night}").mkdir(parents=True)
        (base / f"night={night}" / "p.parquet").write_bytes(b"a" * 10)
        (new / f"night={night}").mkdir(parents=True)
    os.link(base / "night=1" / "p.parquet", new / "night=1" / "p.parquet")
    (new / "night=2" / "q.parquet").write_bytes(b"b" * 2_000_000)
    stats = tracing.snapshot_file_stats(str(new))
    assert stats == {
        "txn.partitions_rewritten": 1,
        "txn.partitions_linked": 1,
        "txn.files_linked": 1,
        "txn.bytes_staged_mb": 2.0,
    }


def test_ledger_replay_keeps_a_level_window():
    nights = workloads.night_schedule(1, workloads.LEDGER_NIGHTS + 5)
    keys, with_outcome = workloads.ledger_replay(nights, 0, [10, 20])
    assert len(keys) == 2 * workloads.LEDGER_NIGHTS
    assert {n for n, _ in with_outcome} == set(nights[: workloads.LEDGER_NIGHTS - workloads.OUTCOME_LAG])
    keys, with_outcome = workloads.ledger_replay(nights, 2, [10, 20])
    assert {n for n, _ in keys} == set(nights[2 : workloads.LEDGER_NIGHTS + 2])
    assert len(keys) == 2 * workloads.LEDGER_NIGHTS
    assert max(n for n, _ in with_outcome) == nights[workloads.LEDGER_NIGHTS + 2 - 1 - workloads.OUTCOME_LAG]


def test_oracle_check_semantics():
    want = pd.DataFrame({"b": [2.0, 1.0], "a": [1, 2]})
    assert oracle.mismatch(pd.DataFrame({"a": [2, 1], "b": [1.0, 2.0]}), want) is None
    assert oracle.mismatch(pd.DataFrame({"a": [2, 1], "b": [1.0, 2.5]}), want) is not None
    assert "dtype" in oracle.mismatch(pd.DataFrame({"a": [2.0, 1.0], "b": [1.0, 2.0]}), want)
    assert "row count" in oracle.mismatch(pd.DataFrame({"a": [2], "b": [1.0]}), want)


def _stub_run(trace: bool) -> worker.Run:
    """A finished run with hand-set measurements and no Spark session."""
    run = worker.Run.__new__(worker.Run)
    run.workload, run.seed, run.trace = "research", 1, trace
    run.tracer = tracing.Tracer()
    run.checked, run.failures = 3, []
    run.walls, run.traced = [1.0, 1.2, 1.1, 0.9], [True, False, False, True]
    run.cpus = [2.0, 2.5, 2.25, 1.75]
    run.labels = ["sma_window"] * 4
    run.commit_walls, run.spark_totals = [], [{"spark.executor_run_s": 2.0}, {"spark.executor_run_s": 1.0}]
    run.setup_s, run.get_spark_s, run.load_registry_s, run.steal_ratio = 30.0, 5.0, 0.2, 0.0
    run.warmup_s, run.setup_cpu_s = 20.0, 50.0
    run.tracer.spans = [
        Span("op", 0.0, 1.0, None, "op-0"),
        Span("windows.build", 0.0, 0.25, 0, "op-0"),
        Span("op", 2.0, 2.9, None, "op-3"),
        Span("shared", 2.0, 2.5, 2, "op-3"),
        Span("shared.build", 2.1, 2.4, 3, "op-3"),
    ]
    run.provenance = lambda: {}
    run.peak_rss_mb = lambda: 1000.0
    return run


@pytest.mark.parametrize("trace, section", [(False, "end_to_end"), (True, "per_layer")])
def test_printed_metric_names_and_units_match_benchmark_json(trace, section):
    metrics = _stub_run(trace).result()["result"]["metrics"]
    declared = {m["name"]: m["unit"] for m in _benchmark_json()[section]}
    assert {k: v["unit"] for k, v in metrics.items()} == declared


def test_op_cpu_s_is_the_mean_over_the_run():
    metrics = _stub_run(False).result()["result"]["metrics"]
    assert metrics["op_cpu_s"]["value"] == pytest.approx(2.125)


@pytest.mark.parametrize("trace", [False, True])
def test_research_stops_only_after_whole_permutations(trace):
    n = len(workloads.RESEARCH_QUERIES) * (2 if trace else 1)
    stops = [k for k in range(1, 4 * n + 1) if workloads.stop_point("research", k, trace)]
    assert stops == [2 * n, 3 * n, 4 * n]


def test_nightly_stops_after_any_night_or_pair():
    assert all(workloads.stop_point("nightly", k, False) for k in range(1, 5))
    assert [k for k in range(1, 7) if workloads.stop_point("nightly", k, True)] == [2, 4, 6]


def test_session_cpu_counts_this_process():
    before = measure.session_cpu_s()
    deadline = time.process_time() + 0.3
    while time.process_time() < deadline:
        pass
    assert measure.session_cpu_s() - before >= 0.2


def test_layer_metrics_are_per_traced_op_means():
    m = _stub_run(True).layer_metrics()
    assert m["windows.calls"] == 0.5 and m["windows.build_s"] == pytest.approx(0.125)
    assert m["shared.calls"] == 0.5 and m["shared.builds"] == 0.5 and m["shared.hit_ratio"] == 0.0
    assert m["shared.build_s"] == pytest.approx(0.15)
    assert m["spark.executor_run_s"] == pytest.approx(1.5)
    assert m["spark.core_busy_ratio"] == pytest.approx(3.0 / (1.9 * worker._nproc()))
    assert m["trace.overhead_ratio"] == pytest.approx(statistics.median([1.0 / 1.2, 0.9 / 1.1]))


def test_benchmark_json_shape():
    b = _benchmark_json()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["paths"] == ["perfbench"]
    assert {w["name"] for w in b["workloads"]} <= set(workloads.WORKLOAD_QUERIES)
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in b["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns("data", "__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "nightly", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""
