"""Tests of the benchmark itself (not of the program it measures).

    python -m pytest perfbench/tests -q
    PERFBENCH_SLOW=1 python -m pytest perfbench/tests -q   # + traced runs

The slow tests start Spark: one traced run of each workload, checking the
output gate, that every wrapper saw a call, and the bypass predictions.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
CHECKOUT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(CHECKOUT))

import gen  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402


def test_star_schema_is_a_function_of_the_seed(tmp_path):
    a = gen.star_schema(str(tmp_path / "a"), 7, 0.001)
    b = gen.star_schema(str(tmp_path / "b"), 7, 0.001)
    c = gen.star_schema(str(tmp_path / "c"), 8, 0.001)
    assert a == b == c  # row counts depend on the scale only
    da, db, dc = (gen.file_digest(str(tmp_path / x)) for x in "abc")
    assert da == db
    assert da != dc


def test_etl_inputs_are_a_function_of_the_seed(tmp_path):
    a = gen.etl_inputs(str(tmp_path / "a"), 7, 500)
    b = gen.etl_inputs(str(tmp_path / "b"), 7, 500)
    c = gen.etl_inputs(str(tmp_path / "c"), 8, 500)
    assert a == b
    assert a != c
    da, db, dc = (gen.file_digest(str(tmp_path / x)) for x in "abc")
    assert da == db
    assert da != dc


def test_etl_expected_counts_are_consistent(tmp_path):
    exp = gen.etl_inputs(str(tmp_path), 3, 2000)
    assert exp["merged_rows"] == exp["fact_rows"] - exp["deleted_rows"]
    assert exp["change_rows"] == 20
    fact_lines = sum(
        sum(1 for _ in open(p)) for p in (tmp_path / "fact").iterdir()
    )
    assert fact_lines == 2000


def test_tail_is_highest_percentile_with_ten_beyond():
    vals = [float(i) for i in range(1, 31)]  # 30 samples
    value, pct, n = stats.tail(vals)
    assert n == 30
    assert value == 20.0  # rank 20; samples 21..30 lie beyond it
    assert pct == pytest.approx(100 * 20 / 30)
    assert sum(v > value for v in vals) == stats.TAIL_MIN_BEYOND


def test_tail_at_twenty_samples_is_the_median_rank():
    vals = [float(i) for i in range(1, 21)]
    value, pct, _ = stats.tail(vals)
    assert (value, pct) == (10.0, 50.0)


def test_tail_below_twenty_samples_reports_the_slowest():
    vals = [3.0, 1.0, 2.0, 9.0]
    assert stats.tail(vals) == (9.0, 100.0, 4)
    with pytest.raises(ValueError):
        stats.tail([])


def test_self_time_subtracts_the_union_of_children():
    parent = (0.0, 10.0)
    # Overlapping children count once; the part past the parent's end
    # is clipped.
    children = [(1.0, 3.0), (2.0, 4.0), (8.0, 12.0)]
    assert stats.covered(parent, children) == pytest.approx(5.0)
    assert stats.self_time(parent, children) == pytest.approx(5.0)
    assert stats.self_time(parent, []) == pytest.approx(10.0)
    assert stats.self_time(parent, [(11.0, 12.0)]) == pytest.approx(10.0)


def test_every_metric_is_declared_in_benchmark_json():
    spec = json.loads((CHECKOUT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == metrics.END_TO_END
    assert layer == metrics.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(metrics.WORKLOADS)
    assert set(metrics.EXPECTED_SPANS) == set(metrics.WORKLOADS)


def test_emit_refuses_undeclared_or_missing_metrics():
    values = dict.fromkeys(metrics.END_TO_END, 1.0)
    out = metrics.emit(values, per_layer=False)
    assert set(out) == set(metrics.END_TO_END)
    assert all(set(v) == {"value", "unit"} for v in out.values())
    with pytest.raises(ValueError):
        metrics.emit({**values, "made_up_s": 1.0}, per_layer=False)
    values.pop("cpu_s")
    with pytest.raises(ValueError):
        metrics.emit(values, per_layer=False)


def test_load_table_bindings_are_found_and_wrapped():
    from tracing import Patches, Tracer

    from data_preparation_plugin_spark.plans import registry

    tracer = Tracer(None)  # patching needs no session
    patches = Patches(tracer)
    patched = patches.patch_bindings(
        "data_preparation_plugin_spark.plans", "load_table",
        registry.load_table, "plans.registry.load_table",
    )
    try:
        # Every plans module that calls load_table binds it at import.
        assert "data_preparation_plugin_spark.plans.relational" in patched
        assert "data_preparation_plugin_spark.plans.events" in patched
        from data_preparation_plugin_spark.plans import relational

        assert relational.load_table is not registry.load_table
    finally:
        patches.undo()
    from data_preparation_plugin_spark.plans import relational

    assert relational.load_table is registry.load_table


def test_missing_wrappers_names_the_silent_ones():
    calls = {name: 1 for name in metrics.EXPECTED_SPANS["headline"]}
    assert metrics.missing_wrappers("headline", calls) == []
    calls.pop("plans.registry.load_table")
    assert metrics.missing_wrappers("headline", calls) == ["plans.registry.load_table"]


def _traced_run(workload: str) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", "1"],
        cwd=CHECKOUT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


slow = pytest.mark.skipif(
    os.environ.get("PERFBENCH_SLOW") != "1", reason="starts Spark; set PERFBENCH_SLOW=1"
)


@slow
@pytest.mark.parametrize("workload", metrics.WORKLOADS)
def test_traced_run_is_correct_and_bypasses_hold(workload):
    record, result = _traced_run(workload)
    assert result["correct"], record["checks"]
    assert result["failed"] == 0
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert set(m) == set(metrics.PER_LAYER)
    loads = m["plans.registry.load_table_calls"]
    assert (loads > 0) if workload != "etl_pipeline" else (loads == 0)
    assert (m["streaming.batches"] > 0) == (workload == "headline")
    assert (m["operators.Pipeline.run_s"] > 0) == (workload == "etl_pipeline")
