"""Metric declarations and the arithmetic that turns samples into metrics.

Every metric the benchmark prints is declared here with its unit, and
``BENCHMARK.json`` declares the same names (a test keeps the two equal).
:func:`emit` refuses an undeclared name, so a metric cannot appear in the
output without a declaration.
"""

from __future__ import annotations

import datetime
import hashlib
import os
from pathlib import Path

import stats

WORKLOADS = ("headline", "etl_pipeline")

#: Bounded metrics. Pass wall time swings with the CPU time the host steals
#: from a shared machine (README.md, "Why CPU time"), so the bounded cost
#: of a pass is its CPU time; the wall-clock figures are per-layer.
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
}

OPERATOR_CLASSES = (
    "CsvLoadOperator",
    "FilterOperator",
    "ComputeOperator",
    "RegexExtractOperator",
    "JoinOperator",
    "AggregateOperator",
)

PER_LAYER = {
    "session.get_spark_s": "s",
    "plans.events.stage_s": "s",
    "plans.registry.load_table_s": "s",
    "plans.registry.load_table_calls": "count",
    "plans.registry.load_table_jobs": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "spark.plan_s": "s",
    "spark.execute_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.core_busy_frac": "fraction",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.broadcast_exchanges": "count",
    "spark.reused_exchanges": "count",
    **{f"operators.{c}.execute_s": "s" for c in OPERATOR_CLASSES},
    "operators.Pipeline.run_s": "s",
    "dataset.write_with_schema_s": "s",
    "dataset.write_with_schema_jobs": "count",
    "dataset.get_dataframes_s": "s",
    "dataset.get_dataframes_rows_per_s": "1/s",
    "dataset.writer_flush_s": "s",
    "layout.write_partitioned_s": "s",
    "layout.merge_upsert_s": "s",
    "layout.compact_table_s": "s",
    "layout.files_written": "count",
    "layout.bytes_written_per_input_byte": "ratio",
    "streaming.run_to_memory_s": "s",
    "streaming.batches": "count",
    "streaming.batch_p50_ms": "ms",
    "streaming.rows_per_batch": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "tracing.overhead_s": "s",
    "failed_frac": "fraction",
    "peak_rss_mb": "MB",
    "op_p50_s": "s",
    "wall_s": "s",
    "op_tail_s": "s",
    "rows_per_s": "1/s",
}

#: Spans that must see at least one call on each workload's traced run. A
#: renamed ``load_table`` binding or ``run_to_memory`` would otherwise read
#: as zero instead of failing.
EXPECTED_SPANS = {
    "headline": {
        "plans.build", "plans.registry.load_table", "plans.events.stage",
        "streaming.run_to_memory", "spark.plan", "spark.execute",
    },
    "etl_pipeline": {
        "operators.Pipeline.run",
        *(f"operators.{c}.execute" for c in OPERATOR_CLASSES),
        "dataset.write_with_schema", "dataset.get_dataframes",
        "dataset.writer_flush", "layout.write_partitioned",
        "layout.merge_upsert", "layout.compact_table",
    },
}


def missing_wrappers(workload: str, calls: dict[str, int]) -> list[str]:
    return sorted(n for n in EXPECTED_SPANS[workload] if not calls.get(n))


def emit(values: dict[str, float], per_layer: bool) -> dict[str, dict]:
    """Shape ``values`` as the result line's ``metrics`` object.

    Every declared metric of the requested set must be present, and no
    undeclared one may be.
    """
    declared = PER_LAYER if per_layer else END_TO_END
    extra = set(values) - set(declared)
    missing = set(declared) - set(values)
    if extra or missing:
        raise ValueError(f"metric set differs from declaration: +{extra} -{missing}")
    return {n: {"value": float(values[n]), "unit": declared[n]} for n in declared}


def end_to_end(
    setup_s: float,
    pass_walls: list[float],
    pass_cpus: list[float],
    op_seconds: list[float],
    input_rows: int,
) -> dict[str, float]:
    """Every run-level figure; ``END_TO_END`` names the bounded ones."""
    wall = stats.median(pass_walls)
    tail, pct, n = stats.tail(op_seconds)
    return {
        "setup_s": setup_s,
        "cpu_s": stats.median(pass_cpus),
        "wall_s": wall,
        "op_p50_s": stats.median(op_seconds),
        "op_tail_s": tail,
        "rows_per_s": input_rows / wall,
        "_op_samples": n,
        "_op_tail_pct": pct,
    }


def _in_pass(span, p) -> bool:
    return p["t0"] <= span.start <= p["t1"]


def _progress_epoch(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def per_layer(
    workload: str,
    tracer,
    passes: list[dict],
    samples: list,
    per_op: dict | None,
    rest_note: str | None,
    batches: list[dict],
    cores: int,
    get_spark_s: float,
    readback_rows: int,
    input_bytes: int,
) -> tuple[dict[str, float], list[str]]:
    """Per-layer metrics: per traced pass, then the median over passes."""
    notes = []
    traced = [p for p in passes if p["traced"]]
    spans = tracer.spans
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def jobs(s) -> int:
        lo, hi = s.attrs.get("jobs", (0, 0))
        return hi - lo

    rows: list[dict[str, float]] = []
    for p in traced:
        ps = [s for s in spans if _in_pass(s, p)]

        def total(name, ps=ps):
            return sum(s.end - s.start for s in ps if s.name == name)

        builds = [s for s in ps if s.name == "plans.build"]
        loads = [s for s in ps if s.name == "plans.registry.load_table"]
        row = {
            "plans.registry.load_table_s": total("plans.registry.load_table"),
            "plans.registry.load_table_calls": len(loads),
            "plans.registry.load_table_jobs": sum(jobs(s) for s in loads),
            "plans.build_s": sum(
                stats.self_time(
                    (b.start, b.end),
                    [(c.start, c.end) for c in children.get(b.span_id, [])],
                )
                for b in builds
            ),
            "plans.build_jobs": sum(
                jobs(b) - sum(jobs(c) for c in children.get(b.span_id, []))
                for b in builds
            ),
            "spark.plan_s": total("spark.plan"),
            "spark.broadcast_exchanges": sum(
                s.attrs.get("broadcast_exchanges", 0) for s in ps if s.name == "spark.plan"
            ),
            "spark.reused_exchanges": sum(
                s.attrs.get("reused_exchanges", 0) for s in ps if s.name == "spark.plan"
            ),
            "operators.Pipeline.run_s": total("operators.Pipeline.run"),
            "dataset.write_with_schema_s": total("dataset.write_with_schema"),
            "dataset.write_with_schema_jobs": sum(
                jobs(s) for s in ps if s.name == "dataset.write_with_schema"
            ),
            "dataset.get_dataframes_s": total("dataset.get_dataframes"),
            "dataset.writer_flush_s": total("dataset.writer_flush"),
            "layout.write_partitioned_s": total("layout.write_partitioned"),
            "layout.merge_upsert_s": total("layout.merge_upsert"),
            "layout.compact_table_s": total("layout.compact_table"),
            "layout.files_written": sum(
                s.attrs.get("files", 0) for s in ps if s.name == "layout.write_partitioned"
            ),
            "streaming.run_to_memory_s": total("streaming.run_to_memory"),
        }
        for c in OPERATOR_CLASSES:
            row[f"operators.{c}.execute_s"] = total(f"operators.{c}.execute")
        written = sum(
            s.attrs.get("bytes", 0) for s in ps if s.name == "layout.write_partitioned"
        )
        row["layout.bytes_written_per_input_byte"] = (
            written / input_bytes if input_bytes else 0.0
        )
        get_df = row["dataset.get_dataframes_s"]
        row["dataset.get_dataframes_rows_per_s"] = readback_rows / get_df if get_df else 0.0
        execute = total("spark.execute")
        if workload == "etl_pipeline":
            # Operators plan and execute inside one call; at the benchmark's
            # boundary the whole operation is execution.
            execute = sum(s.seconds for s in samples if s.pass_idx == passes.index(p))
        row["spark.execute_s"] = execute

        ops = [
            v for k, v in (per_op or {}).items()
            if k.startswith(f"p{passes.index(p)}.")
        ]
        for key in (
            "jobs", "stages", "tasks", "tasks_failed", "executor_run_s",
            "executor_cpu_s", "jvm_gc_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes",
        ):
            row[f"spark.{key}"] = sum(o[key] for o in ops) if per_op is not None else 0.0
        row["spark.core_busy_frac"] = row["spark.executor_run_s"] / (
            (p["t1"] - p["t0"]) * cores
        )

        w0, w1 = p["w0"], p["w1"]
        pb = [b for b in batches if w0 <= _progress_epoch(b["timestamp"]) <= w1]
        dur = [b["duration_ms"] for b in pb]
        row["streaming.batches"] = len(pb)
        row["streaming.batch_p50_ms"] = stats.median(
            d.get("triggerExecution", 0) for d in dur
        )
        row["streaming.rows_per_batch"] = (
            sum(b["rows"] for b in pb) / len(pb) if pb else 0.0
        )
        for metric, key in (
            ("add_batch_ms", "addBatch"),
            ("query_planning_ms", "queryPlanning"),
            ("wal_commit_ms", "walCommit"),
            ("commit_offsets_ms", "commitOffsets"),
        ):
            row[f"streaming.{metric}"] = sum(d.get(key, 0) for d in dur)
        row["streaming.state_rows"] = max((b["state_rows"] for b in pb), default=0)
        row["streaming.state_memory_bytes"] = max(
            (b["state_memory_bytes"] for b in pb), default=0
        )
        rows.append(row)

    out = {k: stats.median(r[k] for r in rows) for k in rows[0]}
    if per_op is None:
        notes.append(f"spark.* stage metrics set to 0: {rest_note}")
    elif rest_note:
        notes.append(rest_note)
    out["session.get_spark_s"] = get_spark_s
    out["plans.events.stage_s"] = stats.median(
        [s.end - s.start for s in spans if s.name == "plans.events.stage"] or [0.0]
    )
    # Each traced pass against the mean of the untraced passes around it.
    deltas = []
    for i, p in enumerate(passes):
        if p["traced"]:
            around = [q["wall_s"] for q in passes[i - 1 : i + 2] if not q["traced"]]
            deltas.append(p["wall_s"] - sum(around) / len(around))
    out["tracing.overhead_s"] = stats.median(deltas)
    return out, notes


def source_digest(root: Path) -> str:
    """sha256 over the program's Python sources: identifies the code under
    test when the checkout has no git metadata."""
    h = hashlib.sha256()
    for path in sorted(root.rglob("*.py")):
        h.update(str(path.relative_to(root)).encode())
        h.update(path.read_bytes())
    return h.hexdigest()[:16]


def tree_bytes(root: str) -> int:
    if not root or not os.path.isdir(root):
        return 0
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    )
