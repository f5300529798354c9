"""Spans, call wrappers and Spark-side counters for the traced run.

Everything here lives in the benchmark: spans are recorded around calls
*into* the program's public functions, never inside the program. A
:class:`Tracer` keeps spans in memory and the run writes them out once, at
the end. When ``enabled`` is false every wrapper is a plain pass-through,
so one process can alternate untraced and traced passes and report the
tracing overhead as the difference.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import pkgutil
import threading
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field
from typing import Any


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    op_id: str | None
    attrs: dict[str, Any] = field(default_factory=dict)


class Tracer:
    """In-memory span recorder with a per-thread parent stack."""

    def __init__(self, spark) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.calls: dict[str, int] = {}
        self.op_id: str | None = None
        self._spark = spark
        self._stack = threading.local()
        self._next = 0

    def _parents(self) -> list[int]:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    def next_job_id(self) -> int:
        return int(self._spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any):
        if not self.enabled:
            yield attrs
            return
        self.calls[name] = self.calls.get(name, 0) + 1
        parents = self._parents()
        self._next += 1
        sid = self._next
        parent = parents[-1] if parents else None
        parents.append(sid)
        job0 = self.next_job_id()
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            parents.pop()
            attrs["jobs"] = (job0, self.next_job_id())
            self.spans.append(Span(sid, name, start, end, parent, self.op_id, attrs))

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


class Patches:
    """Install tracer wrappers on module or class attributes; undo on exit."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self._undo: list[tuple[Any, str, Any]] = []

    def patch(self, owner: Any, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        self._undo.append((owner, attr, original))
        setattr(owner, attr, self.tracer.wrap(original, name))

    def patch_bindings(self, package: str, attr: str, target: Any, name: str) -> list[str]:
        """Wrap every module-level binding of ``target`` under ``package``
        (``from x import load_table`` copies the function into each module,
        so patching the defining module alone would miss the callers)."""
        pkg = importlib.import_module(package)
        modules = [pkg] + [
            importlib.import_module(f"{package}.{m.name}")
            for m in pkgutil.iter_modules(pkg.__path__)
        ]
        patched = []
        for mod in modules:
            if getattr(mod, attr, None) is target:
                self.patch(mod, attr, name)
                patched.append(mod.__name__)
        return patched

    def undo(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)


class StreamProgress:
    """Per-micro-batch progress from a Python ``StreamingQueryListener``."""

    def __init__(self) -> None:
        self.batches: list[dict[str, Any]] = []
        self._lock = threading.Lock()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                state = p.stateOperators or []
                row = {
                    "name": p.name,
                    "batch_id": p.batchId,
                    "timestamp": p.timestamp,
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs or {}),
                    "state_rows": sum(s.numRowsTotal for s in state),
                    "state_memory_bytes": sum(s.memoryUsedBytes for s in state),
                    "at": time.perf_counter(),
                }
                with sink._lock:
                    sink.batches.append(row)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()


def rest_json(ui_url: str, path: str, timeout: float = 10.0):
    with urllib.request.urlopen(f"{ui_url}{path}", timeout=timeout) as resp:
        return json.load(resp)


def stage_metrics(spark, job_ranges: dict[str, tuple[int, int]], wait_s: float = 15.0):
    """Per-op stage totals from the UI REST API.

    ``job_ranges`` maps an op id to the ``[first, last)`` job ids it fired.
    Returns ``(per_op, None)`` or ``(None, reason)`` when the REST API is
    unavailable, so the caller can null the fields with the reason.
    """
    sc = spark.sparkContext
    ui = sc.uiWebUrl
    if not ui:
        return None, "spark.ui.enabled is false: no REST API"
    app = sc.applicationId
    last = max((hi for _, hi in job_ranges.values()), default=0)
    deadline = time.monotonic() + wait_s
    try:
        while True:
            # The UI store is fed by the asynchronous listener bus: wait
            # until every job the run fired is final there.
            jobs = rest_json(ui, f"/api/v1/applications/{app}/jobs")
            final = {
                j["jobId"]
                for j in jobs
                if j["status"] in ("SUCCEEDED", "FAILED")
                and j["numActiveTasks"] == 0
            }
            if all(i in final for i in range(last)) or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        stages = rest_json(ui, f"/api/v1/applications/{app}/stages")
    except (urllib.error.URLError, OSError, ValueError) as exc:
        return None, f"REST API unavailable: {exc!r}"
    missing = [i for i in range(last) if i not in final]
    by_stage: dict[int, list[dict]] = {}
    for s in stages:
        if s["status"] in ("COMPLETE", "FAILED"):
            by_stage.setdefault(s["stageId"], []).append(s)
    job_stages = {j["jobId"]: j["stageIds"] for j in jobs}
    per_op = {}
    for op, (lo, hi) in job_ranges.items():
        sids = {sid for jid in range(lo, hi) for sid in job_stages.get(jid, [])}
        acc = dict.fromkeys(
            (
                "stages", "tasks", "tasks_failed", "executor_run_s",
                "executor_cpu_s", "jvm_gc_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "input_bytes",
                "output_bytes",
            ),
            0.0,
        )
        for sid in sids:
            for s in by_stage.get(sid, []):
                acc["stages"] += 1
                acc["tasks"] += s["numCompleteTasks"]
                acc["tasks_failed"] += s["numFailedTasks"]
                acc["executor_run_s"] += s["executorRunTime"] / 1e3
                acc["executor_cpu_s"] += s["executorCpuTime"] / 1e9
                acc["jvm_gc_s"] += s["jvmGcTime"] / 1e3
                acc["shuffle_read_bytes"] += s["shuffleReadBytes"]
                acc["shuffle_write_bytes"] += s["shuffleWriteBytes"]
                acc["spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                acc["input_bytes"] += s["inputBytes"]
                acc["output_bytes"] += s["outputBytes"]
        acc["jobs"] = hi - lo
        per_op[op] = acc
    note = f"{len(missing)} jobs not final in the UI store" if missing else None
    return per_op, note
