#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 5 --trace 0

One process, one closed-loop client: the next operation starts when the
previous one returns. The run

1. makes a private run directory inside the checkout and points TMPDIR,
   SPARK_LOCAL_DIRS, java.io.tmpdir, the warehouse and the working
   directory at it, so no state leaks between runs or into the repo;
2. starts ``local[N]`` Spark with N = ``nproc``, stages the workload's
   seeded inputs, runs one tiny first job and the workload's untimed
   warm-up passes (together: ``setup_s``);
3. runs timed passes over the workload's operations, shuffled by the
   seed, until ``--seconds`` have passed (at least two);
4. checks the outputs, untimed: query results collected in the first
   warm-up pass, and the tables the last timed pass wrote;
5. prints the run record, then ONE JSON result line, last.

``--trace 1`` alternates untraced and traced passes (at least three,
untraced first and last), reports the per-layer
metrics from the traced ones and writes the spans to
``.perfbench_out/`` in the checkout. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
CHECKOUT = HERE.parent
RUN_ROOT = CHECKOUT / ".perfbench_run"
OUT_DIR = CHECKOUT / ".perfbench_out"

sys.path.insert(0, str(HERE))
sys.path.insert(0, str(CHECKOUT))

import metrics as M  # noqa: E402
import stats  # noqa: E402


def process_start_time() -> float:
    """Wall-clock time this process was started (Linux /proc), or now."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as fh:
            btime = next(int(l.split()[1]) for l in fh if l.startswith("btime"))
        return btime + start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return time.time()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0, sum(vals))
    except OSError:
        return (0, 0)


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, with reaped children) of ``root`` and
    every live descendant: this process, the driver JVM and the Python
    workers it starts. Time the host steals from the guest is not in it."""
    procs: dict[int, tuple[int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited meanwhile
        # After the command: state, ppid, ..., utime stime cutime cstime.
        procs[int(entry)] = (int(fields[1]), sum(int(v) for v in fields[11:15]))
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(child for child, (ppid, _) in procs.items() if ppid == pid)
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


@dataclass
class Sample:
    pass_idx: int
    traced: bool
    name: str
    seconds: float
    error: str | None


class Runner:
    """Times operations and attributes Spark jobs to them."""

    def __init__(self, spark, tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self.samples: list[Sample] = []
        self.job_ranges: dict[str, tuple[int, int]] = {}
        self.pass_idx = -1

    @contextmanager
    def op(self, name: str):
        traced = self.tracer.enabled
        op_id = f"p{self.pass_idx}.{len(self.samples)}.{name}"
        if traced:
            self.tracer.op_id = op_id
            self.spark.sparkContext.setJobGroup(op_id, name)
            job0 = self.tracer.next_job_id()
        error = None
        t0 = time.perf_counter()
        try:
            yield
        except Exception:  # one failed operation must not end the run
            error = traceback.format_exc()
        dt = time.perf_counter() - t0
        if traced:
            self.job_ranges[op_id] = (job0, self.tracer.next_job_id())
            self.tracer.op_id = None
        self.samples.append(Sample(self.pass_idx, traced, name, dt, error))


def isolate(run_dir: Path) -> None:
    for sub in ("tmp", "local", "warehouse", "cwd"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(run_dir / "cwd")


def start_spark(run_dir: Path, cores: int):
    from data_preparation_plugin_spark import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        warehouse_dir=str(run_dir / "warehouse"),
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    except Exception:
        pass  # the JVM may already be gone; the wait below is what matters
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def run_context(spark, args, steal_pct, load0) -> dict:
    import pyspark

    sc = spark.sparkContext
    # The checkout may have no git metadata of its own; a parent directory's
    # repository would name the wrong commit, so require it to be ours.
    git, git_reason = None, "not a git checkout"
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=CHECKOUT,
            capture_output=True, text=True, timeout=10,
        ).stdout.split()
        if len(out) == 2 and Path(out[0]).resolve() == CHECKOUT:
            git, git_reason = out[1], None
    except (OSError, subprocess.SubprocessError) as exc:
        git_reason = f"git unavailable: {exc!r}"
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "cores_in_use": sc.defaultParallelism,
        "nproc": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "steal_pct": steal_pct,
        "loadavg_start": load0,
        "spark_version": spark.version,
        "pyspark_version": pyspark.__version__,
        "java_version": sc._jvm.System.getProperty("java.version"),
        "python_version": sys.version.split()[0],
        "git_commit": git,
        "git_commit_reason": git_reason,
        "source_digest": M.source_digest(CHECKOUT / "data_preparation_plugin_spark"),
    }


def main(argv: list[str] | None = None) -> int:
    t_proc = process_start_time()
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(M.WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    # A SIGTERM (e.g. from ``timeout``) unwinds through ``finally`` below,
    # so the JVM is stopped and waited for and the run directory removed.
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    run_dir = RUN_ROOT / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir)
    load0 = os.getloadavg()[0]
    spark = None
    try:
        from tracing import Patches, StreamProgress, Tracer, stage_metrics

        import data_preparation_plugin_spark  # noqa: F401  (fails fast if absent)
        from workloads import WORKLOADS

        cores = len(os.sched_getaffinity(0))
        t_spark0 = time.perf_counter()
        spark = start_spark(run_dir, cores)
        get_spark_s = time.perf_counter() - t_spark0
        t_ready = time.time()
        tracer = Tracer(spark)

        workload = WORKLOADS[args.workload](spark, tracer, str(run_dir), args.seed)
        # Traced runs also record the staging spans (plans.events.stage_s).
        tracer.enabled = bool(args.trace)
        t0 = time.perf_counter()
        workload.stage()
        staging_s = time.perf_counter() - t0
        tracer.enabled = False
        # The first Spark job of a process pays JVM class loading and JIT;
        # charge it to set-up, not to whichever operation happens to run
        # first in the seeded order.
        t0 = time.perf_counter()
        workload.first_job()
        first_job_s = time.perf_counter() - t0
        # Untimed passes: the per-query JIT, codegen and Python-worker
        # start-up is paid here, so a seed's order does not decide which
        # query pays it. The first also collects the results for the check.
        runner = Runner(spark, tracer)
        t0 = time.perf_counter()
        for i in range(workload.warmup_passes):
            workload.run_pass(runner, list(workload.ops), keep_results=i == 0)
        warmup_s = time.perf_counter() - t0
        warmup_failures = [s.name for s in runner.samples if s.error]
        runner.samples.clear()
        setup_s = (t_ready - t_proc) + staging_s + first_job_s + warmup_s

        patches = Patches(tracer)
        progress = StreamProgress()
        if args.trace:
            from data_preparation_plugin_spark import plans, streaming
            from data_preparation_plugin_spark.streaming import events as sev

            patches.patch_bindings(
                "data_preparation_plugin_spark.plans", "load_table",
                plans.registry.load_table, "plans.registry.load_table",
            )
            # Builders import run_to_memory at call time from either module.
            for owner in (streaming, sev):
                patches.patch(owner, "run_to_memory", "streaming.run_to_memory")
            spark.streams.addListener(progress.listener())

        rng = random.Random(args.seed)
        passes = []
        steal0, total0 = cpu_ticks()
        t_begin = time.perf_counter()
        # At least two timed passes: with one, a pass shorter than
        # --seconds would sometimes add a second and change the sample
        # count op_tail_s is taken from. Traced runs alternate untraced and
        # traced passes (at least U, T, U), so the tracing overhead is a
        # traced pass against its neighbours.
        min_passes = 3 if args.trace else 2
        while True:
            runner.pass_idx += 1
            traced = bool(args.trace) and runner.pass_idx % 2 == 1
            tracer.enabled = traced
            order = list(workload.ops)
            rng.shuffle(order)
            c0 = tree_cpu_s(os.getpid())
            w0, t0 = time.time(), time.perf_counter()
            workload.run_pass(runner, order)
            t1 = time.perf_counter()
            passes.append({"traced": traced, "wall_s": t1 - t0, "t0": t0,
                           "t1": t1, "w0": w0, "w1": time.time(),
                           "cpu_s": tree_cpu_s(os.getpid()) - c0})
            if (
                len(passes) >= min_passes
                and not traced
                and time.perf_counter() - t_begin >= args.seconds
            ):
                break
        tracer.enabled = False
        steal1, total1 = cpu_ticks()
        dt = total1 - total0
        steal_pct = round(100.0 * (steal1 - steal0) / dt, 3) if dt > 0 else None

        failures = {s.name: s.error for s in runner.samples if s.error}
        checks = workload.check()
        bad_checks = {k: v for k, v in checks.items() if v}
        attempted = len(runner.samples)
        failed = sum(
            1 for s in runner.samples if s.error or s.name in bad_checks
        )

        jvm_pid = getattr(spark.sparkContext._gateway, "proc", None)
        jvm_kb = peak_rss_kb(jvm_pid.pid) if jvm_pid is not None else None
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        peak_rss_mb = ((jvm_kb or 0) + py_kb) / 1024.0

        record = {
            "context": run_context(spark, args, steal_pct, load0),
            "setup": {"process_to_spark_s": t_ready - t_proc,
                      "get_spark_s": get_spark_s, "staging_s": staging_s,
                      "first_job_s": first_job_s, "warmup_s": warmup_s,
                      "warmup_failures": warmup_failures},
            "passes": [{k: p[k] for k in ("traced", "wall_s", "cpu_s")} for p in passes],
            "failures": {k: v.strip().splitlines()[-1] for k, v in failures.items()},
            "op_median_s": {
                name: stats.median(s.seconds for s in runner.samples if s.name == name)
                for name in workload.ops
            },
            "checks": checks,
            "peak_rss_kb": {"jvm": jvm_kb, "python": py_kb},
        }
        untraced = [p for p in passes if not p["traced"]]
        summary = M.end_to_end(
            setup_s=setup_s,
            pass_walls=[p["wall_s"] for p in untraced],
            pass_cpus=[p["cpu_s"] for p in untraced],
            op_seconds=[s.seconds for s in runner.samples if not s.traced],
            input_rows=workload.input_rows,
        )
        record["op_samples"] = summary.pop("_op_samples")
        record["op_tail_pct"] = summary.pop("_op_tail_pct")
        record["summary"] = summary

        if args.trace:
            patches.undo()
            time.sleep(0.5)  # let the listener bus deliver the last progress
            per_op, rest_note = stage_metrics(spark, runner.job_ranges)
            layer, notes = M.per_layer(
                workload=args.workload,
                tracer=tracer,
                passes=passes,
                samples=runner.samples,
                per_op=per_op,
                rest_note=rest_note,
                batches=progress.batches,
                cores=cores,
                get_spark_s=get_spark_s,
                readback_rows=getattr(workload, "readback_rows", 0),
                input_bytes=M.tree_bytes(getattr(workload, "inputs", "")),
            )
            layer["failed_frac"] = failed / max(1, len(runner.samples))
            layer["peak_rss_mb"] = peak_rss_mb
            layer.update((k, v) for k, v in summary.items() if k in M.PER_LAYER)
            record["layer_notes"] = notes
            missing = M.missing_wrappers(args.workload, tracer.calls)
            if missing:
                bad_checks["wrappers"] = f"wrappers saw no call: {missing}"
                record["checks"]["wrappers"] = bad_checks["wrappers"]
            OUT_DIR.mkdir(exist_ok=True)
            tracer.dump(str(OUT_DIR / f"{args.workload}-seed{args.seed}-spans.json"))
            metrics = layer
        else:
            metrics = {k: summary[k] for k in M.END_TO_END}

        print(json.dumps(record, default=str))
        result = {
            "correct": not bad_checks and not failures,
            "attempted": attempted,
            "failed": failed,
            "metrics": M.emit(metrics, per_layer=bool(args.trace)),
        }
        print(json.dumps(result))
        return 0
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            os.chdir(CHECKOUT)
            shutil.rmtree(run_dir, ignore_errors=True)
        try:
            RUN_ROOT.rmdir()
        except OSError:
            pass  # another run still owns a directory there


if __name__ == "__main__":
    sys.exit(main())
