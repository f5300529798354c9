"""Optimization-round measurement harness.

Times individual registered queries in isolation against the noop sink
(best-of-N plus the cold first rep, via ``bench.best_of``) and/or dumps
``explain("formatted")`` to ``plans/<round>/<query>_<tag>.txt`` so plan
claims are auditable. ``--stages N`` times one shot per query instead and
then prints its top N stages by executor run time from the live UI REST
API (task counts, input/shuffle record counts); the mapping back to
operators goes through the SQL tab / the committed explain files.

Usage:
    python scripts/opt_measure.py --reps 3 name1 name2 ...
    python scripts/opt_measure.py --stages 15 name1 ...
    python scripts/opt_measure.py --explain before name1 ...
    python scripts/opt_measure.py --explain after --no-time name1 ...

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), OPT_ROUND (r16).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def print_stages(spark, first_job: int, top_n: int) -> None:
    """Top ``top_n`` completed stages of jobs ``>= first_job`` by
    executor run time, from the UI REST API."""
    import urllib.request

    sc = spark.sparkContext
    api = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    jobs = json.load(urllib.request.urlopen(f"{api}/jobs"))
    timed = {s for j in jobs if j["jobId"] >= first_job for s in j["stageIds"]}
    stages = json.load(urllib.request.urlopen(f"{api}/stages?status=complete"))
    rows = sorted(
        (
            (
                s["executorRunTime"],
                s["stageId"],
                s["numCompleteTasks"],
                s["inputRecords"],
                s["shuffleReadRecords"],
                s["shuffleWriteRecords"],
                s["name"].split("\n")[0][:70],
            )
            for s in stages
            if s["stageId"] in timed
        ),
        reverse=True,
    )
    for r in rows[:top_n]:
        print(
            f"run={r[0] / 1000:8.2f}s stage={r[1]:4d} tasks={r[2]:3d} "
            f"in={r[3]:10d} sr={r[4]:10d} sw={r[5]:10d} {r[6]}"
        )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument(
        "--stages",
        type=int,
        metavar="N",
        help="time one shot, then print its top N stages by run time",
    )
    ap.add_argument(
        "--explain",
        metavar="TAG",
        help="dump explain('formatted') to plans/<round>/<name>_<TAG>.txt",
    )
    ap.add_argument("--no-time", action="store_true")
    ap.add_argument("--no-warmup", action="store_true")
    args = ap.parse_args()

    from bench import WARMUP_SF_DIR, best_of, run_noop
    from data_preparation_plugin_spark import get_spark, plans

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    round_tag = os.environ.get("OPT_ROUND", "r16")
    spark = get_spark(app_name="dpp-opt-measure")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    reps = 1 if args.stages else args.reps

    out: dict[str, dict] = {}
    for name in args.names:
        builder = plans.QUERIES[name].builder
        if args.explain:
            plan_dir = Path(__file__).resolve().parent.parent / "plans" / round_tag
            plan_dir.mkdir(parents=True, exist_ok=True)
            df = builder(spark, sf_dir)
            text = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            (plan_dir / f"{name}_{args.explain}.txt").write_text(text)
        if args.no_time:
            continue
        sc.setJobDescription(f"opt:{name}")
        if not args.no_warmup:
            run_noop(builder(spark, WARMUP_SF_DIR))
        # Warm-up stages must not be attributed: jobs from here on are timed.
        first_job = int(sc._jsc.sc().dagScheduler().nextJobId())
        best, first = best_of(spark, builder, sf_dir, reps, None)
        sc.setJobDescription(None)
        out[name] = {"best": round(best, 3), "first": round(first, 3)}
        print(f"{name}: best={best:.3f} first={first:.3f}", flush=True)
        if args.stages:
            print_stages(spark, first_job, args.stages)

    if out:
        print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
