"""Alternating-subprocess A/B of one query across two checkouts.

VERDICT r16 #4: the suspected-regression band from the dirty marathons
(`dedup_simhash_hamming_pairs`, `sink_kept_corpus_export`,
`agg_hll_intersection_ie`, `curation_review_queue`) was written off as
burst artifacts via min-of-three; adjudicate each row with an
interleaved A/B against an r15-close worktree instead. Plans differ
across rounds, so the variants cannot share a session — each rep is a
FRESH subprocess (cold JVM, warmup rep at sf0.001 excluded, best-of-2
inside the subprocess), alternating A,B,A,B so both trees see the same
host drift (the same protocol that adjudicated knn_ivf_pq in r16).

Usage:
    python scripts/opt_ab_trees.py --tree-b /tmp/r15tree [--reps 3] name...
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
from pathlib import Path

# Self-contained on purpose: tree B may predate bench.run_noop/best_of.
SNIPPET = r"""
import json, os, sys, time
sys.path.insert(0, sys.argv[1])
os.chdir(sys.argv[1])
from data_preparation_plugin_spark import get_spark, plans
name = sys.argv[2]
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark(app_name="ab-trees")
spark.sparkContext.setLogLevel("ERROR")
builder = plans.QUERIES[name].builder
def run(df):
    df.write.format("noop").mode("overwrite").save()
run(builder(spark, "/root/testdata/sf0.001"))  # warmup, excluded
best = float("inf")
for _ in range(2):
    t0 = time.perf_counter()
    run(builder(spark, sf_dir))
    best = min(best, time.perf_counter() - t0)
print(json.dumps({"best": best}))
"""


def one(tree: str, name: str) -> float:
    out = subprocess.run(
        [sys.executable, "-c", SNIPPET, tree, name],
        capture_output=True,
        text=True,
        timeout=900,
        env=dict(os.environ),
    )
    line = out.stdout.strip().splitlines()[-1]
    return float(json.loads(line)["best"])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--tree-a", default=str(Path(__file__).resolve().parent.parent))
    ap.add_argument("--tree-b", required=True)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    for name in args.names:
        t: dict[str, list[float]] = {"a": [], "b": []}
        for _ in range(args.reps):
            for label, tree in (("a", args.tree_a), ("b", args.tree_b)):
                t[label].append(one(tree, name))
        amin, bmin = min(t["a"]), min(t["b"])
        print(
            f"{name}: HEAD min={amin:.3f} {t['a']} | "
            f"B min={bmin:.3f} {t['b']} | HEAD/B={amin / bmin:.2f}",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
