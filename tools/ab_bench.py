"""Interleaved A/B benchmark of two arms, per query.

    AB_QUERIES=q1,q2,... python tools/ab_bench.py <arm_a> <arm_b> [rounds]

Each arm is either a checkout path (tree vs tree: that tree's code and
session factory as shipped) or ``KEY=VAL`` (this checkout with one
environment variable set — e.g. ``SPARK_GRAFT_BYPASS_THRESHOLD=200`` to
isolate one session knob). ``AB_QUERIES`` (comma-separated registered
query names) is required.

Each arm runs in its own subprocess (own JVM; two trees share a package
name, so they cannot share a session), alternating A,B,A,B,... so a CPU
throttle window cannot poison only one side. Every child runs the same
protocol: warmup (range count + region noop write), then each query
through the noop sink after dropping the previous query's caches and
localCheckpoint pins (``clearCache`` + ``session.release_pinned_rdds``,
as bench.py does). Per-query minima across rounds are compared; result
JSON on stdout, per-round samples on stderr.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, sys.argv[1])
os.chdir(sys.argv[1])
from stream_processing_test_spark.registry import all_queries
from stream_processing_test_spark.session import get_spark, release_pinned_rdds

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("ab-bench")
spark.range(1000).count()
spark.read.parquet(os.path.join(sf_dir, "region.parquet")).write.format(
    "noop"
).mode("overwrite").save()
specs = all_queries()
out = {}
for name in json.loads(sys.argv[2]):
    spark.catalog.clearCache()
    release_pinned_rdds(spark)
    t0 = time.time()
    specs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    out[name] = round(time.time() - t0, 3)
print("ABRESULT " + json.dumps(out))
"""


def run_arm(arm: str, queries: list[str]) -> dict[str, float]:
    """One child run of ``arm``: a checkout path, or KEY=VAL on REPO."""
    env = dict(os.environ)
    if os.path.isdir(arm):
        tree = arm
    else:
        key, eq, val = arm.partition("=")
        if not eq:
            raise SystemExit(f"arm {arm!r} is neither a directory nor KEY=VAL")
        tree, env[key] = REPO, val
    proc = subprocess.run(
        [sys.executable, "-c", CHILD, tree, json.dumps(queries)],
        capture_output=True,
        text=True,
        timeout=1800,
        env=env,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    raise RuntimeError(
        f"no result for {arm}: rc={proc.returncode}\n{proc.stderr[-2000:]}"
    )


def main() -> None:
    arm_a, arm_b = sys.argv[1], sys.argv[2]
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    queries = [q for q in os.environ.get("AB_QUERIES", "").split(",") if q]
    if not queries:
        raise SystemExit("set AB_QUERIES=q1,q2,...")
    samples: dict[str, dict[str, list[float]]] = {
        "a": {q: [] for q in queries},
        "b": {q: [] for q in queries},
    }
    for i in range(rounds):
        for side, arm in (("a", arm_a), ("b", arm_b)):
            res = run_arm(arm, queries)
            for q, t in res.items():
                samples[side][q].append(t)
            print(f"round {i} {side} {arm} {res}", file=sys.stderr)
    result = {
        "arm_a": arm_a,
        "arm_b": arm_b,
        "rounds": rounds,
        "queries": {
            q: {
                "a_min": min(samples["a"][q]),
                "b_min": min(samples["b"][q]),
                "ratio_b_over_a": round(
                    min(samples["b"][q]) / max(min(samples["a"][q]), 1e-9), 3
                ),
                "a_samples": samples["a"][q],
                "b_samples": samples["b"][q],
            }
            for q in queries
        },
    }
    print(json.dumps(result, indent=1))


if __name__ == "__main__":
    main()
