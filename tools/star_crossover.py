"""Measure the min-label vs large-star/small-star crossover on
high-diameter graphs — the evidence behind ``minlabel_budget`` in
``connected_components(algorithm="auto")`` (llm/cluster.py).

The ``auto`` path runs min-label (cheapest per round on the shallow
clique graphs near-dup dedup produces) and falls back to the O(log d)
star path after ``minlabel_budget`` rounds. That budget should be a
measured crossover, not a chosen constant: this tool times both
algorithms on synthetic chain forests of fixed edge count and varying
diameter, so the round where star overtakes min-label is read off a
table instead of argued.

Usage: python tools/star_crossover.py [total_edges] [diameters...]
Prints one JSON object; commit it to BENCH_NOTES when re-run.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from stream_processing_test_spark import profile
from stream_processing_test_spark.llm.cluster import connected_components
from stream_processing_test_spark.session import get_spark


def chain_forest(spark, total_edges: int, diameter: int):
    """~total_edges edges as disjoint chains of length ``diameter``
    (so every component has that diameter): node ids are globally
    unique; edge (i, i+1) within each chain."""
    per_chain = diameter  # edges per chain; nodes = diameter + 1
    n_chains = max(1, total_edges // per_chain)
    nodes_per = per_chain + 1
    ids = spark.range(n_chains * nodes_per)
    return (
        ids.filter((F.col("id") % nodes_per) != per_chain)
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    )


def main() -> int:
    total_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    diameters = (
        [int(d) for d in sys.argv[2:]] if len(sys.argv) > 2
        else [2, 4, 8, 16, 32, 64]
    )
    spark = get_spark("star-crossover")
    # warm BOTH algorithm paths (joins, checkpoints, codegen) on a
    # throwaway graph so the first timed run doesn't pay the JIT
    warm = chain_forest(spark, 500, 4).localCheckpoint(eager=True)
    for algo in ("minlabel", "star"):
        connected_components(warm, algorithm=algo, max_iter=50).count()
    repeats = 2  # interleaved rounds per diameter
    out = {"total_edges": total_edges, "by_diameter": {}}
    for d in diameters:
        # lazy over range(): profile.run releases pinned RDDs, so a
        # checkpointed edge frame would not survive the first run
        edges = chain_forest(spark, total_edges, d)
        samples: dict[str, list[float]] = {"minlabel": [], "star": []}
        jobs: dict[str, list[int]] = {"minlabel": [], "star": []}
        task_s: dict[str, list[float | None]] = {"minlabel": [], "star": []}
        for rep in range(repeats):  # interleaved A,B,A,B — throttle-fair
            for algo in ("minlabel", "star"):
                labels, rec = profile.run(
                    spark,
                    lambda: connected_components(
                        edges, algorithm=algo, max_iter=max(200, d)
                    ),
                    f"star:{d}:{algo}:{rep}",
                )
                samples[algo].append(round(rec["wall_s"], 3))
                # jobs = driver barriers, the cost a hop change moves
                jobs[algo].append(rec["jobs"])
                task_s[algo].append(rec["task_s"])
        row = {
            "minlabel": min(samples["minlabel"]),
            "star": min(samples["star"]),
            "n_nodes": labels.count(),
            "samples": samples,
            "jobs": jobs,
            "task_s": task_s,
        }
        row["ratio_star_over_minlabel"] = round(
            row["star"] / row["minlabel"], 3
        )
        out["by_diameter"][d] = row
        print(f"# d={d}: {row}", file=sys.stderr)
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
