"""Physical-plan audit: for every headline query, extract the plan
properties that decide 100 TB viability and write PLANS.md.

For each query we record:
- parquet scans, with pushed filters and the read schema (column
  pruning evidence);
- join strategies (broadcast vs shuffle) and shuffle-exchange count;
- whole-stage-codegen span count (JVM-side evidence) and any
  Python/Arrow stages (the deliberate exceptions: stateful streaks,
  multimodal kernels, probe connector);
- single-partition windows (allowed only in report-page output paths).

Usage: python tools/audit_plans.py [sf_dir] > /dev/null  (writes PLANS.md)
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from stream_processing_test_spark.registry import (
    PLAN_OPAQUE_QUERIES,
    all_queries,
)
from stream_processing_test_spark.session import get_spark


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def codegen_spans(df) -> int:
    """Whole-stage-codegen span count from the simple plan (the
    formatted mode drops the *(n) codegen markers)."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return len(set(re.findall(r"\*\((\d+)\)", buf.getvalue())))


def audit(plan: str) -> dict:
    scans = len(set(re.findall(r"Scan (?:parquet|json|csv|orc)[^\n]*\((\d+)\)", plan)))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    read_cols = sorted({c.split(":")[0] for s in schemas for c in s.split(",") if c})
    bhj = len(re.findall(r"\(\d+\) BroadcastHashJoin", plan))
    smj = len(re.findall(r"\(\d+\) SortMergeJoin", plan))
    # r17: count shuffled-hash joins too — the r16 audit had no SHJ
    # column, so a join-strategy knob could flip a join to SHJ and
    # appear as "0 BHJ / 0 SMJ" (exactly how the preferSortMergeJoin
    # experiment hid on q5/q10 at the sf0.001 audit scale)
    shj = len(re.findall(r"\(\d+\) ShuffledHashJoin", plan))
    shuffles = len(
        set(re.findall(r"(?<!Broadcast)Exchange[^\n]*\((\d+)\)", plan))
    )
    codegen = len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan)))
    py_stages = len(re.findall(r"(MapInPandas|ArrowEvalPython|FlatMapGroupsInPandas)", plan))
    return {
        "scans": scans,
        "pushed": sum(1 for p in pushed if p.strip()),
        "read_cols": len(read_cols),
        "bhj": bhj,
        "smj": smj,
        "shj": shj,
        "shuffles": shuffles,
        "codegen": codegen,
        "py": py_stages,
        "single_part": "SinglePartition" in plan,
        # finish_with()/streaming queries return a frame whose lineage
        # was cut by localCheckpoint — the interesting plan already ran
        # inside the query function; zeros here mean "hidden", not
        # "scan-free". The full plans for these are asserted piecewise
        # in tests/test_scale_layout.py instead.
        "materialized": "Scan ExistingRDD" in plan and scans == 0,
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import bench

    spark = get_spark("plan-audit")
    specs = all_queries()

    headline = set(bench.HEADLINE)
    rows = []
    skipped = [(n, why) for n, why in sorted(PLAN_OPAQUE_QUERIES.items())]
    for name in sorted(specs):
        if name in PLAN_OPAQUE_QUERIES:
            continue
        fn = specs[name].fn
        try:
            # streaming / stateful queries materialize in fn(); their
            # returned frame is a memory-sink table, not a query plan —
            # audit the batch plan where one exists, else skip.
            df = fn(spark, sf_dir)
            a = audit(plan_of(df))
            a["codegen"] = codegen_spans(df)
        except Exception as e:  # pragma: no cover - defensive
            skipped.append((name, str(e).splitlines()[0][:80]))
            continue
        a["headline"] = name in headline
        rows.append((name, a))

    out = io.StringIO()
    out.write("# PLANS — physical-plan audit of every registered query\n\n")
    out.write(
        f"Generated by `tools/audit_plans.py` at sf_dir={sf_dir}. Every\n"
        "registered query is audited (bench-headline queries marked `•`);\n"
        "queries that cannot produce a lazy plan (streaming sinks,\n"
        "materialize-in-function) are listed at the bottom with the reason.\n"
        "Columns:\n"
        "parquet scans / scans with pushed filters / distinct columns read\n"
        "(pruning), broadcast vs sort-merge joins, shuffle exchanges,\n"
        "whole-stage-codegen spans, Python/Arrow stages (deliberate slow-path\n"
        "exceptions only), and whether any single-partition stage exists\n"
        "(allowed only in report-page outputs and k-row seed windows).\n\n"
    )
    out.write(
        "Rows marked *(materialized)* ran their heavy plan inside the query\n"
        "function (finish_with/localCheckpoint or a streaming sink); their\n"
        "stage-by-stage shape is asserted in tests/test_scale_layout.py.\n"
        "`codegen` undercounts under AQE: spans only annotate the final\n"
        "executed plan, so 0 here means \"wrapped in AdaptiveSparkPlan\",\n"
        "not \"interpreted\" — the py column is the real slow-path signal.\n\n"
    )
    out.write(
        "| query | hl | scans | pushed | cols read | BHJ | SMJ | SHJ | shuffles | codegen | py | single-part |\n"
    )
    out.write("|---|---|---|---|---|---|---|---|---|---|---|---|\n")
    for name, a in rows:
        label = f"{name} *(materialized)*" if a["materialized"] else name
        out.write(
            f"| {label} | {'•' if a['headline'] else ''} "
            f"| {a['scans']} | {a['pushed']} | {a['read_cols']} "
            f"| {a['bhj']} | {a['smj']} | {a['shj']} | {a['shuffles']} | {a['codegen']} "
            f"| {a['py']} | {'yes' if a['single_part'] else ''} |\n"
        )
    if skipped:
        out.write(
            "\nNot plan-auditable (fn() materializes the heavy plan "
            "internally; physical shape asserted piecewise in "
            "tests/test_scale_layout.py):\n"
        )
        for name, why in skipped:
            out.write(f"- `{name}`: {why}\n")
    text = out.getvalue()
    Path(__file__).resolve().parent.parent.joinpath("PLANS.md").write_text(text)
    print(text)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
