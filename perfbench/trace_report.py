"""Write the committed traced-run artifact, ``perfbench/TRACE.json``.

    python3 perfbench/trace_report.py [--seed 1] [--seconds 10]

For each workload it runs ``run.py`` untraced and then traced with the
same seed. It records the traced run's per-layer metrics, each layer's
self time, the slowest layer by self time, and the tracing overhead,
which is the traced minus the untraced end-to-end value. One pair of
runs is shown, so the overhead carries the host's run-to-run spread.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from run import WORK, WORKLOADS  # noqa: E402


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    WORK.mkdir(exist_ok=True)
    out = WORK / f"{workload}_trace{trace}.json"
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace), "--out", str(out)],
        stdout=subprocess.PIPE, text=True, timeout=600, check=True,
    )
    report = json.loads(out.read_text())
    out.unlink()
    report["result"] = json.loads(proc.stdout.strip().splitlines()[-1])
    return report


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args()
    artifact = {}
    for w in WORKLOADS:
        plain = one_run(w, args.seed, args.seconds, 0)
        traced = one_run(w, args.seed, args.seconds, 1)
        layers = {k: v for k, v in traced["self_time_s"].items()
                  if not k.startswith("perfbench.")}
        artifact[w] = {
            "seed": args.seed,
            "seconds": args.seconds,
            "correct": plain["result"]["correct"] and traced["result"]["correct"],
            "untraced": plain["end_to_end"],
            "traced": traced["end_to_end"],
            "overhead": {k: traced["end_to_end"][k] - v
                         for k, v in plain["end_to_end"].items()},
            "slowest_layer": traced["slowest_layer"],
            "layer_self_time_s": layers,
            "per_layer": traced["per_layer"],
            "notes": traced["notes"],
            "spans": traced["spans"],
        }
    (HERE / "TRACE.json").write_text(json.dumps(artifact, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
