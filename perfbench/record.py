#!/usr/bin/env python3
"""Record one untraced and one traced run of every workload for a seed and
write them, with the tracing overhead, to perfbench/results/seed<N>.json.

    python3 perfbench/record.py --seed 1 --seconds 2

The overhead of a metric is the traced run's end-to-end value minus the
untraced run's, both from the same seed, run back to back.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from workloads import WORKLOADS  # noqa: E402


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    with tempfile.TemporaryDirectory() as tmp:
        out = Path(tmp) / "out.json"
        subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", str(trace), "--out", str(out)],
            check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, cwd=HERE.parent,
        )
        return json.loads(out.read_text())


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    record = {"seed": args.seed, "seconds": args.seconds, "workloads": {}}
    for name in WORKLOADS:
        plain = _run(name, args.seed, args.seconds, 0)
        traced = _run(name, args.seed, args.seconds, 1)
        keep = ("cores", "loadavg_1m", "attempted", "failed", "checks_failed", "latency_tail_pct")
        record["workloads"][name] = {
            "untraced": {k: plain[k] for k in keep} | {"e2e": plain["e2e"], **plain["workload_metrics"]},
            "traced": {k: traced[k] for k in keep} | {"e2e": traced["e2e"], "per_layer": traced["per_layer"]},
            "tracing_overhead": {m: traced["e2e"][m] - v for m, v in plain["e2e"].items()},
        }
        print(name, json.dumps(record["workloads"][name]["tracing_overhead"]), flush=True)
    out = HERE / "results" / f"seed{args.seed}.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps(record, indent=1, default=str) + "\n")
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
