"""Record the committed traced run of each workload: an untraced and a
traced run on the same seed, the per-layer metrics, the spans with their
self times, and the tracing overhead (traced minus untraced cycle_s).

    python3 perfbench/record.py [--seed 7] [--workloads analytics,...]

Writes perfbench/results/trace_<workload>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    path = os.path.join(ROOT, ".perfbench", f"record-{workload}-{trace}.json")
    subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", str(trace), "--record", path],
        cwd=ROOT, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=600,
    )
    with open(path) as f:
        return json.load(f)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    args = ap.parse_args()
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    for w in args.workloads.split(","):
        plain = run(w, args.seed, bench["run_seconds"], 0)
        traced = run(w, args.seed, bench["run_seconds"], 1)
        base, with_trace = plain["end_to_end"]["cycle_s"], traced["end_to_end"]["cycle_s"]
        out = {
            "workload": w,
            "seed": args.seed,
            "tracing_overhead_s": with_trace - base,
            "tracing_overhead_frac": (with_trace - base) / base,
            "end_to_end_untraced": plain["end_to_end"],
            "per_layer": traced["per_layer"],
            "untraced": plain,
            "traced": traced,
        }
        with open(os.path.join(HERE, "results", f"trace_{w}.json"), "w") as f:
            json.dump(out, f, indent=1)
        print(f"{w}: cycle_s {base:.3f} untraced, {with_trace:.3f} traced", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
