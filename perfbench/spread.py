"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread (IQR as a share of the median), the
steadiness check BENCHMARK.json's bounds are set against.

    python3 perfbench/spread.py --workload analytics --seeds 1-10 [--seconds 5] [--out f.json]

Runs are sequential, one Spark session at a time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    runs = []
    record = os.path.join(ROOT, ".perfbench", "spread-record.json")
    for seed in seeds(args.seeds):
        t0 = time.monotonic()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
             "--record", record],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        wall = time.monotonic() - t0
        if p.returncode != 0:
            print(p.stderr[-3000:], file=sys.stderr)
            return 1
        res = json.loads(p.stdout.strip().splitlines()[-1])
        with open(record) as f:
            host = json.load(f)["host"]
        runs.append({"seed": seed, "wall_s": wall, "started": time.strftime(
            "%Y-%m-%dT%H:%M:%SZ", time.gmtime(time.time() - wall)), "host": host, **res})
        print(json.dumps({"seed": seed, "wall_s": round(wall, 1), "correct": res["correct"],
                          "steal_pct": host["steal_pct"], "load1": host["loadavg_start"][0],
                          **{k: round(v["value"], 4) for k, v in res["metrics"].items()}}),
              flush=True)
    summary = {}
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        summary[m["name"]] = {
            "median": q2, "q1": q1, "q3": q3, "spread": (q3 - q1) / q2,
            "bound": m["bound"], "ok": (q3 - q1) / q2 <= m["bound"] / 3,
        }
    walls = [r["wall_s"] for r in runs]
    out = {"workload": args.workload, "seconds": seconds, "runs": runs, "summary": summary,
           "wall_s": {"median": statistics.median(walls), "max": max(walls)},
           "all_correct": all(r["correct"] and r["failed"] == 0 for r in runs)}
    for k, v in summary.items():
        print(f"{k:16s} median {v['median']:.4g}  spread {v['spread']:.3f}  bound {v['bound']}"
              f"  {'ok' if v['ok'] else 'WIDE'}")
    print(f"wall median {out['wall_s']['median']:.1f}s max {out['wall_s']['max']:.1f}s"
          f"  all correct: {out['all_correct']}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
