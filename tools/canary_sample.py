"""Long-running canary sampler: one Spark session, one sample line per
interval appended to BENCH/canary_samples.jsonl. The per-round quiet
floor is the MINIMUM over a long sampling window — co-tenant noise on
this box arrives in waves, so any sufficiently long window contains
quiet moments that expose the true machine speed.

It times bench.py's canary: the same session cores and range partitions,
both read from ``$SPARK_GRAFT_CPUS`` (default 32) as bench.py reads them.

Usage: SPARK_GRAFT_CPUS=$(nproc) PYTHONPATH=. python tools/canary_sample.py [minutes] [interval_s]
"""
import json
import os
import sys
import time

from linkgraph import hostmeter
from linkgraph.session import get_spark

OUT = os.path.join(os.path.dirname(__file__), "..", "BENCH", "canary_samples.jsonl")
minutes = float(sys.argv[1]) if len(sys.argv) > 1 else 30.0
interval = float(sys.argv[2]) if len(sys.argv) > 2 else 45.0
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
PARTS = int(CPUS) if CPUS.isdigit() else 32

spark = get_spark("canary-sampler", cores=CPUS,
                  shuffle_partitions=PARTS if CPUS.isdigit() else None,
                  driver_memory="4g")
# JIT warmup outside the samples
spark.range(0, 2_000_000_000, 1, PARTS).selectExpr("sum(id * 3 + 7)").collect()
deadline = time.monotonic() + minutes * 60
while time.monotonic() < deadline:
    j0 = hostmeter.cpu_jiffies()
    t0 = time.monotonic()
    spark.range(0, 2_000_000_000, 1, PARTS).selectExpr("sum(id * 3 + 7)").collect()
    canary = round(time.monotonic() - t0, 3)
    rec = {
        "t": round(time.monotonic(), 1),
        "canary_s": canary,
        "membw_gibs": hostmeter.membw_gibs(),
        "steal_pct": hostmeter.steal_pct(j0, hostmeter.cpu_jiffies()),
        "load1": round(os.getloadavg()[0], 2),
    }
    with open(OUT, "a") as f:
        f.write(json.dumps(rec) + "\n")
    time.sleep(interval)
spark.stop()
