"""linkgraph benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Run it from the root of a linkgraph checkout. It generates the
workload's inputs from the seed, sets up a local Spark session several
times (``setup_s`` is the median of the warm restarts), then measures
whole cycles of operations for at least ``--seconds``, starting with the
fresh driver's first cycle. Every operation's output is checked against
an oracle.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records spans
and Spark's event log and prints the per-layer metrics instead (see
perfbench/README.md). The last line of stdout is the JSON result; the
full run record, with host context and every sample, is written under
``.perfbench/runs/``. Everything the run writes stays under
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 4  # the first also starts the JVM; setup_s is the median of the rest
DRIVER_MEMORY = "2g"  # explicit: get_spark's 16g default exceeds a 15 GB host
PROGRAM = ("linkgraph", "jobs", "__spark_entry__.py")


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def start_session(workload: str, cores: int, trace: bool):
    from linkgraph.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        logs = os.path.join(WORK, "eventlog")
        os.makedirs(logs, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + logs,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",  # one file per application
        })
    return get_spark(
        f"perfbench-{workload}", cores=cores, driver_memory=DRIVER_MEMORY, extra_conf=conf
    )


def stop_jvm() -> None:
    """Stop the Spark context, then the driver JVM, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def run_ops(ops, tracer, cycle: int, samples: dict, failures: list) -> None:
    for i, op in enumerate(ops):
        try:
            if tracer:
                tracer.trace_id = f"c{cycle}.{i}"
            with tracer.span("op", kind=op.kind) if tracer else nullcontext():
                t0 = time.perf_counter()
                result = op.run(tracer)
                dt = time.perf_counter() - t0
            op.check(result)
            samples.setdefault(op.kind, []).append(dt)
        except Exception as e:  # a failed operation is counted, not fatal
            failures.append({"op": op.kind, "error": f"{type(e).__name__}: {e}"[:500]})
            traceback.print_exc(file=sys.stderr)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="also write the run record to this file")
    args = ap.parse_args(argv)

    missing = [p for p in PROGRAM if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # keep every file the JVMs and Python workers write inside the checkout
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"

    import tracing as tr
    from workloads import WORKLOADS

    from linkgraph import hostmeter

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    shutil.rmtree(os.path.join(WORK, "eventlog"), ignore_errors=True)
    cores = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](args.seed, WORK)
    t0 = time.monotonic()
    inputs = wl.prepare()
    prepare_s = time.monotonic() - t0

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "inputs": inputs,
        "prepare_s": prepare_s,
        "host": {
            "nproc": cores,
            "loadavg_start": os.getloadavg(),
            "driver_memory": DRIVER_MEMORY,
            "python": platform.python_version(),
        },
    }
    samples: dict[str, list[float]] = {}
    failures: list[dict] = []
    attempted = 0
    spark = tracer = undo = None
    try:
        setups = []
        for _ in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.monotonic()
            spark = start_session(args.workload, cores, bool(args.trace))
            t1 = time.monotonic()
            wl.load(spark)
            setups.append((t1 - t0, time.monotonic() - t1))
        record["setups"] = setups
        record["host"]["spark"] = spark.version
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

        rng = random.Random(args.seed)
        if args.trace:
            tracer = tr.Tracer(spark)
            undo = tr.install_pregel_hooks(tracer)
        jiffies = hostmeter.cpu_jiffies()
        t0 = time.monotonic()
        cycle_walls = []
        while not cycle_walls or time.monotonic() - t0 < args.seconds:
            c0 = time.monotonic()
            ops = wl.cycle(rng)
            run_ops(ops, tracer, len(cycle_walls), samples, failures)
            attempted += len(ops)
            cycle_walls.append(time.monotonic() - c0)
        record["measure_s"] = time.monotonic() - t0
        record["cycle_walls"] = cycle_walls
        record["host"]["steal_pct"] = hostmeter.steal_pct(jiffies, hostmeter.cpu_jiffies())
        record["host"]["loadavg_end"] = os.getloadavg()
        record["driver_peak_rss_mb"] = peak_rss_mb(jvm_pid)
        mem = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        mem.gc()
        record["driver_heap_mb"] = mem.getHeapMemoryUsage().getUsed() / 2**20
        app_id = spark.sparkContext.applicationId
    finally:
        if undo:
            undo()
        stop_jvm()

    e2e = {
        "setup_s": median([a + b for a, b in record["setups"][1:]]),
        "cycle_s": sum(median(xs) for xs in samples.values()),
    }
    record["samples"] = samples
    record["failures"] = failures
    record["attempted"] = attempted
    record["end_to_end"] = e2e
    record["extra"] = wl.extra()
    if args.trace:
        import layers

        jobs = tr.read_event_log(os.path.join(WORK, "eventlog", app_id))
        tr.fold(tracer.spans, jobs, cores)
        record["spans"] = tracer.spans
        record["per_layer"] = layers.per_layer(wl, record, tracer.spans)
        metrics, units = record["per_layer"], layers.PER_LAYER
    else:
        metrics, units = e2e, {"setup_s": "s", "cycle_s": "s"}

    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    for path in filter(None, (os.path.join(WORK, "runs", name), args.record)):
        with open(path, "w") as f:
            json.dump(record, f, indent=1, default=str)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
