"""spark-submit entry point: PageRank over a parquet edge table.

Usage (identical at any parallelism level — this is the BASELINE.md
scaling-protocol job):

    spark-submit --master local[8] \\
        --conf spark.sql.shuffle.partitions=32 \\
        --py-files linkgraph.zip \\
        jobs/pagerank_job.py --edges /path/edges --iters 8 --out /path/out

On a real cluster only --master/--num-executors change; the job code is
untouched. Prints one JSON line with per-iteration wall times and
edges/sec throughput (median iteration, first excluded as warmup).
"""

from __future__ import annotations

import argparse
import json
import statistics
import time

from pyspark.sql import SparkSession


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--edges", required=True, help="parquet dir with (src,dst)")
    p.add_argument(
        "--vertices",
        default=None,
        help="optional parquet dir with (vid) — skips the derive-from-edges scan",
    )
    p.add_argument("--iters", type=int, default=8)
    p.add_argument("--tol", type=float, default=None)
    p.add_argument("--damping", type=float, default=0.85)
    p.add_argument("--out", default=None, help="optional parquet output dir")
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--num-partitions", type=int, default=None, help="edge cache partitions (fix across scaling levels)")
    args = p.parse_args()

    # Respect whatever spark-submit configured (master, cores, partitions)
    spark = SparkSession.builder.appName("linkgraph-pagerank").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from linkgraph.algos import pagerank

    edges = spark.read.parquet(args.edges)
    vertices = spark.read.parquet(args.vertices) if args.vertices else None
    n_edges = edges.count()
    t0 = time.monotonic()
    res = pagerank(
        edges,
        vertices=vertices,
        damping=args.damping,
        tol=args.tol,
        max_iter=args.iters,
        num_partitions=args.num_partitions,
        checkpoint_dir=args.checkpoint_dir,
        job_id="pagerank_job",
    )
    res.state.count()
    wall = time.monotonic() - t0
    if args.out:
        res.state.write.mode("overwrite").parquet(args.out)

    iter_times = [m["wall_s"] for m in res.metrics[1:]] or [float("nan")]
    med = statistics.median(iter_times)
    print(
        json.dumps(
            {
                "n_edges": n_edges,
                "iterations": res.iterations,
                "converged": res.converged,
                "total_wall_s": round(wall, 3),
                "median_iter_s": round(med, 4),
                "edges_per_sec_per_iter": round(n_edges / med, 1),
                "iter_times_s": [round(t, 3) for t in iter_times],
                "parallelism": spark.sparkContext.defaultParallelism,
                "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
