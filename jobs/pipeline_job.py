"""spark-submit entry point: the full dress-rehearsal pipeline in one
orchestrated job — pages -> extract -> normalize -> host graph ->
PageRank (+ host-level weighted PageRank input) -> MinHash dedup ->
near-dup resolution (pairs -> connected components -> canonical docs).

This is the reference's chained-jobs lifecycle (builder pipeline then
reasoner jobs, LocalBuilderRunner.java:92-125 + LocalRunner) as one
resumable Spark driver:

    spark-submit --py-files linkgraph.zip jobs/pipeline_job.py \\
        --pages /path/pages --out /path/run1

Every stage commits to a manifest (<out>/_manifest.json, written
atomically) with its row counts and wall time, and adds one row to the
<out>/metrics parquet table (stage, rows, wall_s, finished_at — the
IExecutionRecorder/BuilderMetric analog). This bookkeeping launches no
Spark job: a stage's row count is read from the parquet footers of the
part files its write just committed (``resolve``'s survivor count is an
observed metric of its write), and the metrics row is a one-row parquet
file <out>/metrics/<stage>.parquet written from the driver with pyarrow,
under a ``.``-prefixed temporary name and then renamed into place, like
the manifest. A killed job rerun with the
same arguments skips committed stages; the PageRank stage additionally
checkpoints supersteps through linkgraph.pregel.CheckpointStore, so a
kill MID-ITERATION resumes mid-iteration (see test_pregel_resume).

Stages run as a dependency graph (``DEPS``), each starting as soon as
the stages whose output it reads have committed:

    extract -> normalize -> {host_graph, pagerank}
    extract -> dedup -> resolve

Each stage runs in its own thread of a ``len(STAGES)``-thread pool, so
dedup and resolve fill the cores normalize and PageRank leave idle
(Spark schedules jobs from concurrent threads; the default FIFO
scheduler). Every thread target is wrapped in
``pyspark.inheritable_thread_target``, so the caller's Spark local
properties (job description, job group) and tags reach every stage's
jobs. The manifest dict, its commit and the metrics row are updated
under one lock. ``STAGES`` stays the reporting order.

Failure: a stage whose prerequisite failed does not start; independent
stages run to their end and commit; ``run_pipeline`` then re-raises the
first failure in ``STAGES`` order. Committed stages stay committed, so
a rerun resumes. The ``fail_after=X`` test hook runs only X and the
stages X depends on, and raises once X has committed.

At 100 TB nothing here collects to the driver: stage boundaries are
parquet writes, the manifest holds only counts.
"""

from __future__ import annotations

import argparse
import json
import os
import threading
import time
from concurrent.futures import Future, ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import Observation, SparkSession

from linkgraph.tables import committed_rows, write_rows


STAGES = ("extract", "normalize", "host_graph", "pagerank", "dedup", "resolve")
# the stages each stage reads the committed output of
DEPS = {
    "extract": (),
    "normalize": ("extract",),
    "host_graph": ("normalize",),
    "pagerank": ("normalize",),
    "dedup": ("extract",),
    "resolve": ("dedup",),
}


def _with_deps(name: str) -> tuple[str, ...]:
    """``name`` and every stage it depends on, in STAGES order."""
    need = {name}
    for s in reversed(STAGES):
        if s in need:
            need.update(DEPS[s])
    return tuple(s for s in STAGES if s in need)


def _load_manifest(out: str) -> dict:
    path = os.path.join(out, "_manifest.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {"completed": {}}


def _commit(out: str, manifest: dict) -> None:
    path = os.path.join(out, "_manifest.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2)
    os.replace(tmp, path)  # atomic: a kill never leaves a torn manifest


def _record(out: str, stage: str, metrics: dict) -> None:
    import pyarrow as pa

    write_rows(
        os.path.join(out, "metrics", f"{stage}.parquet"),
        [(
            stage,
            int(metrics.get("rows", 0)),
            float(metrics.get("wall_s", 0.0)),
            float(metrics.get("finished_at", time.time())),
        )],
        [
            ("stage", pa.string()),
            ("rows", pa.int64()),
            ("wall_s", pa.float64()),
            ("finished_at", pa.float64()),
        ],
    )


def run_pipeline(
    spark: SparkSession,
    pages_path: str,
    out: str,
    *,
    buckets: int | None = None,
    pagerank_iters: int = 20,
    pagerank_tol: float | None = 1e-6,
    fail_after: str | None = None,
) -> dict:
    """Run (or resume) the pipeline; returns the manifest. ``fail_after``
    runs only the named stage and its prerequisites and aborts right
    after committing it — the kill/resume test hook."""
    from pyspark.sql import functions as F

    os.makedirs(out, exist_ok=True)
    manifest = _load_manifest(out)
    done = manifest["completed"]
    # a resume must run under the SAME arguments the committed stages
    # used — silently mixing configurations corrupts the output
    args_now = {
        "pages": pages_path,
        "buckets": buckets,
        "pagerank_iters": pagerank_iters,
        "pagerank_tol": pagerank_tol,
    }
    if done and manifest.get("args") not in (None, args_now):
        raise ValueError(
            f"{out} holds a run with different arguments "
            f"({manifest['args']} vs {args_now}) — use a fresh --out or "
            "delete the old run"
        )
    manifest["args"] = args_now
    # re-append metrics rows lost to a kill between manifest commit and
    # the metrics write (the manifest is the source of truth)
    if done:
        import pyarrow.parquet as pq

        try:
            have = set(
                pq.read_table(os.path.join(out, "metrics"), columns=["stage"])
                .column("stage")
                .to_pylist()
            )
        except (OSError, ValueError):
            have = set()
        for name, m in done.items():
            if name not in have:
                _record(out, name, m)

    commit_lock = threading.Lock()

    def stage(name: str, fn) -> None:
        if name in done:
            return
        t0 = time.monotonic()
        rows = fn()
        m = {
            "rows": rows,
            "wall_s": round(time.monotonic() - t0, 3),
            "finished_at": time.time(),
        }
        with commit_lock:
            done[name] = m
            _commit(out, manifest)
            _record(out, name, m)
        if fail_after == name:
            raise RuntimeError(f"fail_after={name} (test hook)")

    def _extract() -> int:
        from linkgraph.extract import extract_pages, extracted_edges

        extracted = extract_pages(spark.read.parquet(pages_path)).persist()
        try:
            extracted.select("url", "text").write.mode("overwrite").parquet(
                f"{out}/text"
            )
            extracted_edges(extracted).write.mode("overwrite").parquet(
                f"{out}/raw_edges"
            )
        finally:
            extracted.unpersist()
        return committed_rows(f"{out}/text")

    def _normalize() -> int:
        from linkgraph.normalize import normalize_graph

        raw_edges = spark.read.parquet(f"{out}/raw_edges")
        with normalize_graph(raw_edges, num_buckets=buckets) as (canon, vertices, edges):
            vertices.write.mode("overwrite").parquet(f"{out}/vertices")
            edges.write.mode("overwrite").parquet(f"{out}/edges")
            canon.write.mode("overwrite").parquet(f"{out}/canon_edges")
        return committed_rows(f"{out}/edges")

    def _host_graph() -> int:
        from linkgraph.normalize import host_graph

        hg = host_graph(spark.read.parquet(f"{out}/canon_edges"))
        hg.write.mode("overwrite").parquet(f"{out}/host_graph")
        return committed_rows(f"{out}/host_graph")

    def _pagerank() -> int:
        from linkgraph.algos import pagerank

        pr = pagerank(
            spark.read.parquet(f"{out}/edges"),
            tol=pagerank_tol,
            max_iter=pagerank_iters,
            checkpoint_dir=f"{out}/_checkpoints",
            job_id="pipeline_pr",
            checkpoint_every=2,
        )
        pr.state.write.mode("overwrite").parquet(f"{out}/pagerank")
        return committed_rows(f"{out}/pagerank")

    def _dedup() -> int:
        from linkgraph.pipeline.dedup import minhash_lsh_pairs

        text = spark.read.parquet(f"{out}/text")
        pairs = minhash_lsh_pairs(text, id_col="url", text_col="text")
        pairs.write.mode("overwrite").parquet(f"{out}/dedup_pairs")
        return committed_rows(f"{out}/dedup_pairs")

    def _resolve() -> int:
        from linkgraph.pipeline.dedup import near_dedup

        text = spark.read.parquet(f"{out}/text")
        canon = near_dedup(
            text,
            pairs=spark.read.parquet(f"{out}/dedup_pairs"),
            id_col="url",
        )
        # row count = surviving docs (the deduped corpus size), observed
        # on the write itself
        survivors = Observation()
        canon.observe(
            survivors,
            F.sum((F.col("url") == F.col("canonical_id")).cast("long")).alias("n"),
        ).write.mode("overwrite").parquet(f"{out}/canonical_docs")
        return int(survivors.get["n"] or 0)

    fns = {
        "extract": _extract,
        "normalize": _normalize,
        "host_graph": _host_graph,
        "pagerank": _pagerank,
        "dedup": _dedup,
        "resolve": _resolve,
    }
    wanted = _with_deps(fail_after) if fail_after else STAGES
    futures: dict[str, Future] = {}

    def start(name: str) -> None:
        # .result() re-raises a prerequisite's failure, so a stage whose
        # input is missing never starts
        for dep in DEPS[name]:
            futures[dep].result()
        stage(name, fns[name])

    with ThreadPoolExecutor(max_workers=len(STAGES)) as pool:
        # STAGES is topological: every prerequisite's future exists first
        for name in wanted:
            # wrapping clones the caller's local properties here, in its
            # thread: one clone per stage, so a property a stage sets
            # (a job group, a job description) stays in its own thread
            target = inheritable_thread_target(spark)(start)
            futures[name] = pool.submit(target, name)
    for name in wanted:
        futures[name].result()  # the first failure in STAGES order
    return manifest


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--pages", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--buckets", type=int, default=None)
    p.add_argument("--pagerank-iters", type=int, default=20)
    p.add_argument("--pagerank-tol", type=float, default=1e-6)
    args = p.parse_args()

    spark = SparkSession.builder.appName("linkgraph-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    t0 = time.monotonic()
    manifest = run_pipeline(
        spark,
        args.pages,
        args.out,
        buckets=args.buckets,
        pagerank_iters=args.pagerank_iters,
        pagerank_tol=args.pagerank_tol,
    )
    print(
        json.dumps(
            {
                "stages": {
                    s: m["rows"] for s, m in manifest["completed"].items()
                },
                "wall_s": round(time.monotonic() - t0, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
