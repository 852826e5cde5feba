"""The Pregel-as-DataFrame superstep kernel every iterative algorithm shares.

One superstep =
    messages = f(edges ⋈ state)  →  groupBy(dst).agg(merge)  →  state'
expressed purely as DataFrame joins/aggregations (SURVEY.md §7.4). This is
the Spark-first re-expression of the reference's iterative machinery:
  * frontier re-keying / same-root batching  → the shuffle of the
    message aggregation (LocalRDG.shuffleAndGroup,
    /root/reference/reasoner/runner/local-runner/.../rdg/LocalRDG.java:900-921)
  * expand-and-join supersteps → the edges⋈state join
    (LocalRDG.expandInto, LocalRDG.java:499-610)
  * checkpointable graph state → CheckpointStore
    (GraphState.checkPoint, /root/reference/reasoner/runner/runner-common/.../graphstate/GraphState.java:213)
  * per-stage metrics → SuperstepMetrics rows
    (IExecutionRecorder.stageResult, .../recorder/IExecutionRecorder.java:22-53)

Scale design:
  * ``localCheckpoint(eager=True)`` per superstep truncates lineage —
    without it the plan grows linearly with iterations and the driver
    OOMs long before 100 TB.
  * durable checkpoints (a parquet state frame, driver-written metrics
    rows and a COMMIT marker) every ``checkpoint_every`` supersteps make
    a killed job resumable mid-iteration; the store is an interface so
    an Iceberg snapshot-append backend can be dropped in when the
    runtime jars are on the classpath.
  * the edge table is partitioned by the join key once (normalize.py);
    only messages shuffle each superstep.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from linkgraph.tables import part_rows, write_rows

SuperstepFn = Callable[[DataFrame, DataFrame, int], DataFrame]
DeltaFn = Callable[[DataFrame, DataFrame], float]

# Above this vertex count the kernels no longer broadcast their V-row
# state (driver/executor memory bound) and use their exchange plans.
# Read at call time, so a test can patch it to drive the exchange plans.
BROADCAST_STATE_MAX_VERTICES = 20_000_000


@dataclass
class PregelResult:
    state: DataFrame
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


class CheckpointStore:
    """Parquet-directory checkpoint store with commit markers.

    Layout: ``<root>/<job_id>/superstep=<k>/{state/, metrics.json,
    metrics_rows/, partition_rows/, _COMMITTED}``. A checkpoint is
    visible only once ``_COMMITTED`` exists, so a job killed mid-write
    never poisons resume. Metrics include per-partition row counts (the
    lineage/metrics rows the north rule requires).

    A save launches one Spark job, the state write. The per-partition
    row counts come from the footers of the part files that write
    committed, and ``metrics.json``, ``metrics_rows`` and
    ``partition_rows`` (one parquet file each) are written from the
    driver; ``_COMMITTED`` is written last.
    """

    def __init__(self, root: str, job_id: str):
        self.dir = os.path.join(root, job_id)
        os.makedirs(self.dir, exist_ok=True)

    def _step_dir(self, superstep: int) -> str:
        return os.path.join(self.dir, f"superstep={superstep}")

    _FP_FILE = "input_fingerprint.json"

    def read_fingerprint(self) -> str | None:
        try:
            with open(os.path.join(self.dir, self._FP_FILE)) as f:
                return json.load(f)["fingerprint"]
        except (OSError, ValueError, KeyError):
            return None

    def write_fingerprint(self, fp: str) -> None:
        with open(os.path.join(self.dir, self._FP_FILE), "w") as f:
            json.dump({"fingerprint": fp}, f)

    def clear(self) -> None:
        """Drop every checkpoint under this job_id (stale-input reset)."""
        for name in os.listdir(self.dir):
            p = os.path.join(self.dir, name)
            if name.startswith("superstep=") and os.path.isdir(p):
                shutil.rmtree(p)
            elif name == self._FP_FILE:
                os.remove(p)

    def save(self, superstep: int, state: DataFrame, metrics: list[dict]) -> None:
        import pyarrow as pa

        d = self._step_dir(superstep)
        if os.path.exists(d):
            shutil.rmtree(d)
        state_dir = os.path.join(d, "state")
        state.write.mode("overwrite").parquet(state_dir)
        # the state is a localCheckpoint-ed frame, so write task k is its
        # partition k and the footers give the per-partition row counts
        per_part = [
            {"partition": pid, "rows": n}
            for pid, n in sorted(part_rows(state_dir).items())
            if n
        ]
        with open(os.path.join(d, "metrics.json"), "w") as f:
            json.dump(
                {"superstep": superstep, "history": metrics, "partitions": per_part},
                f,
            )
        # queryable metrics/lineage rows (IExecutionRecorder analog):
        # one row per completed superstep + one per state partition
        if metrics:
            write_rows(
                os.path.join(d, "metrics_rows", "part-00000.parquet"),
                [
                    (
                        m.get("job_id", ""),
                        int(m["superstep"]),
                        int(m.get("parent_superstep", m["superstep"] - 1)),
                        float(m["wall_s"]),
                        float(m["delta"]) if m.get("delta") is not None else None,
                    )
                    for m in metrics
                ],
                [
                    ("job_id", pa.string()),
                    ("superstep", pa.int32()),
                    ("parent_superstep", pa.int32()),
                    ("wall_s", pa.float64()),
                    ("delta", pa.float64()),
                ],
            )
        write_rows(
            os.path.join(d, "partition_rows", "part-00000.parquet"),
            [(superstep, p["partition"], p["rows"]) for p in per_part],
            [("superstep", pa.int32()), ("partition", pa.int32()), ("rows", pa.int64())],
        )
        with open(os.path.join(d, "_COMMITTED"), "w") as f:
            f.write("ok")

    def latest(self) -> int | None:
        best = None
        if not os.path.isdir(self.dir):
            return None
        for name in os.listdir(self.dir):
            if not name.startswith("superstep="):
                continue
            k = int(name.split("=", 1)[1])
            if os.path.exists(os.path.join(self._step_dir(k), "_COMMITTED")):
                best = k if best is None else max(best, k)
        return best

    def load(self, spark: SparkSession, superstep: int) -> tuple[DataFrame, list[dict]]:
        d = self._step_dir(superstep)
        state = spark.read.parquet(os.path.join(d, "state"))
        with open(os.path.join(d, "metrics.json")) as f:
            meta = json.load(f)
        return state, meta.get("history", [])


class ObservedDelta:
    """A convergence delta observed on the superstep's own
    materialization: zero extra Spark jobs per superstep.

    The superstep function passes its result frame through ``observe``
    with an aggregate over columns the frame already carries (cc/lpa: the
    sum of a changed flag; k_core: the sum of a removed-edge flag; the
    random-walk kernel: the max of |score - old score|; hits: the max of
    |hub - old hub| and |auth - old auth|; ``saturate``: the sum of its
    new-fact flag).
    ``run_pregel`` materializes that frame once, then calls this object
    as its ``delta_fn``, which pops the collected value (see the call
    protocol in ``run_pregel``)."""

    def __init__(self) -> None:
        self._pending: list[Observation] = []

    def observe(self, df: DataFrame, metric: Column) -> DataFrame:
        obs = Observation()
        self._pending.append(obs)
        return df.observe(obs, metric.alias("delta"))

    def __call__(self, old: DataFrame, new: DataFrame) -> float:
        return float(self._pending.pop().get["delta"] or 0)


def _release(state: DataFrame) -> None:
    """Unpersist the RDD behind a superseded ``localCheckpoint`` state.
    Spark persists a local checkpoint's RDD to checkpoint it and would
    otherwise keep it until JVM GC runs the ContextCleaner.
    ``SparkContext.unpersistRDD`` is what ``RDD.unpersist`` calls, minus
    its WARN line per call that a local checkpoint cannot be recomputed
    (the loop never reads a superseded state again)."""
    rdd_id = state._jdf.queryExecution().logical().rdd().id()
    state.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd_id, False)


def run_pregel(
    edges: DataFrame,
    init_state: DataFrame,
    superstep_fn: SuperstepFn,
    delta_fn: DeltaFn | None,
    *,
    max_iter: int = 100,
    tol: float = 0.0,
    checkpoint_dir: str | None = None,
    job_id: str = "pregel",
    checkpoint_every: int = 5,
) -> PregelResult:
    """Run supersteps until ``delta <= tol`` or ``max_iter``.

    ``superstep_fn(edges, state, i) -> new_state`` must be a pure
    DataFrame transform (join + agg + update). ``delta_fn(old, new)``
    decides convergence; pass ``None`` for fixed-iteration runs to skip
    it entirely (the benchmark mode).

    CALL PROTOCOL (load-bearing for observed-metric deltas — cc, lpa,
    k_core, hits, the random-walk kernel and ``saturate`` attach an
    ``ObservedDelta`` observation to each superstep's frame, which the
    delta_fn pops): per iteration this
    loop calls ``superstep_fn`` exactly once, eagerly materializes its
    result via ``localCheckpoint(eager=True)`` (which fires
    CollectMetrics), and THEN calls ``delta_fn`` exactly once. Superstep results are never
    discarded, retried, or evaluated lazily; any change to that
    one-superstep/one-materialization/one-delta alternation must audit
    the Observation-based delta implementations.

    Each superseded state (the loop's own ``localCheckpoint``, never
    ``init_state`` itself) is released once the next state is
    materialized, its delta taken and any checkpoint saved; the returned
    state stays cached.

    With a ``checkpoint_dir``, the run resumes from the latest committed
    checkpoint under ``job_id`` whose input fingerprint matches.
    """
    spark = edges.sparkSession
    store = CheckpointStore(checkpoint_dir, job_id) if checkpoint_dir else None
    metrics: list[dict] = []
    start_step = 0

    state = init_state
    if store:
        # input fingerprint: order-insensitive (count, bit_xor of row
        # hashes, sum of row hashes) over the edge frame — one cheap
        # columnar agg per RUN (the frame is cached by every caller). A
        # checkpoint under this job_id that was produced from a
        # DIFFERENT edge frame must not be resumed: its state is for
        # another graph (or, where a kernel folds its parameters into
        # the frame, as k_core does with k, for another run), and
        # `latest()` could even out-step the fresh run and shadow it on
        # a later resume — so a mismatch clears the stale checkpoints
        # before starting. The decimal SUM keeps the
        # fingerprint multiplicity-aware (bit_xor alone cancels
        # duplicated rows: multisets {a,a,b} and {c,c,b} share count and
        # xor), and a checkpoint directory with NO stored fingerprint
        # but existing checkpoints (written pre-fingerprinting, or a
        # crash between clear() and write_fingerprint) is treated as a
        # mismatch too — it cannot be validated after the fact. A
        # format upgrade (e.g. the r6 two-field -> three-field change)
        # also mismatches and clears: deliberately safe-by-default —
        # old checkpoints would only be resumable under the weaker
        # validation the upgrade exists to replace.
        fp_row = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(*edges.columns)).alias("x"),
            F.sum(F.xxhash64(*edges.columns).cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        fingerprint = f"{fp_row['n']}:{fp_row['x']}:{fp_row['s']}"
        stored = store.read_fingerprint()
        if stored != fingerprint and (
            stored is not None or store.latest() is not None
        ):
            if store.latest() is not None:
                import warnings

                warnings.warn(
                    f"checkpoints under job_id={job_id!r} were produced "
                    "from different input (edges or kernel parameters), "
                    "or their fingerprint is missing; ignoring and "
                    "clearing them"
                )
            store.clear()
        store.write_fingerprint(fingerprint)
        last = store.latest()
        if last is not None:
            state, metrics = store.load(spark, last)
            start_step = last

    state = state.localCheckpoint(eager=True)
    converged = False
    i = start_step
    while i < max_iter:
        t0 = time.monotonic()
        new_state = superstep_fn(edges, state, i)
        new_state = new_state.localCheckpoint(eager=True)
        delta = delta_fn(state, new_state) if delta_fn is not None else None
        wall = time.monotonic() - t0
        i += 1
        metrics.append(
            {
                "job_id": job_id,
                "superstep": i,
                "wall_s": round(wall, 4),
                "delta": delta,
                "parent_superstep": i - 1,
            }
        )
        if store and (i % checkpoint_every == 0):
            store.save(i, new_state, metrics)
        _release(state)
        state = new_state
        if delta is not None and delta <= tol:
            converged = True
            break

    if store and metrics and (i % checkpoint_every != 0 or not os.path.isdir(store._step_dir(i))):
        store.save(i, state, metrics)
    return PregelResult(state=state, iterations=i, converged=converged, metrics=metrics)


def saturate(
    base: DataFrame, derive: SuperstepFn, *, max_iter: int, job_id: str
) -> DataFrame:
    """Semi-naive fixpoint on ``run_pregel``: ``base`` plus every fact
    ``derive`` adds, until a round adds none.

    The state is the distinct facts plus a ``__new__`` flag on the rows
    the last round derived (round 0 flags every base fact). Round ``i``
    calls ``derive(full, delta, i)`` with the facts and the flagged
    rows, keeps the distinct candidates not already in ``full`` and adds
    them flagged; their count is the superstep's observed delta. Raises
    ``RuntimeError`` if ``max_iter`` rounds end with a non-empty delta.
    """
    cols = base.columns
    new = F.col("__new__")
    count_new = ObservedDelta()

    def step(_base: DataFrame, state: DataFrame, i: int) -> DataFrame:
        full = state.select(*cols)
        fresh = derive(full, state.where(new).select(*cols), i)
        fresh = fresh.distinct().join(full, cols, "left_anti")
        grown = full.withColumn("__new__", F.lit(False)).unionByName(
            fresh.withColumn("__new__", F.lit(True))
        )
        return count_new.observe(grown, F.sum(new.cast("long")))

    res = run_pregel(
        base,
        base.distinct().withColumn("__new__", F.lit(True)),
        step,
        count_new,
        max_iter=max_iter,
        job_id=job_id,
    )
    if not res.converged:
        raise RuntimeError(f"{job_id} reached no fixpoint in {max_iter} rounds")
    return res.state.drop("__new__")
