"""HITS (hubs & authorities) as Pregel-style DataFrame supersteps.

Classic Kleinberg link analysis — the natural companion of PageRank on a
web link graph (the reference ships neither; both ride its iterative
expand/aggregate machinery, SURVEY.md key negative finding).

Semantics (frozen; the DuckDB oracle in __spark_entry__.py unrolls
exactly this):
  * init: hub = auth = 1.0 for every vertex
  * per iteration:
      auth'(v) = Σ_{u→v} hub(u)        then L2-normalize auths
      hub'(u)  = Σ_{u→v} auth'(v)      then L2-normalize hubs
  * fixed iterations (oracle form) or stop on L∞ delta <= tol

Physical shape mirrors pagerank's broadcast plan: edges cached once,
each half-step is a broadcast-probe of the V-row state into a
partial+final HashAggregate — no E-row exchange per iteration. The L2
norms are two scalar aggregates per iteration (the same driver-action
budget as pagerank's dangling-mass sum), each over an
already-checkpointed frame so nothing expensive executes twice.

Above ``pregel.BROADCAST_STATE_MAX_VERTICES`` vertices the kernel
switches to the exchange plan: because the two half-steps join the E
rows on DIFFERENT keys (src for the auth sums, dst for the hub sums),
the edge set is cached in BOTH orientations —
hash(src, P) and hash(dst, P) — so each half-step's state join is
co-partitioned and only the V-row state plus the partially-aggregated
sums ever shuffle. 2x edge cache is the price of never exchanging the
E rows inside the loop; at 10^12-doc scale that trade is strictly
right (E-row exchange per iteration dwarfs one extra cached copy that
can spill to disk).

One superstep is both half-steps on ``pregel.run_pregel``, which owns
iteration, checkpoint/resume and metrics. The old hub and auth ride
along through the half-steps, so tol mode observes its L∞ delta on the
superstep's own materialization: zero extra jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph import pregel


def hits(
    edges: DataFrame,
    *,
    max_iter: int = 20,
    tol: float | None = None,
    checkpoint_dir: str | None = None,
    job_id: str = "hits",
    checkpoint_every: int = 5,
    init_state: DataFrame | None = None,
) -> pregel.PregelResult:
    """Returns state (vid, hub, auth), L2-normalized per iteration.
    ``checkpoint_dir`` enables commit-markered durable checkpoints of
    the (vid, hub, auth) state; a later run resumes them only over the
    same edges (``run_pregel``'s input fingerprint).

    ``init_state`` (vid, hub, auth) warm-starts the power iteration from
    a previous converged state (incremental-crawl path, as in
    pagerank.py); new vertices get the uniform 1.0/1.0 prior. Each
    iteration L2-normalizes, so no renormalization is needed and the
    dominant-eigenvector fixed point is unchanged. Ignored when a
    checkpoint resume for this job_id exists (resume wins — it is the
    same run continuing)."""
    num_partitions = edges.sparkSession.sparkContext.defaultParallelism
    e0 = edges.select("src", "dst").distinct()
    verts = (
        e0.select(F.col("src").alias("vid"))
        .unionAll(e0.select("dst"))
        .distinct()
        .repartition(num_partitions, "vid")
        .persist()
    )
    cached = [verts]
    # the newest half-step checkpoint (raw sums): each one supersedes the
    # one before it (the hub half-step reads the auth half-step's; the
    # next auth half-step reads the state run_pregel materialized from
    # the hub half-step's)
    internal: list[DataFrame] = []

    def checkpoint(df: DataFrame) -> DataFrame:
        df = df.localCheckpoint(eager=True)
        if internal:
            pregel._release(internal.pop())
        internal.append(df)
        return df

    try:
        broadcast_state = verts.count() <= pregel.BROADCAST_STATE_MAX_VERTICES
        # broadcast plan: one dst-partitioned cache serves both half-steps
        # (the state side is broadcast, the auth groupBy(dst) is exchange-
        # free). Exchange plan: one cache per join orientation so neither
        # half-step ever exchanges E rows (see module docstring).
        e_dst = e0.repartition(num_partitions, "dst").persist()
        e_src = (
            e_dst if broadcast_state else e0.repartition(num_partitions, "src").persist()
        )
        cached += [e_dst, e_src]
        if init_state is not None:
            prior = init_state.select(
                "vid", F.col("hub").alias("_h"), F.col("auth").alias("_a")
            )
            init = verts.join(prior, "vid", "left").select(
                "vid",
                F.coalesce("_h", F.lit(1.0)).alias("hub"),
                F.coalesce("_a", F.lit(1.0)).alias("auth"),
            )
        else:
            init = verts.select(
                "vid", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth")
            )
        delta = pregel.ObservedDelta() if tol is not None else None

        def half_step(
            state: DataFrame, e: DataFrame, frm: str, to: str, value: str, out: str
        ) -> DataFrame:
            """out(v) = Σ value(u) over the edges whose ``frm`` end is u
            and ``to`` end is v, L2-normalized; the old ``out`` column is
            kept as ``_<out>`` for the delta."""
            vals = state.select("vid", value)
            if broadcast_state:
                vals = F.broadcast(vals)
            sums = (
                e.join(vals, e[frm] == vals["vid"])
                .groupBy(to)
                .agg(F.sum(value).alias("_raw"))
            )
            # checkpoint the raw sums BEFORE the norm aggregate: otherwise
            # the norm aggregate and the downstream plan would each execute
            # the expensive join+aggregate once (2x per half-step). The norm
            # itself rides the next half-step's plan as a broadcast 1-row
            # frame over the checkpointed sums (r6) — no driver collect per
            # half-step; `sqrt(sum x²) or 1.0` becomes
            # coalesce(nullif(sqrt(...), 0.0), 1.0), bit-identical (IEEE
            # sqrt is correctly rounded in both engines).
            cols = [F.col(c).alias(f"_{c}") if c == out else c for c in state.columns]
            unnorm = checkpoint(
                state.hint("merge")
                .join(sums, state["vid"] == sums[to], "left")
                .select(*cols, F.coalesce("_raw", F.lit(0.0)).alias("_raw"))
            )
            norm = F.broadcast(
                unnorm.agg(
                    F.coalesce(
                        F.nullif(
                            F.sqrt(F.sum(F.col("_raw") * F.col("_raw"))), F.lit(0.0)
                        ),
                        F.lit(1.0),
                    ).alias("_norm")
                )
            )
            return unnorm.crossJoin(norm).select(
                *[c for c in unnorm.columns if c != "_raw"],
                (F.col("_raw") / F.col("_norm")).alias(out),
            )

        def superstep(edges_df: DataFrame, state: DataFrame, i: int) -> DataFrame:
            mid = half_step(state, e_src, "src", "dst", "hub", "auth")
            new = half_step(mid, edges_df, "dst", "src", "auth", "hub")
            if delta is not None:
                new = delta.observe(
                    new,
                    F.max(
                        F.greatest(
                            F.abs(F.col("hub") - F.col("_hub")),
                            F.abs(F.col("auth") - F.col("_auth")),
                        )
                    ),
                )
            return new.select("vid", "hub", "auth")

        # fixed-iteration mode reports converged=False (run_pregel semantics)
        return pregel.run_pregel(
            e_dst,
            init,
            superstep,
            delta,
            max_iter=max_iter,
            tol=tol if tol is not None else 0.0,
            checkpoint_dir=checkpoint_dir,
            job_id=job_id,
            checkpoint_every=checkpoint_every,
        )
    finally:
        if internal:
            pregel._release(internal.pop())
        for df in cached:
            df.unpersist()
