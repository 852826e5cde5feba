"""PageRank as Pregel-style DataFrame supersteps.

Semantics (frozen — golden fixtures + the DuckDB oracle in
__spark_entry__.py reproduce exactly this):
  * synchronous power iteration, damping d (default 0.85)
  * init score = 1/N for the N vertices of the graph
  * dangling (out-degree 0) mass redistributed uniformly each step:
      score'(v) = (1-d)/N + d * (Σ_{u→v} score(u)/outdeg(u) + dangling/N)
  * stop when L∞(score' - score) <= tol (or after max_iter fixed steps)

The reference has no PageRank (SURVEY.md key negative finding) — this is
built on its iterative expand/aggregate machinery re-expressed in Spark:
message pass = edges⋈state join + groupBy(dst) (LocalRDG.expandInto +
groupBy, /root/reference/reasoner/runner/local-runner/.../rdg/LocalRDG.java:499-610,771-860).

Physical plan (tuned via .explain — see docs/PLANS.md):
  * edges are cached hash-partitioned by ``dst``. When the rank state is
    broadcastable, the message pass is then shuffle-free:
    BroadcastHashJoin (probe the V-row state) feeding partial+final
    HashAggregate on dst — ZERO exchange of the E-row side, per
    iteration, ever. The V-row side does shuffle: the
    ``localCheckpoint``-ed state scans with unknown partitioning
    (``UnknownPartitioning(0)`` on Spark 4.1.2), so the state-update
    join adds ``Exchange hashpartitioning(vid)`` + Sort + SortMergeJoin
    each superstep (plans/r06/pagerank_superstep_after.txt).
  * when V is too large to broadcast (the 10^12-doc regime),
    ``broadcast_state=False`` switches to the exchange plan: edges stay
    cached partitioned on ``src`` (join key), only the V-row state and
    the partially-aggregated messages shuffle. Map-side combine + AQE
    skew-join handle power-law in-degree; ``skew_salt > 1`` additionally
    two-phase-aggregates the hot destinations explicitly.
  * out-degree is folded INTO the state frame (vid, score, out_degree) —
    no per-iteration join against a separate degree table, and the
    vertex/url table is never touched inside the loop (the reference's
    NodeIdToEdgeProperty rewrite, optimizer/rules/NodeIdToEdgeProperty.scala:34).
  * 1 action per superstep, the localCheckpoint, in both modes: the
    dangling-mass aggregate rides the same plan as a broadcast 1-row
    frame, and in tol mode the L∞ delta is an observed metric of that
    materialization. AQE runs the action as 5 Spark jobs (its shuffle
    and broadcast stages are jobs of their own).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph import pregel
from linkgraph.ops import two_phase_agg

# Above this vertex count the rank state is no longer broadcast
# (driver/executor memory bound) and the kernel uses the exchange plan.
BROADCAST_STATE_MAX_VERTICES = 20_000_000


def pagerank(
    edges: DataFrame,
    *,
    damping: float = 0.85,
    tol: float | None = 1e-6,
    max_iter: int = 100,
    vertices: DataFrame | None = None,
    skew_salt: int = 1,
    broadcast_state: bool | None = None,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    job_id: str = "pagerank",
    checkpoint_every: int = 5,
    resume: bool = True,
    init_scores: DataFrame | None = None,
) -> pregel.PregelResult:
    """Run PageRank over edges(src, dst). Returns state (vid, score).

    ``tol=0`` + ``max_iter=k`` gives exactly-k synchronous iterations
    (what the fixed-iteration oracle checks); ``tol=1e-6`` is the
    convergence mode of BASELINE.md; ``tol=None`` skips the convergence
    delta (fixed-iteration benchmark mode).

    ``init_scores`` (vid, score) warm-starts the iteration — the
    incremental-crawl path: after appending a day's extracted edges,
    seed with yesterday's converged scores and convergence takes a
    handful of supersteps instead of tens. Damping < 1 makes the fixed
    point unique, so the result is the same as a cold start (tested
    allclose); unknown new vertices get the uniform prior and the
    seeded vector is renormalized to sum 1 (one O(1) driver scalar).
    """
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism

    # one-pass setup (r6): derive (vid, out_degree) in a SINGLE
    # aggregation — union the endpoints as (src, 1) and (dst, 0) and sum
    # the ones. Exact integer arithmetic (sum of 1s == count over src
    # occurrences, then one cast to double), map-side combined to ~|V|
    # rows before the only exchange, no join, no distinct. Replaces the
    # old 2|E|-row union+distinct + degree join (measured 0.9 s of the
    # 4.3 s sf0.1 bench kernel; the single-agg form halves the
    # remaining setup again).
    if vertices is None:
        endpoints = edges.select(
            F.col("src").alias("vid"), F.lit(1).alias("__c__")
        ).unionAll(edges.select(F.col("dst").alias("vid"), F.lit(0).alias("__c__")))
        base_state = endpoints.groupBy("vid").agg(
            F.sum("__c__").cast("double").alias("out_degree")
        )
    else:
        deg = edges.groupBy(F.col("src").alias("vid")).agg(
            F.count(F.lit(1)).cast("double").alias("out_degree")
        )
        base_state = vertices.select("vid").join(deg, "vid", "left").select(
            "vid", F.coalesce("out_degree", F.lit(0.0)).alias("out_degree")
        )
    base_state = base_state.persist()
    n = base_state.count()
    if n == 0:
        base_state.unpersist()
        return pregel.PregelResult(
            state=spark.createDataFrame([], "vid bigint, score double"),
            iterations=0,
            converged=True,
        )

    if broadcast_state is None:
        broadcast_state = n <= BROADCAST_STATE_MAX_VERTICES

    # cache the E-row side partitioned for its hot path:
    #   broadcast plan  -> partition by dst: message agg needs no exchange
    #   exchange plan   -> partition by src: the state join reuses it
    part_key = "dst" if broadcast_state else "src"
    e = edges.select("src", "dst").repartition(num_partitions, part_key).persist()
    if init_scores is not None:
        prior = init_scores.select("vid", F.col("score").alias("_prior"))
        seeded = base_state.join(prior, "vid", "left").select(
            "vid",
            F.coalesce("_prior", F.lit(1.0 / n)).alias("score"),
            "out_degree",
        )
        total = seeded.agg(F.sum("score")).collect()[0][0]
        if total and total > 0:
            init = seeded.select(
                "vid",
                (F.col("score") / F.lit(float(total))).alias("score"),
                "out_degree",
            )
        else:  # empty/zero prior: fall back to the uniform init (as ppr does)
            init = base_state.select(
                "vid", F.lit(1.0 / n).alias("score"), "out_degree"
            )
    else:
        init = base_state.select(
            "vid", F.lit(1.0 / n).alias("score"), "out_degree"
        )
    # lay the state out by hash(vid, P); the localCheckpoint-ed state
    # does not report that partitioning, so the state-update join still
    # exchanges it each superstep (see the module docstring)
    init = init.repartition(num_partitions, "vid")
    # tol mode: the superstep carries the old score as ``_old`` and
    # observes max |score - _old| on its own localCheckpoint, the same
    # L∞ delta as pregel.linf_delta without its join and collect jobs
    delta = pregel.ObservedDelta() if tol is not None else None

    def superstep(edges_df: DataFrame, state: DataFrame, i: int) -> DataFrame:
        # dangling mass rides the plan as a broadcast 1-row frame instead
        # of a per-superstep driver collect (r6): same aggregate, but the
        # scalar joins back in via a BroadcastNestedLoopJoin of one row,
        # so a superstep is ONE action (the localCheckpoint) — the
        # round-trip was a measured 0.14 s of the 0.43 s sf0.1 superstep.
        dangling = F.broadcast(
            state.where(F.col("out_degree") == 0.0).agg(
                F.coalesce(F.sum("score"), F.lit(0.0)).alias("_dangling")
            )
        )
        active = state.where(F.col("out_degree") > 0.0).select(
            "vid", (F.col("score") / F.col("out_degree")).alias("contrib")
        )
        if broadcast_state:
            active = F.broadcast(active)
        joined = edges_df.join(active, edges_df["src"] == active["vid"]).select(
            "dst", "contrib"
        )
        if skew_salt > 1:
            sums = two_phase_agg(
                joined, "dst", {"msum": (F.sum, F.sum, "contrib")}, salt_buckets=skew_salt
            )
        else:
            sums = joined.groupBy("dst").agg(F.sum("contrib").alias("msum"))
        base = (1.0 - damping) / n
        newscore = (
            F.lit(base)
            + F.lit(damping) * F.col("_dangling") / F.lit(float(n))
            + F.lit(damping) * F.coalesce(F.col("msum"), F.lit(0.0))
        ).alias("score")
        # state update: merge-join state with sums; the merge hint stops
        # AQE from building another serial driver-side broadcast per
        # superstep (the state side is exchanged and sorted, see above)
        new = state.hint("merge").join(
            sums, state["vid"] == sums["dst"], "left"
        ).crossJoin(dangling).select(
            "vid", newscore, "out_degree", F.col("score").alias("_old")
        )
        if delta is not None:
            new = delta.observe(new, F.max(F.abs(F.col("score") - F.col("_old"))))
        return new.drop("_old")

    try:
        res = pregel.run_pregel(
            e,
            init,
            superstep,
            delta,
            max_iter=max_iter,
            tol=tol if tol is not None else 0.0,
            checkpoint_dir=checkpoint_dir,
            job_id=job_id,
            checkpoint_every=checkpoint_every,
            resume=resume,
        )
    finally:
        # the returned state is localCheckpoint-materialized; internal
        # caches can go (long sessions run many algorithms back to back)
        base_state.unpersist()
        e.unpersist()
    res.state = res.state.select("vid", "score")
    return res
