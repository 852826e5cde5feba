"""Random walks with a teleport step — PageRank, personalized PageRank and
weighted PageRank — as Pregel-style DataFrame supersteps on one kernel.

Semantics (frozen — golden fixtures + the DuckDB oracles in
__spark_entry__.py reproduce exactly these):
  * synchronous power iteration, damping d (default 0.85), N vertices
  * ``pagerank``: init score = 1/N; dangling (out-degree 0) mass
    redistributed uniformly each step:
      score'(v) = (1-d)/N + d * (Σ_{u→v} score(u)/outdeg(u) + dangling/N)
  * ``personalized_pagerank``: teleport and dangling mass return to the
    seed set S (init 1/|S| on S, 0 elsewhere — the reference's seeded
    Start/IdEqualPushDown idea applied to the iterative loop,
    lube-logical/.../optimizer/rules/IdEqualPushDown.scala):
      score'(v) = d * Σ_{u→v} score(u)/outdeg(u) + 1[v∈S] * (1-d+d*dangling)/|S|
  * ``weighted_pagerank``: a walker at u moves to v with probability
    w(u,v)/W(u), W(u) = Σ w(u,·); vertices whose W is <= 0 (or null)
    are dangling, and mass teleports as in pagerank:
      score'(v) = (1-d)/N + d * (Σ_{u→v} score(u)*w(u,v)/W(u) + dangling/N)
  * stop when L∞(score' - score) <= tol (or after max_iter fixed steps)

The reference has no PageRank (SURVEY.md key negative finding) — this is
built on its iterative expand/aggregate machinery re-expressed in Spark:
message pass = edges⋈state join + groupBy(dst) (LocalRDG.expandInto +
groupBy, /root/reference/reasoner/runner/local-runner/.../rdg/LocalRDG.java:499-610,771-860).

One kernel, ``_random_walk``, runs all three on ``pregel.run_pregel``;
the variants differ only in its inputs. The edge frame is (src, dst),
or (src, dst, frac = w/W) for the weighted walk. The base state is
(vid, out_degree), where a weighted vertex has out_degree 1.0 when
W > 0 and 0.0 otherwise. The seed set picks the prior (1/N, or 1/|S| on
S) and the teleport term. Each variant keeps its float order bitwise:
score/1.0 == score, and the teleport term is one addend of the update
(``teleport + d*msum``; IEEE addition commutes exactly).

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
  * above ``pregel.BROADCAST_STATE_MAX_VERTICES`` vertices (the
    10^12-doc regime) the kernel switches to the exchange plan: edges
    stay cached partitioned on ``src`` (join key), only the V-row state
    and the partially-aggregated messages shuffle. Map-side combine
    (the partial sum below the message exchange) + AQE skew-join handle
    power-law in-degree.
  * out-degree is folded INTO the state frame (vid, score, out_degree) —
    no per-iteration join against a separate degree table, and the
    vertex/url table is never touched inside the loop (the reference's
    NodeIdToEdgeProperty rewrite, optimizer/rules/NodeIdToEdgeProperty.scala:34).
    The weighted walk folds w/W into the cached edge frame the same way.
  * 1 action per superstep, the localCheckpoint, in both modes: the
    dangling-mass aggregate rides the same plan as a broadcast 1-row
    frame, and in tol mode the L∞ delta is an observed metric of that
    materialization. AQE runs the action as 5 Spark jobs (its shuffle
    and broadcast stages are jobs of their own).
"""

from __future__ import annotations

import hashlib
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from linkgraph import pregel


def pagerank(
    edges: DataFrame,
    *,
    damping: float = 0.85,
    tol: float | None = 1e-6,
    max_iter: int = 100,
    vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    job_id: str = "pagerank",
    checkpoint_every: int = 5,
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
    base_state = _out_degrees(edges, F.lit(1))
    if vertices is not None:
        base_state = vertices.select("vid").join(base_state, "vid", "left").select(
            "vid", F.coalesce("out_degree", F.lit(0.0)).alias("out_degree")
        )
    return _random_walk(
        edges.select("src", "dst"), base_state, None,
        damping=damping, tol=tol, max_iter=max_iter, init_scores=init_scores,
        num_partitions=num_partitions, checkpoint_dir=checkpoint_dir,
        job_id=job_id, checkpoint_every=checkpoint_every,
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: Sequence[int],
    *,
    damping: float = 0.85,
    tol: float | None = 1e-6,
    max_iter: int = 100,
    init_scores: DataFrame | None = None,
    checkpoint_dir: str | None = None,
) -> pregel.PregelResult:
    """Returns state (vid, score); scores sum to 1 over the graph.

    Raises ``ValueError`` when a seed is not a vertex of the edge table
    (its teleport mass would silently vanish).

    ``init_scores`` warm-starts as in ``pagerank`` (the damped fixed
    point (I - dA^T)x = (1-d)s is unique), except that unknown vertices
    start at 0, the PPR prior.

    A checkpoint under ``checkpoint_dir`` resumes only a run over the
    same edges with the same seed set: the job id is keyed on the
    sorted seeds, and ``run_pregel`` fingerprints the edges."""
    seed_list = sorted(set(int(s) for s in seeds))
    if not seed_list:
        raise ValueError("personalized_pagerank needs at least one seed vertex")
    digest = hashlib.sha256(",".join(map(str, seed_list)).encode()).hexdigest()
    return _random_walk(
        edges.select("src", "dst"), _out_degrees(edges, F.lit(1)), seed_list,
        damping=damping, tol=tol, max_iter=max_iter, init_scores=init_scores,
        checkpoint_dir=checkpoint_dir, job_id=f"ppr-{digest[:16]}",
    )


def weighted_pagerank(
    edges: DataFrame,
    *,
    weight_col: str = "weight",
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float | None = None,
    init_scores: DataFrame | None = None,
    checkpoint_dir: str | None = None,
) -> pregel.PregelResult:
    """Weighted PageRank over (src, dst, weight) edges — the host-graph
    companion of ``pagerank``. Returns state (vid, score), scores
    summing to 1.

    The natural input is ``normalize.host_graph`` output (weight =
    page-level link count), where uniform transitions would badly
    misrank mega-sites; it plugs in directly:
    ``weighted_pagerank(hg, src_col="src_host", dst_col="dst_host")``.
    Vertices whose total out-weight is <= 0 (or null) are treated as
    dangling — their edges carry no mass and never divide by zero.

    ``init_scores`` warm-starts as in ``pagerank`` (incremental
    host-graph re-ranking).
    """
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("double").alias("w"),
    )
    # W(u) is the weighted out-degree. CRITICAL: the dangling flag and
    # the fraction w/W both derive from THIS one aggregate, which the
    # kernel caches before the edge frame reads it — two independent
    # float sums could disagree at the `> 0` boundary on mixed-sign
    # weights (different summation orders), classifying a vertex active
    # while giving it no frac rows, silently losing mass.
    base_state = _out_degrees(e, F.col("w")).select(
        "vid",
        F.when(F.col("out_degree") > 0, 1.0).otherwise(0.0).alias("out_degree"),
        F.col("out_degree").alias("__W__"),
    )
    tot = base_state.where(F.col("out_degree") > 0).select(
        F.col("vid").alias("src"), "__W__"
    )
    frac = e.join(tot, "src").select(
        "src", "dst", (F.col("w") / F.col("__W__")).alias("frac")
    )
    return _random_walk(
        frac, base_state, None,
        damping=damping, tol=tol, max_iter=max_iter, init_scores=init_scores,
        checkpoint_dir=checkpoint_dir, job_id="wpagerank",
    )


def _out_degrees(edges: DataFrame, weight: Column) -> DataFrame:
    """(vid, out_degree), the sum of ``weight`` over each vertex's
    out-edges, in a SINGLE aggregation (r6): union the endpoints as
    (src, weight) and (dst, 0) and sum. With weight 1 this is exact
    integer arithmetic (sum of 1s == count over src occurrences, then
    one cast to double); adding 0.0 leaves a float sum unchanged.
    Map-side combined to ~|V| rows before the only exchange, no join, no
    distinct. Replaces the old 2|E|-row union+distinct + degree join
    (measured 0.9 s of the 4.3 s sf0.1 bench kernel; the single-agg form
    halves the remaining setup again)."""
    endpoints = edges.select(
        F.col("src").alias("vid"), weight.alias("__c__")
    ).unionAll(edges.select(F.col("dst").alias("vid"), F.lit(0).alias("__c__")))
    return endpoints.groupBy("vid").agg(
        F.sum("__c__").cast("double").alias("out_degree")
    )


def _random_walk(
    edges: DataFrame,
    base_state: DataFrame,
    seeds: list[int] | None,
    *,
    damping: float,
    tol: float | None,
    max_iter: int,
    init_scores: DataFrame | None,
    checkpoint_dir: str | None,
    job_id: str,
    num_partitions: int | None = None,
    checkpoint_every: int = 5,
) -> pregel.PregelResult:
    """Power iteration over ``edges`` (src, dst[, frac]) from
    ``base_state`` (vid, out_degree, ...), teleporting to ``seeds``
    (None: every vertex). Both inputs are cached here, and every cache
    is released on return and on error."""
    spark = base_state.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    cached = [base_state.persist()]
    try:
        # the vertex count and the seed-presence check are ONE aggregate
        # over the cached base state
        n, present = base_state.agg(
            F.count(F.lit(1)), F.count_if(F.col("vid").isin(seeds or []))
        ).first()
        if seeds and present < len(seeds):
            raise ValueError(
                f"{len(seeds) - present} seed vertex/vertices not present in the "
                "edge table (teleport mass would silently vanish)"
            )
        if n == 0:
            vid_type = base_state.schema["vid"].dataType.simpleString()
            empty = spark.createDataFrame([], f"vid {vid_type}, score double")
            return pregel.PregelResult(state=empty, iterations=0, converged=True)
        broadcast_state = n <= pregel.BROADCAST_STATE_MAX_VERTICES
        # the E-row side is cached partitioned for its hot path (see the
        # module docstring)
        part_key = "dst" if broadcast_state else "src"
        e = edges.repartition(num_partitions, part_key).persist()
        cached.append(e)

        if seeds is None:
            prior = unseen = F.lit(1.0 / n)
            teleport = F.lit((1.0 - damping) / n) + F.lit(damping) * F.col(
                "_dangling"
            ) / F.lit(float(n))
        else:
            in_s = F.col("vid").isin(seeds)
            prior, unseen = F.when(in_s, 1.0 / len(seeds)).otherwise(0.0), F.lit(0.0)
            teleport = F.when(
                in_s,
                (F.lit(1.0 - damping) + F.lit(damping) * F.col("_dangling"))
                / F.lit(float(len(seeds))),
            ).otherwise(0.0)
        init = base_state.select("vid", prior.alias("score"), "out_degree")
        if init_scores is not None:
            seeded = base_state.join(
                init_scores.select("vid", F.col("score").alias("_prior")), "vid", "left"
            ).select("vid", F.coalesce("_prior", unseen).alias("score"), "out_degree")
            total = seeded.agg(F.sum("score")).collect()[0][0]
            # an empty/zero prior falls back to the cold init
            if total and total > 0:
                init = seeded.select(
                    "vid",
                    (F.col("score") / F.lit(float(total))).alias("score"),
                    "out_degree",
                )
        # lay the state out by hash(vid, P) (see the module docstring)
        init = init.repartition(num_partitions, "vid")
        # the weighted walk sends score * w/W: its out_degree is 1.0, so
        # contrib == score exactly and the unweighted plan gains no column
        weighted = "frac" in edges.columns
        # tol mode observes max |score - _old| on the superstep's own
        # localCheckpoint: no join and no collect job
        delta = pregel.ObservedDelta() if tol is not None else None

        def superstep(edges_df: DataFrame, state: DataFrame, i: int) -> DataFrame:
            # the dangling mass joins back as a broadcast 1-row frame (see
            # the module docstring); the driver collect it replaced was a
            # measured 0.14 s of the 0.43 s sf0.1 superstep (r6)
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
            msg = (F.col("contrib") * F.col("frac")).alias("contrib") if weighted else "contrib"
            joined = edges_df.join(active, edges_df["src"] == active["vid"]).select(
                "dst", msg
            )
            sums = joined.groupBy("dst").agg(F.sum("contrib").alias("msum"))
            newscore = (
                teleport + F.lit(damping) * F.coalesce(F.col("msum"), F.lit(0.0))
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
        )
    finally:
        # the returned state is localCheckpoint-materialized; internal
        # caches can go (long sessions run many algorithms back to back)
        for df in cached:
            df.unpersist()
    res.state = res.state.select("vid", "score")
    return res
