"""Personalized PageRank: teleport mass returns to a seed set instead of
uniformly — same superstep kernel as pagerank.py (the reference's seeded
Start/IdEqualPushDown idea applied to the iterative loop:
/root/reference/reasoner/lube-logical/.../optimizer/rules/IdEqualPushDown.scala).

Semantics: init = 1/|S| on seeds, 0 elsewhere;
  score'(v) = d * (Σ_{u→v} score(u)/outdeg(u)) + (1-d+d*dangling) * 1[v∈S]/|S|
(dangling mass teleports back to the seeds)."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph import pregel
from linkgraph.algos.pagerank import BROADCAST_STATE_MAX_VERTICES


def personalized_pagerank(
    edges: DataFrame,
    seeds: Sequence[int],
    *,
    damping: float = 0.85,
    tol: float | None = 1e-6,
    max_iter: int = 100,
    num_partitions: int | None = None,
    broadcast_state: bool | None = None,
    init_scores: DataFrame | None = None,
) -> pregel.PregelResult:
    """Returns state (vid, score); scores sum to 1 over the graph.

    ``init_scores`` (vid, score) warm-starts the power iteration from a
    previous converged state (the incremental-crawl path, as in
    pagerank.py) — the damped fixed point (I - dA^T)x = (1-d)s is
    unique, so the result is unchanged; the seed vector renormalizes to
    sum 1 and unknown vertices start at 0 (the PPR prior)."""
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    seed_list = sorted(set(int(s) for s in seeds))
    if not seed_list:
        raise ValueError("personalized_pagerank needs at least one seed vertex")
    ns = len(seed_list)

    # one-pass setup as in pagerank.py (r6): (vid, out_degree) in a
    # single aggregation over the unioned endpoints (src→1, dst→0; sum
    # of ones == out-degree, exact integers); the seed-presence check
    # and the vertex count collapse into ONE aggregate over the cached
    # state base.
    endpoints = edges.select(
        F.col("src").alias("vid"), F.lit(1).alias("__c__")
    ).unionAll(edges.select(F.col("dst").alias("vid"), F.lit(0).alias("__c__")))
    base_state = endpoints.groupBy("vid").agg(
        F.sum("__c__").cast("double").alias("out_degree")
    ).persist()
    counts = base_state.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("vid").isin(seed_list), 1).otherwise(0)).alias("p"),
    ).collect()[0]
    present = int(counts["p"] or 0)
    if present < ns:
        raise ValueError(
            f"{ns - present} seed vertex/vertices not present in the edge table "
            f"(teleport mass would silently vanish)"
        )
    if broadcast_state is None:
        broadcast_state = counts["n"] <= BROADCAST_STATE_MAX_VERTICES
    # same plan switch as pagerank.py: broadcast plan caches edges by dst
    # (exchange-free message agg); exchange plan caches by src so the
    # per-superstep state join is co-partitioned and only the V-row state
    # + partial message sums ever shuffle (the 10^12-doc regime).
    part_key = "dst" if broadcast_state else "src"
    e = edges.select("src", "dst").repartition(num_partitions, part_key).persist()
    seed_col = F.when(F.col("vid").isin(seed_list), 1.0 / ns).otherwise(0.0)
    if init_scores is not None:
        prior = init_scores.select("vid", F.col("score").alias("_prior"))
        seeded = base_state.join(prior, "vid", "left").select(
            "vid",
            F.coalesce("_prior", F.lit(0.0)).alias("score"),
            "out_degree",
        )
        total = seeded.agg(F.sum("score")).collect()[0][0]
        if total and total > 0:
            init = seeded.select(
                "vid",
                (F.col("score") / F.lit(float(total))).alias("score"),
                "out_degree",
            )
        else:  # empty/zero prior: fall back to the seed vector
            init = base_state.select(
                "vid", seed_col.alias("score"), "out_degree"
            )
    else:
        init = base_state.select(
            "vid", seed_col.alias("score"), "out_degree"
        )
    init = init.repartition(num_partitions, "vid")
    # tol mode observes the L∞ delta on the superstep itself, as in
    # pagerank.py
    delta = pregel.ObservedDelta() if tol is not None else None

    def superstep(edges_df: DataFrame, state: DataFrame, i: int) -> DataFrame:
        # dangling mass rides the plan as a broadcast 1-row frame (r6;
        # same trick as pagerank.py) — one action per superstep
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
        sums = (
            edges_df.join(active, edges_df["src"] == active["vid"])
            .select("dst", "contrib")
            .groupBy("dst")
            .agg(F.sum("contrib").alias("msum"))
        )
        teleport = F.lit(1.0 - damping) + F.lit(damping) * F.col("_dangling")
        newscore = (
            F.lit(damping) * F.coalesce(F.col("msum"), F.lit(0.0))
            + F.when(
                F.col("vid").isin(seed_list), teleport / F.lit(float(ns))
            ).otherwise(0.0)
        ).alias("score")
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
            job_id="ppr",
        )
    finally:
        base_state.unpersist()
        e.unpersist()
    res.state = res.state.select("vid", "score")
    return res
