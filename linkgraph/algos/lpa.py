"""Synchronous label propagation with deterministic min-label tie-break.

Semantics (frozen; FIXTURES.md golden `labels.parquet`):
  * undirected neighborhood, init label = vid
  * each round every vertex adopts the most frequent label among its
    neighbors; ties -> smallest label; isolated vertices keep theirs
  * synchronous rounds (all updates from the previous state) so the
    result is a pure function of (graph, rounds) — the reference's
    deterministic-min flavor (keep_shortest_path UDAF min-semantics,
    /root/reference/reasoner/udf/.../builtin/udaf/KeepShortestPath.java).

The per-round argmax is a join + two aggregations (count per (vid,label),
then min(struct(-count, label)) per vid) — all JVM-side, skew handled by
Spark's partial aggregation + AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph import pregel


def label_propagation(
    edges: DataFrame,
    *,
    vertices: DataFrame | None = None,
    max_iter: int = 10,
    checkpoint_dir: str | None = None,
    job_id: str = "lpa",
    checkpoint_every: int = 5,
    resume: bool = True,
) -> pregel.PregelResult:
    """Returns state (vid, label).

    The edge frame is cached hash-partitioned by ``dst`` and the state
    broadcast into the label-count join (when small enough), so the
    per-round (dst, label) count aggregates in place; only the counts
    (bounded by distinct neighbor labels, map-side combined) exchange
    for the per-vertex argmax — the honest plan at any scale, since the
    argmax re-keys from (dst, label) to dst regardless.

    No ``init_labels`` warm start here deliberately: unlike
    pagerank/cc, synchronous LPA's result DEPENDS on the initial
    labeling (min tie-breaks propagate from it), so seeding with old
    labels would silently change the answer on a grown graph rather
    than just the iteration count.
    """
    spark = edges.sparkSession
    num_partitions = spark.sparkContext.defaultParallelism
    e = edges.select("src", "dst")
    und = (
        e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .repartition(num_partitions, "dst")
        .persist()
    )

    if vertices is None:
        verts = und.select(F.col("src").alias("vid")).distinct()
    else:
        verts = vertices.select("vid")
    verts = verts.persist()
    broadcast_state = verts.count() <= 20_000_000
    init = verts.select("vid", F.col("vid").alias("label"))

    # changed-count collected as an observed metric of the superstep
    # plan itself (r6, as in cc.py): the delta costs zero extra jobs.
    # A label changed ⟺ the adopted newlabel was non-null and differed
    # (null ⇒ excluded from the observed _ch sum).
    delta = pregel.ObservedDelta()

    def superstep(edges_df: DataFrame, state: DataFrame, i: int) -> DataFrame:
        s = F.broadcast(state) if broadcast_state else state
        counts = (
            edges_df.join(s, edges_df["src"] == s["vid"])
            .groupBy(F.col("dst").alias("mvid"), F.col("label").alias("nlabel"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # argmax with min tie-break: min over struct(-cnt, label)
        best = counts.groupBy("mvid").agg(
            F.min(F.struct((-F.col("cnt")).alias("negcnt"), F.col("nlabel").alias("lab")))
            .alias("b")
        ).select("mvid", F.col("b.lab").alias("newlabel"))
        # carry the changed flag in the state (isolated vertices keep
        # their label, so "changed" ⟺ a non-null newlabel differs) and
        # observe its sum on the superstep plan.
        new = state.join(best, state["vid"] == best["mvid"], "left").select(
            "vid",
            F.coalesce(F.col("newlabel"), F.col("label")).alias("label"),
            (F.col("newlabel") != F.col("label")).alias("_ch"),
        )
        return delta.observe(new, F.sum(F.col("_ch").cast("long")))

    try:
        res = pregel.run_pregel(
            und,
            init,
            superstep,
            delta,
            max_iter=max_iter,
            tol=0.0,
            checkpoint_dir=checkpoint_dir,
            job_id=job_id,
            checkpoint_every=checkpoint_every,
            resume=resume,
        )
        res.state = res.state.select("vid", "label")
        return res
    finally:
        verts.unpersist()
        und.unpersist()
