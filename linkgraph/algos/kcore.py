"""k-core decomposition by iterative peeling.

The k-core is the maximal subgraph where every vertex has (undirected)
degree >= k — the standard web-graph densification/filtering primitive.
Each round drops vertices below k and the edges touching them; rounds
are idempotent once stable, so a FIXED round count is exact whenever it
exceeds the peel depth (the same determinism trick the CC oracle uses).

Each round = one degree aggregation + two joins against it, all on
(src, dst) pairs; nothing wider ever shuffles, and the edge set only
shrinks. The rounds run on ``pregel.run_pregel`` with the edge set as
the state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph import pregel


def k_core(
    edges: DataFrame,
    k: int,
    *,
    max_iter: int = 30,
    checkpoint_dir: str | None = None,
    job_id: str | None = None,
    checkpoint_every: int = 5,
) -> pregel.PregelResult:
    """Returns state = (vid) rows of the k-core's surviving vertices.

    ``checkpoint_dir`` enables durable per-round checkpoints of the
    shrinking edge set (commit-markered); a killed run over the same
    edges resumes from the last committed round — peeling is
    idempotent, so a resumed run is bit-identical to an uninterrupted
    one. A checkpoint written for another ``k`` is not resumed.
    ``job_id`` defaults to ``kcore<k>``. Self-loops are ignored."""
    num_partitions = edges.sparkSession.sparkContext.defaultParallelism
    und = (
        edges.select("src", "dst")
        .unionAll(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(num_partitions, "src")
    )
    # the delta is the number of removed edges: flag them on the degree
    # joins and observe the flag count on the round's own
    # materialization, so no round counts its edges
    delta = pregel.ObservedDelta()

    def superstep(edges_df: DataFrame, und: DataFrame, i: int) -> DataFrame:
        # und is symmetric, so every dst is also a src with a degree row
        ok = und.groupBy("src").agg((F.count(F.lit(1)) >= k).alias("_ok"))
        ok_dst = ok.select(F.col("src").alias("dst"), F.col("_ok").alias("_ok_dst"))
        flagged = und.join(ok, "src").join(ok_dst, "dst")
        keep = F.col("_ok") & F.col("_ok_dst")
        flagged = delta.observe(flagged, F.count_if(~keep))
        return flagged.where(keep).select("src", "dst")

    # the superstep never reads run_pregel's edges argument; it is only
    # fingerprinted, so k rides in it and a checkpoint of another k
    # under the same job_id is cleared instead of resumed
    res = pregel.run_pregel(
        edges.select("src", "dst", F.lit(k).alias("k")),
        und,
        superstep,
        delta,
        max_iter=max_iter,
        tol=0.0,
        checkpoint_dir=checkpoint_dir,
        job_id=job_id or f"kcore{k}",
        checkpoint_every=checkpoint_every,
    )
    core = res.state.select(F.col("src").alias("vid")).distinct()
    core = core.localCheckpoint(eager=True)
    pregel._release(res.state)
    res.state = core
    return res
