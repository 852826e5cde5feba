"""Seeded random walks over the link graph — DeepWalk/node2vec-style
corpus generation for embedding training.

Walks are DETERMINISTIC given the seed: at step t a walker at vertex v
moves to the neighbor whose per-source rank equals
``(a*(v*K + t) + b) mod P mod outdeg(v)`` (the engine-portable affine
family from linkgraph/pipeline/phash.py), so the identical walks are
reproducible in the DuckDB oracle and across reruns/resumes — the
property a training corpus wants anyway.

Spark shape: edges get a one-time per-source rank + degree (one window
over src); each step is then a single equi-join of the walker frontier
against (src, rank) — the join key carries (vid, chosen_rank), nothing
wider, and walkers at dead ends (no out-edges) stop. Walk storage is
(walk_id, step, vid) rows — trivially reassembled into sequences with
collect_list when feeding a trainer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from linkgraph import pregel
from linkgraph.pipeline import phash

_STEP_MIX = 1_000_003


def random_walks(
    edges: DataFrame,
    walk_length: int,
    seed: int = 7,
    starts: DataFrame | None = None,
) -> DataFrame:
    """(walk_id, step, vid) rows: one walk per start vertex (default:
    every vertex with an out-edge), ``walk_length`` transitions or until
    a dead end. walk_id = the start vid.

    Vertex ids must be integral (the portable neighbor-choice hash is
    integer arithmetic); run string-keyed graphs (e.g. host graphs)
    through ``normalize.assign_contiguous_ids`` first.

    The ranked edge cache and the per-step frontier checkpoints are
    released on return and on error; the returned frame is one
    ``localCheckpoint``.
    """
    from pyspark.sql import types as T

    num_partitions = edges.sparkSession.sparkContext.defaultParallelism
    if not isinstance(
        edges.schema["src"].dataType, (T.LongType, T.IntegerType, T.ShortType)
    ):
        raise TypeError(
            "random_walks needs integral vertex ids; map string keys to "
            "contiguous ids first (normalize.assign_contiguous_ids)"
        )
    (a, b) = phash.seeded_coeffs(1, seed)[0]

    w = Window.partitionBy("src").orderBy(F.col("dst").asc())
    ranked = (
        edges.select("src", "dst")
        .distinct()
        .withColumn("__rn__", F.row_number().over(w) - 1)
        .withColumn("__deg__", F.count(F.lit(1)).over(Window.partitionBy("src")))
        .repartition(num_partitions, "src")
        .persist()
    )
    frontiers: list[DataFrame] = []
    try:
        if starts is None:
            starts = ranked.select(F.col("src").alias("vid")).distinct()
        cur = starts.select(
            F.col("vid").alias("walk_id"), F.col("vid").alias("vid")
        )
        out = cur.withColumn("step", F.lit(0))
        for t in range(1, walk_length + 1):
            # fresh per-step column names (cur derives from ranked after the
            # first hop — reusing ranked's columns is an ambiguous self-join)
            r_t = ranked.select(
                F.col("src").alias(f"__s{t}__"),
                F.col("dst").alias(f"__d{t}__"),
                F.col("__rn__").alias(f"__r{t}__"),
                F.col("__deg__").alias(f"__g{t}__"),
            )
            # portable pseudo-random neighbor choice for (vertex, step);
            # reduce vid mod P FIRST — raw 64-bit ids (hash vids) times the
            # mixer would overflow int64 (phash discipline: stay < 2^60).
            # pmod, not %: Spark's % keeps the dividend's sign, so a negative
            # vid (raw 64-bit hash id) would yield a negative choice that
            # matches no rank and silently kills the walk. pmod == % for
            # non-negative operands, so existing oracles are unaffected.
            x = F.pmod(
                F.pmod(F.col("vid"), F.lit(phash.P)) * F.lit(_STEP_MIX) + F.lit(t),
                F.lit(phash.P),
            )
            choice = F.pmod(
                F.pmod(x * F.lit(a) + F.lit(b), F.lit(phash.P)), F.col(f"__g{t}__")
            )
            # checkpoint each frontier: union branches don't share subplans,
            # so un-materialized steps would re-run the whole join chain per
            # branch (O(L^2) joins) — same discipline as the other kernels
            cur = (
                cur.join(r_t, F.col("vid") == F.col(f"__s{t}__"))
                .where(F.col(f"__r{t}__") == choice)
                .select("walk_id", F.col(f"__d{t}__").alias("vid"))
                .localCheckpoint(eager=True)
            )
            frontiers.append(cur)
            out = out.unionByName(cur.withColumn("step", F.lit(t)))
        return out.localCheckpoint(eager=True)
    finally:
        # the returned frame no longer reads the frontiers
        for f in frontiers:
            pregel._release(f)
        ranked.unpersist()

