"""Connected components: hash-min label propagation + large-star/small-star.

Semantics (frozen): undirected connectivity over edges(src, dst);
component id = min vid of the component (the canonicalization FIXTURES.md
requires). The min-propagation update mirrors the reference's
keep-shortest-path min-semantics UDAF
(/root/reference/reasoner/udf/src/main/java/com/antgroup/openspg/reasoner/udf/builtin/udaf/KeepShortestPath.java:24-25).

Two modes:
  * ``hash-min`` — one superstep = take the min component id over the
    in-neighborhood. O(diameter) supersteps; best for shallow web graphs.
  * ``two-phase`` (large-star/small-star, Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14 — public algorithm) —
    O(log² n) rounds on deep/path-like graphs. Each round rewires edges
    toward local minima; both phases are plain join+groupBy+min.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph import pregel


def _undirected(edges: DataFrame) -> DataFrame:
    e = edges.select("src", "dst")
    return e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


BROADCAST_STATE_MAX_VERTICES = 20_000_000


def connected_components(
    edges: DataFrame,
    *,
    vertices: DataFrame | None = None,
    max_iter: int = 50,
    algorithm: str = "hash-min",
    broadcast_state: bool | None = None,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    job_id: str = "cc",
    checkpoint_every: int = 5,
    resume: bool = True,
    init_labels: DataFrame | None = None,
    prior_edges: DataFrame | None = None,
    assume_additive: bool = False,
) -> pregel.PregelResult:
    """Returns state (vid, component) with component = min member vid.

    ``init_labels`` (vid, component) warm-starts hash-min from a
    previous run's labels — the incremental-crawl path: old labels are
    min-vids of old components, old components are subsets of new ones
    and their min vids are still members, so min-propagation from the
    old labels converges to exactly the same canonical min-member-vid
    labeling (tested equal), in fewer rounds when the delta only merges
    a few components. New vertices start at their own vid as usual.

    Warm start is sound ONLY for edge-additive deltas (old edges ⊆ new
    edges ⇒ old components ⊆ new components).  A non-additive delta (a
    removed edge can SPLIT a component) cannot be detected from the
    labels: hash-min labels only ever decrease, so a stale seed that
    glues two now-separate components produces a final labeling that is
    internally consistent (constant per label-group, label = min member
    vid) and no label-side post-hoc check can reject it.  The guard is
    therefore a PRECONDITION check, validated BEFORE any superstep runs
    (so no checkpoint written under ``job_id`` can ever hold poisoned
    labels):

      * ``prior_edges`` — the edge frame the ``init_labels`` run was
        computed over.  One undirected-canonical anti-join (O(|E_old|),
        short-circuited by limit(1)) proves old ⊆ new; on violation the
        warm start is discarded with a warning and the run proceeds
        COLD under the same ``job_id``.
      * ``assume_additive=True`` — the caller certifies additivity
        (e.g. an append-only crawl frontier) and skips the join.

    Passing ``init_labels`` with neither raises ``ValueError`` — there
    is no sound way to validate the seed after the fact.

    Same physical strategy as pagerank (see docs/PLANS.md): the
    undirected edge frame is cached hash-partitioned by ``dst``; with a
    broadcastable state each superstep is BroadcastHashJoin -> exchange-
    free min-aggregate -> co-partitioned merge-join update. Exchange
    plan for huge V via ``broadcast_state=False``.
    """
    if algorithm == "two-phase":
        return _star_contraction(
            edges, vertices=vertices, max_iter=max_iter,
            checkpoint_dir=checkpoint_dir, job_id=job_id,
        )
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism

    if init_labels is not None:
        if prior_edges is not None:
            # precondition: every old undirected edge survives into the
            # new graph.  Canonical (min,max) form so direction flips
            # don't count as removals; limit(1) short-circuits the scan.
            def _canon(e: DataFrame) -> DataFrame:
                return e.select(
                    F.least("src", "dst").alias("_u"),
                    F.greatest("src", "dst").alias("_v"),
                )

            removed = (
                _canon(prior_edges)
                .join(_canon(edges), ["_u", "_v"], "left_anti")
                .limit(1)
                .count()
            )
            if removed:
                import warnings

                warnings.warn(
                    "cc init_labels rejected: the delta is non-additive "
                    "(at least one prior edge is gone, so a component may "
                    "have split); running cold instead"
                )
                init_labels = None
        elif not assume_additive:
            raise ValueError(
                "connected_components(init_labels=...) needs either "
                "prior_edges (the edge frame the labels were computed "
                "over, to verify the delta is edge-additive) or "
                "assume_additive=True (caller certifies an append-only "
                "delta). A split caused by a removed edge cannot be "
                "detected from the labels after the fact."
            )

    # build the (cached) undirected frame FIRST and derive the vertex
    # set from it (r6): the old order ran _undirected twice — once
    # uncached for verts, once for the loop cache — paying an extra
    # 2|E|-row pass before the first superstep. The cache is built
    # optimistically partitioned by dst (the broadcast plan, which
    # covers everything up to BROADCAST_STATE_MAX_VERTICES); when the
    # vertex count lands above that, the src-keyed cache the exchange
    # plan wants is RESHUFFLED FROM the dst cache (one cache-to-cache
    # exchange) rather than rebuilt from the raw edges — setup-only
    # cost, amortized by the loop's per-superstep savings.
    part_key = "dst" if broadcast_state in (None, True) else "src"
    und = _undirected(edges).repartition(num_partitions, part_key).persist()
    if vertices is None:
        verts = und.select(F.col("src").alias("vid")).distinct()
    else:
        verts = vertices.select("vid")
    verts = verts.persist()
    n = verts.count()
    if broadcast_state is None:
        broadcast_state = n <= BROADCAST_STATE_MAX_VERTICES
    if not broadcast_state and part_key == "dst":
        # auto-detected huge graph: re-key the existing cache to src
        resrc = und.repartition(num_partitions, "src").persist()
        resrc.count()
        und.unpersist()
        und = resrc
    if init_labels is not None:
        # additivity already established above (prior_edges subset
        # check or caller's assume_additive certificate).  One residual
        # hygiene filter: a prior label naming a vid absent from the
        # new graph (labels computed over a superset vertex set) would
        # seed a component id that is not a member vid — drop it; the
        # vertex falls back to its own vid.
        label_vids = verts.select(F.col("vid").alias("_lv"))
        prior = (
            init_labels.select("vid", F.col("component").alias("_prior"))
            .join(label_vids, F.col("_prior") == F.col("_lv"), "left_semi")
        )
        init = verts.join(prior, "vid", "left").select(
            "vid",
            # never seed ABOVE the vid: min(prior, vid) keeps the
            # invariant that labels are component-member vids
            F.least(F.coalesce("_prior", F.col("vid")), F.col("vid")).alias(
                "component"
            ),
        )
    else:
        init = verts.select("vid", F.col("vid").alias("component"))
    init = init.repartition(num_partitions, "vid")

    # hash-min labels only ever decrease, so "changed" is decidable
    # inside the superstep itself: carry it as a flag column and collect
    # its sum as an OBSERVED metric of the superstep plan — the
    # convergence delta is then harvested from the localCheckpoint
    # materialization itself, zero extra jobs per superstep (r6; the
    # intermediate form ran a filter+count job over the materialized
    # state, still one job per superstep).
    #
    # The observed flag-sum is the number of vertices whose label
    # changed: least() only decreases, so new != old  ⟺  mmin <
    # old.component  ⟺  _ch.
    delta = pregel.ObservedDelta()

    def superstep(edges_df: DataFrame, state: DataFrame, i: int) -> DataFrame:
        s = F.broadcast(state) if broadcast_state else state
        msgs = (
            edges_df.join(s, edges_df["src"] == s["vid"])
            .groupBy(F.col("dst").alias("mvid"))
            .agg(F.min("component").alias("mmin"))
        )
        new = state.hint("merge").join(
            msgs, state["vid"] == msgs["mvid"], "left"
        ).select(
            "vid",
            F.least(
                F.col("component"), F.coalesce(F.col("mmin"), F.col("component"))
            ).alias("component"),
            (F.col("mmin") < F.col("component")).alias("_ch"),
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
        res.state = res.state.select("vid", "component")
        return res
    finally:
        verts.unpersist()
        und.unpersist()


def _star_contraction(
    edges: DataFrame,
    *,
    vertices: DataFrame | None,
    max_iter: int,
    checkpoint_dir: str | None,
    job_id: str,
) -> pregel.PregelResult:
    """Alternating large-star / small-star until the edge set is stable.

    State here is the evolving parent-pointer edge set; converges in
    O(log² n) rounds, robust to long path graphs where hash-min needs
    O(diameter) rounds.
    """
    spark = edges.sparkSession
    e = (
        _undirected(edges)
        .where(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    metrics: list[dict] = []
    import time

    it = 0
    converged = False
    while it < max_iter:
        t0 = time.monotonic()
        # large-star: every neighbor larger than u links to u's min neighbor
        nbrs = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = nbrs.groupBy("u").agg(F.min("v").alias("m"))
        mins = mins.select("u", F.least("u", "m").alias("m"))
        large = (
            nbrs.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: neighbors ≤ u (plus u) link to the min neighbor
        nbrs2 = large.unionAll(
            large.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).where(F.col("v") < F.col("u"))
        mins2 = nbrs2.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            nbrs2.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(mins2.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        changed = small.exceptAll(e).count() + e.exceptAll(small).count()
        it += 1
        metrics.append(
            {"job_id": job_id, "superstep": it, "wall_s": round(time.monotonic() - t0, 4), "delta": float(changed)}
        )
        e = small
        if changed == 0:
            # explicit flag: a run whose edge set stabilises exactly on the
            # final allowed round is still converged (it == max_iter here)
            converged = True
            break

    # e is now a forest pointing each vertex at its component min.
    if vertices is None:
        verts = (
            _undirected(edges).select(F.col("src").alias("vid")).distinct()
        )
    else:
        verts = vertices.select("vid")
    comp = verts.join(e, verts["vid"] == e["u"], "left").select(
        "vid", F.coalesce(F.col("v"), F.col("vid")).alias("component")
    )
    return pregel.PregelResult(
        state=comp.localCheckpoint(eager=True),
        iterations=it,
        converged=converged,
        metrics=metrics,
    )
