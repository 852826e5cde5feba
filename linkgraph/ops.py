"""RDG-parity operator layer: the reference's physical operator surface
re-expressed as thin, composable DataFrame builders.

Parity map (SURVEY.md §2.1; contract:
/root/reference/reasoner/lube-physical/src/main/scala/com/antgroup/openspg/reasoner/lube/physical/rdg/RDG.scala;
execution: /root/reference/reasoner/runner/local-runner/.../rdg/LocalRDG.java):

  expand                PatternScan (RDG.scala:41; LocalRDG.java:238-333)
  var_len_expand        BoundedVarLenExpand (PhysicalPlanner unrolling)
  top_k                 per-group OrderAndLimit (RDG.scala:76)
  optional              Optional → left outer (lube-logical Optional.scala:20)
  semi / anti           ExpandInto intersection pruning / Exists predicate
  pattern_union         PatternUnion (unimplemented in LocalRDG:1338 — we
                        choose unionByName + dropDuplicates)

Everything here lowers to Catalyst-native plans — predicate pushdown,
column pruning, broadcast selection and AQE skew handling come for free
(SURVEY.md §4: no custom Catalyst rules needed).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# pattern growth
# --------------------------------------------------------------------------


def expand(
    frontier: DataFrame,
    edges: DataFrame,
    on: str = "vid",
    edge_src: str = "src",
    edge_dst: str = "dst",
    out_col: str = "vid",
    broadcast_frontier: bool = False,
) -> DataFrame:
    """One hop: frontier(on=vertex id) ⋈ edges -> next frontier keyed by dst.

    The reference's per-root BFS step (PatternMatcher.patternMatch) as a
    single distributed join. Broadcast the frontier when it is small
    (point lookups / IdEqualPushDown analog).
    """
    f = F.broadcast(frontier) if broadcast_frontier else frontier
    joined = f.join(edges, f[on] == edges[edge_src])
    keep = [c for c in frontier.columns if c != on]
    return joined.select(*keep, F.col(edge_dst).alias(out_col))


def var_len_expand(
    frontier: DataFrame,
    edges: DataFrame,
    lower: int,
    upper: int,
    on: str = "vid",
) -> DataFrame:
    """repeat(lower, upper) path expansion, unrolled (the reference's
    planBoundedVarLenExpand unrolls into upper iterations of
    cache+expand+join). Returns (start, vid, hops) reachability rows."""
    cur = frontier.select(F.col(on).alias("start"), F.col(on).alias("vid"))
    out = cur.withColumn("hops", F.lit(0)) if lower == 0 else None
    for hop in range(1, upper + 1):
        cur = expand(cur, edges).dropDuplicates(["start", "vid"])
        if hop >= lower:
            step = cur.withColumn("hops", F.lit(hop))
            out = step if out is None else out.unionByName(step)
    return out


def cap_fanout(edges: DataFrame, limit: int) -> DataFrame:
    """Deterministic per-source fanout cap (PatternConnection.limit):
    keep each src's top-``limit`` edges ordered by dst THEN every other
    column (name order) — parallel edges / type-union rows tie on dst
    alone and would survive nondeterministically otherwise."""
    order = [F.col("dst").asc()] + [
        F.col(c).asc() for c in sorted(edges.columns) if c not in ("src", "dst")
    ]
    w = Window.partitionBy("src").orderBy(*order)
    return (
        edges.withColumn("__rn__", F.row_number().over(w))
        .where(F.col("__rn__") <= limit)
        .drop("__rn__")
    )


def var_len_expand_paths(
    frontier: DataFrame,
    edges: DataFrame,
    lower: int,
    upper: int,
    on: str = "vid",
    edge_props: Sequence[str] = (),
    edge_constraint=None,
    per_src_limit: int | None = None,
) -> DataFrame:
    """repeat(lower, upper) with path-edge accumulation — the PathEdge
    analog (/root/reference/reasoner/common/.../PathEdge.java:31-42,
    KgGraph.getPath; Fold consumes the resulting arrays).

    Returns (start, vid, hops, path) where ``path`` is
    array<struct<src, dst, *edge_props>> — one row per DISTINCT PATH (no
    reachability dedup), so bound ``upper`` and prune per-hop.

    ``edge_constraint(prev_edge, new_edge) -> Column`` is applied DURING
    expansion from hop 2 on (prev = last accumulated path struct, new =
    candidate edge struct): a monotone-timestamp rule (FinBench trc1,
    edges().constraint(ts1 < ts2)) prunes the frontier each hop instead
    of enumerating all paths and filtering after — the difference
    between O(pruned) and O(fanout^hops) shuffle volume at scale. The
    surviving arrays feed ``repeat_reduce`` / ``repeat_constraint``
    (functions.SCALARS) for whole-path predicates.

    ``per_src_limit`` caps the fanout taken from each source vertex
    (PatternConnection.limit analog — the reference caps per-root
    expansion): on a hub-heavy web graph the k-hop path count is
    otherwise dominated by a few 10^6-degree hosts; a deterministic
    top-k by dst bounds it to limit^k per seed.
    """
    from pyspark.sql import types as T

    if per_src_limit is not None:
        edges = cap_fanout(edges, per_src_limit)
    fields = ["src", "dst", *edge_props]
    st = T.StructType([edges.schema[f] for f in fields])
    cur = frontier.select(
        F.col(on).alias("start"),
        F.col(on).alias("vid"),
        F.array().cast(T.ArrayType(st)).alias("path"),
    )
    out = cur.withColumn("hops", F.lit(0)) if lower == 0 else None
    for hop in range(1, upper + 1):
        # fresh per-hop column names: cur derives from edges after hop 1,
        # so reusing edges' columns directly is an ambiguous self-join
        e_h = edges.select(*[F.col(f).alias(f"__h{hop}_{f}") for f in fields])
        new_edge = F.struct(
            *[F.col(f"__h{hop}_{f}").alias(f) for f in fields]
        )
        j = cur.join(e_h, cur["vid"] == F.col(f"__h{hop}_src"))
        if edge_constraint is not None and hop > 1:
            j = j.where(edge_constraint(F.element_at(F.col("path"), -1), new_edge))
        cur = j.select(
            F.col("start"),
            F.col(f"__h{hop}_dst").alias("vid"),
            F.array_append(F.col("path"), new_edge).alias("path"),
        )
        if hop >= lower:
            step = cur.withColumn("hops", F.lit(hop))
            out = step if out is None else out.unionByName(step)
    return out


# --------------------------------------------------------------------------
# order / limit / top-k
# --------------------------------------------------------------------------


def top_k(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[Column], k: int
) -> DataFrame:
    """Per-group top-k via row_number window (grouped OrderAndLimit)."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .where(F.col("__rn__") <= k)
        .drop("__rn__")
    )


# --------------------------------------------------------------------------
# joins / set ops
# --------------------------------------------------------------------------


def optional(left: DataFrame, right: DataFrame, on: Sequence[str]) -> DataFrame:
    """Optional pattern part: unmatched side becomes SQL NULLs (the
    reference's NoneVertex/MirrorVertex sentinels are unnecessary)."""
    return left.join(right, list(on), "left")


def semi(left: DataFrame, right: DataFrame, on: Sequence[str]) -> DataFrame:
    return left.join(right, list(on), "left_semi")


def anti(left: DataFrame, right: DataFrame, on: Sequence[str]) -> DataFrame:
    """Exists-negation (GraphItemExists UDF analog) as a real anti-join."""
    return left.join(right, list(on), "left_anti")


def pattern_union(*dfs: DataFrame, distinct: bool = True) -> DataFrame:
    """PatternUnion — unimplemented in the reference (LocalRDG.java:1338
    throws); we define it as unionByName(allowMissingColumns) + dedup."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out.dropDuplicates() if distinct else out


def linked_expand(
    df: DataFrame,
    udtf_name: str,
    *args,
    out: str = "linked",
    limit: int | None = None,
) -> DataFrame:
    """LinkedExpand: grow the pattern along DERIVED edges computed by a
    registered UDTF instead of a stored edge table
    (LinkedPatternConnection -> LinkedExpand,
    /root/reference/reasoner/lube-logical/.../PatternMatchPlanner.scala:269-277;
    UDTF contract /root/reference/reasoner/udf/.../model/BaseUdtf.java).

    The UDTF builds an array column from ``args``; explode stays
    JVM-side, one output row per element, rows with empty arrays drop
    (a UDTF that emits nothing). The Arrow-batched extraction pipeline
    (extract.extracted_edges) is the mapInPandas instance of the same
    shape for kernels that genuinely need Python.

    ``limit`` caps the produced rows PER SOURCE (PatternConnection.limit
    semantics): the array is sliced before the explode, so the cap is
    deterministic and never materializes the uncapped fanout."""
    from linkgraph.functions import UDTFS

    if udtf_name not in UDTFS:
        raise ValueError(f"unknown linked-edge UDTF {udtf_name!r}")
    arr = UDTFS[udtf_name](*args)
    if limit is not None:
        arr = F.slice(arr, 1, limit)
    return df.withColumn(out, F.explode(arr))


# --------------------------------------------------------------------------
# temporal / multi-version (KTMultiVersion analog,
# /root/reference/reasoner/lube-api/src/main/scala/.../KgType.scala:72;
# VertexVersionProperty.java:30)
# --------------------------------------------------------------------------


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
) -> DataFrame:
    """For each left row, attach the right row with the greatest
    ``right_ts`` <= ``left_ts`` within the same key (left outer: no match
    -> nulls) — the time-travel lookup a multi-version property store
    answers per read.

    One shuffle by key: both sides union into a single (key, ts)-sorted
    stream and the right payload carries forward via
    ``last(ignorenulls)`` over an unbounded-preceding window — no range
    join, no per-row subquery, so the plan is a sort + window at any
    scale. Right rows must be unique per (key, right_ts); pre-aggregate
    otherwise (equal-ts rows would be picked by stream order).

    The right payload is carried as ONE struct, so a matched right row is
    taken atomically — a NULL in one payload column of the most recent
    right row stays NULL rather than being stitched from an older row.
    """
    on = list(on)
    lcols = [c for c in left.columns if c not in on and c != left_ts]
    rcols = [c for c in right.columns if c not in on and c != right_ts]
    clash = set(lcols) & set(rcols)
    if clash:
        raise ValueError(f"as_of_join: rename colliding columns first: {sorted(clash)}")
    if not rcols:  # no right payload -> left outer as-of adds nothing
        return left
    from pyspark.sql import types as T

    rpay_type = T.StructType([right.schema[c] for c in rcols])
    l2 = left.select(
        *on,
        F.col(left_ts).alias("__ts__"),
        F.lit(1).alias("__tag__"),
        *[F.col(c) for c in lcols],
        F.lit(None).cast(rpay_type).alias("__rpay__"),
    )
    r2 = right.select(
        *on,
        F.col(right_ts).alias("__ts__"),
        F.lit(0).alias("__tag__"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        F.struct(*[F.col(c) for c in rcols]).alias("__rpay__"),
    )
    u = l2.unionByName(r2)
    # right rows sort before left rows at equal ts => "at-or-before" is inclusive
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("__ts__").asc(), F.col("__tag__").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        *on,
        "__ts__",
        "__tag__",
        *lcols,
        F.last(F.col("__rpay__"), ignorenulls=True).over(w).alias("__rpay__"),
    )
    return (
        carried.where(F.col("__tag__") == 1)
        .select(
            *on,
            F.col("__ts__").alias(left_ts),
            *lcols,
            *[F.col("__rpay__")[c].alias(c) for c in rcols],
        )
    )
