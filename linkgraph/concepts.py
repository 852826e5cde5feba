"""Concept-taxonomy operators (the reference's semantic layer).

Parity:
  ConceptEdgeExpand UDTF — expand a vertex's belongTo edge through the
    concept (isA) taxonomy so a pattern written against a general
    concept matches entities tagged with any of its specializations
    (/root/reference/reasoner/udf/src/main/java/com/antgroup/openspg/reasoner/udf/builtin/udtf/ConceptEdgeExpand.java:42-108).

Spark shapes: taxonomies are tiny relative to entity tables, so the
closure computes in a handful of small-table self-joins, is broadcast
into the entity-side join, and the expansion never shuffles entities by
anything other than the concept key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.pregel import saturate


def concept_closure(isa: DataFrame, max_depth: int = 20) -> DataFrame:
    """Reflexive-transitive closure of the isA taxonomy.

    isa: (child, parent) concept edges. Returns (concept, ancestor)
    including (c, c). Taxonomies are shallow; each round joins the
    previous delta against the parent pointers (semi-naive), so rounds =
    taxonomy depth and every frame is concept-sized (broadcastable).
    """
    refl = (
        isa.select(F.col("child").alias("concept"))
        .union(isa.select("parent"))
        .distinct()
        .select("concept", F.col("concept").alias("ancestor"))
    )
    up = isa.select(F.col("child").alias("ancestor"), "parent")

    def derive(_full: DataFrame, delta: DataFrame, _i: int) -> DataFrame:
        return delta.join(up, "ancestor").select(
            "concept", F.col("parent").alias("ancestor")
        )

    # raises past max_depth: a silently-truncated closure would make
    # concept_edge_expand miss matches with no signal
    return saturate(
        refl.unionByName(
            isa.select(F.col("child").alias("concept"), F.col("parent").alias("ancestor"))
        ),
        derive,
        max_iter=max_depth,
        job_id="concept_closure",
    )


def concept_edge_expand(
    belong_to: DataFrame,
    isa: DataFrame,
    target_concepts: list[str] | None = None,
) -> DataFrame:
    """Every (entity, concept) pair reachable by generalizing the
    entity's direct belongTo tags up the taxonomy — the ConceptEdgeExpand
    UDTF as a broadcast join instead of a per-row tree walk.

    belong_to: (entity, concept); isa: (child, parent).
    ``target_concepts`` optionally restricts the output to a concept set
    (the UDTF's conceptIds argument) — applied to the closure BEFORE the
    entity join, so the broadcast side shrinks first.
    """
    closure = concept_closure(isa)
    if target_concepts is not None:
        closure = closure.where(F.col("ancestor").isin(list(target_concepts)))
    return (
        belong_to.join(F.broadcast(closure), "concept")
        .select("entity", F.col("ancestor").alias("concept"))
        .distinct()
    )

