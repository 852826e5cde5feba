from pyspark.sql import functions as F

from linkgraph.concepts import concept_closure, concept_edge_expand


def test_concept_closure(spark):
    isa = spark.createDataFrame(
        [("poodle", "dog"), ("dog", "animal"), ("cat", "animal")],
        "child string, parent string",
    )
    got = {(r["concept"], r["ancestor"]) for r in concept_closure(isa).collect()}
    assert ("poodle", "animal") in got  # transitive
    assert ("poodle", "poodle") in got  # reflexive
    assert ("cat", "dog") not in got
    assert got >= {("dog", "animal"), ("cat", "animal"), ("poodle", "dog")}


def test_concept_edge_expand_and_filter(spark):
    isa = spark.createDataFrame(
        [("poodle", "dog"), ("dog", "animal")], "child string, parent string"
    )
    bt = spark.createDataFrame(
        [(1, "poodle"), (2, "dog"), (3, "fish")], "entity bigint, concept string"
    )
    got = {
        (r["entity"], r["concept"])
        for r in concept_edge_expand(bt, isa).collect()
    }
    # entity 1 generalizes poodle -> dog -> animal; 3's tag is off-taxonomy
    assert got == {
        (1, "poodle"), (1, "dog"), (1, "animal"),
        (2, "dog"), (2, "animal"),
    }
    only_dogs = {
        r["entity"]
        for r in concept_edge_expand(bt, isa, target_concepts=["dog"]).collect()
    }
    assert only_dogs == {1, 2}


def test_concept_closure_depth_guard(spark):
    import pytest

    isa = spark.createDataFrame(
        [(f"c{i}", f"c{i+1}") for i in range(6)], "child string, parent string"
    )
    with pytest.raises(RuntimeError):
        concept_closure(isa, max_depth=2)
    full = concept_closure(isa, max_depth=10)
    assert full.where("concept = 'c0' AND ancestor = 'c6'").count() == 1
