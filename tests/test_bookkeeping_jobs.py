"""Bookkeeping launches no Spark jobs of its own: a checkpoint save is
its state write, and a tol-mode random-walk superstep (PageRank, PPR,
weighted PageRank) or HITS superstep observes its L∞ delta on its own
materialization. Jobs are counted per job group through the status
tracker."""

import uuid

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph import pregel
from linkgraph.algos.hits import hits
from linkgraph.algos.pagerank import pagerank, personalized_pagerank, weighted_pagerank

OBSERVED = ["pagerank", "ppr", "wpagerank", "hits"]
DELTA_COLS = {"hits": ("hub", "auth")}


def _run(algo, edges, tol, max_iter):
    if algo == "hits":
        return hits(edges, tol=tol, max_iter=max_iter)
    if algo == "pagerank":
        return pagerank(edges, tol=tol, max_iter=max_iter)
    if algo == "ppr":
        return personalized_pagerank(edges, [1, 2], tol=tol, max_iter=max_iter)
    we = edges.withColumn("weight", (F.col("src") + F.col("dst") + 1).cast("double"))
    return weighted_pagerank(we, tol=tol, max_iter=max_iter)


def linf_delta(old: DataFrame, new: DataFrame, key: str, value: str) -> float:
    """max |new.value - old.value| over the key join: one join and one
    collect. The reference the observed deltas are checked against."""
    j = new.alias("n").join(old.alias("o"), key)
    row = j.select(
        F.max(F.abs(F.col(f"n.{value}") - F.col(f"o.{value}"))).alias("d")
    ).collect()[0]
    return float(row["d"]) if row["d"] is not None else 0.0


def _group_jobs(spark, group: str) -> int:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _clear_group(spark) -> None:
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


@pytest.fixture
def traced_supersteps(spark, monkeypatch):
    """Wrap run_pregel: each superstep runs under its own job group (its
    materialization and delta fall in it too), and a copy of each
    superstep's input state is kept (run_pregel releases superseded
    states; the copy is collected outside every superstep's group).
    Yields the list of (group, state) pairs."""
    seen: list[tuple[str, object]] = []
    run_pregel = pregel.run_pregel

    def traced(edges, init_state, superstep_fn, delta_fn, **kw):
        def step(e, s, i):
            _clear_group(spark)
            copy = spark.createDataFrame(s.collect(), s.schema)
            group = f"superstep-{uuid.uuid4().hex}"
            spark.sparkContext.setJobGroup(group, group)
            seen.append((group, copy))
            return superstep_fn(e, s, i)

        try:
            return run_pregel(edges, init_state, step, delta_fn, **kw)
        finally:
            _clear_group(spark)

    monkeypatch.setattr(pregel, "run_pregel", traced)
    return seen


def test_checkpoint_save_is_one_spark_job(spark, tmp_path):
    state = spark.range(200).selectExpr(
        "id AS vid", "1.0 / 200 AS score"
    ).repartition(4, "vid").localCheckpoint(eager=True)
    metrics = [
        {"job_id": "j", "superstep": k, "wall_s": 0.1, "delta": 0.5, "parent_superstep": k - 1}
        for k in (1, 2)
    ]
    group = f"save-{uuid.uuid4().hex}"
    spark.sparkContext.setJobGroup(group, group)
    try:
        pregel.CheckpointStore(str(tmp_path), "j").save(2, state, metrics)
    finally:
        _clear_group(spark)
    assert _group_jobs(spark, group) == 1


def test_tol_superstep_jobs_match_fixed_iteration(spark, tiny_edges, traced_supersteps):
    for algo in OBSERVED:
        traced_supersteps.clear()
        _run(algo, tiny_edges, None, 3)
        fixed = [_group_jobs(spark, g) for g, _ in traced_supersteps[1:]]
        traced_supersteps.clear()
        res = _run(algo, tiny_edges, 1e-6, 3)
        tol = [_group_jobs(spark, g) for g, _ in traced_supersteps[1:]]
        assert not res.converged, algo
        assert len(fixed) == 2 and tol == fixed, algo


@pytest.mark.parametrize("algo", OBSERVED)
def test_observed_delta_matches_linf_delta(spark, tiny_edges, traced_supersteps, algo):
    res = _run(algo, tiny_edges, 1e-6, 100)
    assert res.converged
    states = [s for _, s in traced_supersteps] + [res.state]
    deltas = [m["delta"] for m in res.metrics]
    # hits' delta is the larger of its two columns' deltas
    assert deltas == [
        max(linf_delta(old, new, "vid", v) for v in DELTA_COLS.get(algo, ("score",)))
        for old, new in zip(states, states[1:])
    ]
    # it stops at the first superstep whose delta reaches tol ...
    assert res.iterations == 1 + next(k for k, d in enumerate(deltas) if d <= 1e-6)
    # ... with the scores of exactly that many fixed iterations
    fixed = _run(algo, tiny_edges, None, res.iterations)
    assert sorted(res.state.collect()) == sorted(fixed.state.collect())


def test_reasoner_fixpoints_observe_new_fact_counts(spark, traced_supersteps, monkeypatch):
    """concept_closure, thinker.infer and infer_thinker run their rounds
    as run_pregel supersteps, and each superstep's observed delta is the
    number of facts it added to the state."""
    from __spark_entry__ import _THINKER_SCRIPT
    from linkgraph.concepts import concept_closure
    from linkgraph.thinker import infer, parse_rule
    from linkgraph.thinker_dsl import run_thinker

    results = []
    traced = pregel.run_pregel

    def keep(*args, **kw):
        results.append(traced(*args, **kw))
        return results[-1]

    monkeypatch.setattr(pregel, "run_pregel", keep)

    def deltas(call):
        traced_supersteps.clear()
        results.clear()
        closure = call()
        [res] = results
        assert res.converged and len(traced_supersteps) == res.iterations
        sizes = [s.count() for _, s in traced_supersteps] + [closure.count()]
        observed = [m["delta"] for m in res.metrics]
        assert observed == [b - a for a, b in zip(sizes, sizes[1:])]
        return observed

    isa = spark.createDataFrame(
        [(f"c{i}", f"c{i+1}") for i in range(6)], "child string, parent string"
    )
    assert deltas(lambda: concept_closure(isa)) == [5, 4, 3, 2, 1, 0]

    nodes = "abcdef"
    links = spark.createDataFrame(
        [(x, "link", y) for x, y in zip(nodes, nodes[1:])],
        "s string, p string, o string",
    )
    reach = [
        parse_rule("(?x, reach, ?y) <- (?x, link, ?y)"),
        parse_rule("(?x, reach, ?z) <- (?x, link, ?y), (?y, reach, ?z)"),
    ]
    assert deltas(lambda: infer(links, reach)) == [5, 4, 3, 2, 1, 0]

    # t2's script: Risk/high and Risk/watch in round 1, Flag/review
    # (which reads Risk/high) in round 2, nothing in round 3
    customers = [(1, "BUILDING", 6000), (2, "BUILDING", 9500), (3, "MACHINERY", 9500), (4, "BUILDING", 100)]
    facts = spark.createDataFrame(
        [
            row
            for c, seg, bal in customers
            for row in ((str(c), "type", "Customer"), (str(c), "belongTo", f"Seg/{seg}"), (str(c), "acctbal", f"{bal:.1f}"))
        ],
        "s string, p string, o string",
    )
    assert deltas(lambda: run_thinker(_THINKER_SCRIPT, facts)) == [4, 2, 0]
