"""Bookkeeping launches no Spark jobs of its own: a checkpoint save is
its state write, and a tol-mode PageRank/PPR superstep observes its L∞
delta on its own materialization. Jobs are counted per job group
through the status tracker."""

import uuid

import pytest

from linkgraph import pregel
from linkgraph.algos import pagerank
from linkgraph.algos.ppr import personalized_pagerank


def _group_jobs(spark, group: str) -> int:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _clear_group(spark) -> None:
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


@pytest.fixture
def traced_supersteps(spark, monkeypatch):
    """Wrap run_pregel: each superstep runs under its own job group (its
    materialization and delta fall in it too), and each superstep's
    input state is kept. Yields the list of (group, state) pairs."""
    seen: list[tuple[str, object]] = []
    run_pregel = pregel.run_pregel

    def traced(edges, init_state, superstep_fn, delta_fn, **kw):
        def step(e, s, i):
            group = f"superstep-{uuid.uuid4().hex}"
            spark.sparkContext.setJobGroup(group, group)
            seen.append((group, s))
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
    pagerank(tiny_edges, tol=None, max_iter=3)
    fixed = [_group_jobs(spark, g) for g, _ in traced_supersteps[1:]]
    traced_supersteps.clear()
    res = pagerank(tiny_edges, tol=1e-6, max_iter=3)
    tol = [_group_jobs(spark, g) for g, _ in traced_supersteps[1:]]
    assert not res.converged
    assert tol == fixed


@pytest.mark.parametrize("algo", ["pagerank", "ppr"])
def test_observed_delta_matches_linf_delta(spark, tiny_edges, traced_supersteps, algo):
    def run(tol, max_iter):
        if algo == "pagerank":
            return pagerank(tiny_edges, tol=tol, max_iter=max_iter)
        return personalized_pagerank(tiny_edges, [1, 2], tol=tol, max_iter=max_iter)

    res = run(1e-6, 100)
    assert res.converged
    states = [s for _, s in traced_supersteps] + [res.state]
    deltas = [m["delta"] for m in res.metrics]
    assert deltas == [
        pregel.linf_delta(old, new, "vid", "score")
        for old, new in zip(states, states[1:])
    ]
    # it stops at the first superstep whose delta reaches tol ...
    assert res.iterations == 1 + next(k for k, d in enumerate(deltas) if d <= 1e-6)
    # ... with the scores of exactly that many fixed iterations
    fixed = run(None, res.iterations)
    assert dict(res.state.collect()) == dict(fixed.state.collect())
