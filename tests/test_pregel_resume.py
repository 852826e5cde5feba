"""Checkpoint/resume: kill after superstep k, resume from the committed
checkpoint, converge to the identical result (FIXTURES.md §4)."""

import math
import os

import pytest
from pyspark.sql import functions as F

from linkgraph.algos.pagerank import pagerank, personalized_pagerank, weighted_pagerank
from linkgraph.pregel import CheckpointStore


def test_pagerank_resume_identical(tiny_edges, tmp_path):
    ckpt = str(tmp_path / "checkpoints")

    full = pagerank(tiny_edges, tol=1e-6, max_iter=100)
    expected = {r["vid"]: r["score"] for r in full.state.collect()}

    # "killed" run: stop after 3 supersteps, checkpoint every 1
    partial = pagerank(
        tiny_edges, tol=1e-6, max_iter=3, checkpoint_dir=ckpt,
        job_id="pr", checkpoint_every=1,
    )
    assert not partial.converged
    store = CheckpointStore(ckpt, "pr")
    assert store.latest() == 3
    step_dir = os.path.join(ckpt, "pr", "superstep=3")
    assert os.path.exists(os.path.join(step_dir, "_COMMITTED"))
    assert os.path.exists(os.path.join(step_dir, "metrics.json"))

    # fresh invocation resumes from superstep 3 and converges
    resumed = pagerank(
        tiny_edges, tol=1e-6, max_iter=100, checkpoint_dir=ckpt,
        job_id="pr", checkpoint_every=1,
    )
    assert resumed.converged
    assert resumed.iterations == full.iterations
    # resumed metrics history covers supersteps 1..n continuously
    steps = [m["superstep"] for m in resumed.metrics]
    assert steps == list(range(1, resumed.iterations + 1))
    got = {r["vid"]: r["score"] for r in resumed.state.collect()}
    for v in expected:
        assert math.isclose(got[v], expected[v], rel_tol=0, abs_tol=1e-12)


@pytest.mark.parametrize("algo", ["ppr", "wpagerank"])
def test_random_walk_resume_identical(tiny_edges, tmp_path, algo):
    """ppr and weighted_pagerank resume like pagerank. Both checkpoint
    at the end of the killed run, so 3 supersteps leave superstep=3."""
    ckpt = str(tmp_path / "checkpoints")
    we = tiny_edges.withColumn("weight", (F.col("src") + F.col("dst") + 1).cast("double"))

    def run(seeds=(0, 5), **kw):
        if algo == "ppr":
            return personalized_pagerank(tiny_edges, seeds, tol=1e-6, **kw)
        return weighted_pagerank(we, tol=1e-6, **kw)

    full = run(max_iter=100)
    partial = run(max_iter=3, checkpoint_dir=ckpt)
    assert not partial.converged
    (job_id,) = os.listdir(ckpt)
    assert CheckpointStore(ckpt, job_id).latest() == 3

    # the seed set is keyed sorted and deduplicated, so this resumes too
    resumed = run(seeds=(5, 0, 5), max_iter=100, checkpoint_dir=ckpt)
    assert resumed.converged
    assert resumed.iterations == full.iterations
    assert resumed.metrics[:3] == partial.metrics
    assert [m["superstep"] for m in resumed.metrics] == list(range(1, resumed.iterations + 1))
    expected = {r["vid"]: r["score"] for r in full.state.collect()}
    got = {r["vid"]: r["score"] for r in resumed.state.collect()}
    assert got.keys() == expected.keys()
    for v in expected:
        assert math.isclose(got[v], expected[v], rel_tol=0, abs_tol=1e-12)


def test_ppr_does_not_resume_another_seed_set(tiny_edges, tmp_path):
    """run_pregel's fingerprint covers only the edges; a ppr checkpoint
    is also keyed on the seed set, so a run with other seeds starts cold
    instead of iterating on the old run's state."""
    ckpt = str(tmp_path / "checkpoints")
    personalized_pagerank(tiny_edges, [0, 5], tol=1e-6, max_iter=3, checkpoint_dir=ckpt)
    other = personalized_pagerank(tiny_edges, [7], tol=1e-6, checkpoint_dir=ckpt)
    fresh = personalized_pagerank(tiny_edges, [7], tol=1e-6)
    assert other.metrics[0]["superstep"] == 1
    assert [m["delta"] for m in other.metrics] == [m["delta"] for m in fresh.metrics]
    assert dict(other.state.collect()) == dict(fresh.state.collect())
    assert len(os.listdir(ckpt)) == 2


def test_k_core_does_not_resume_another_k(spark, tmp_path):
    """run_pregel fingerprints only its edges argument, and an explicit
    job_id is not keyed on k: k_core folds k into that argument, so a
    k=2 run after a k=3 run under one job_id starts cold instead of
    peeling the 3-core further."""
    from linkgraph.algos.kcore import k_core

    ckpt = str(tmp_path / "checkpoints")
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    e = spark.createDataFrame(k4 + [(3, 4), (4, 5), (3, 5)], "src bigint, dst bigint")
    k_core(e, k=3, job_id="x", checkpoint_dir=ckpt, checkpoint_every=1)
    with pytest.warns(UserWarning, match=r"different input \(edges or kernel parameters\)"):
        res = k_core(e, k=2, job_id="x", checkpoint_dir=ckpt, checkpoint_every=1)
    assert {r["vid"] for r in res.state.collect()} == set(range(6))
    assert res.metrics[0]["superstep"] == 1


def test_checkpoint_metrics_have_partition_rows(tiny_edges, tmp_path):
    import json

    ckpt = str(tmp_path / "ck2")
    pagerank(
        tiny_edges, tol=0.0, max_iter=2, checkpoint_dir=ckpt,
        job_id="m", checkpoint_every=2,
    )
    with open(os.path.join(ckpt, "m", "superstep=2", "metrics.json")) as f:
        meta = json.load(f)
    assert meta["superstep"] == 2
    assert len(meta["history"]) == 2
    assert all({"wall_s", "delta", "superstep"} <= set(m) for m in meta["history"])
    assert sum(p["rows"] for p in meta["partitions"]) > 0
    # queryable metrics/lineage parquet rows exist alongside the state
    spark = tiny_edges.sparkSession
    mrows = spark.read.parquet(os.path.join(ckpt, "m", "superstep=2", "metrics_rows"))
    assert [r["superstep"] for r in mrows.orderBy("superstep").collect()] == [1, 2]
    prows = spark.read.parquet(os.path.join(ckpt, "m", "superstep=2", "partition_rows"))
    assert sum(r["rows"] for r in prows.collect()) > 0


def _run_cc(edges, **kw):
    from linkgraph.algos import connected_components

    res = connected_components(edges, max_iter=50, **kw)
    return {r["vid"]: r["component"] for r in res.state.collect()}


def _run_cc2(edges, **kw):
    from linkgraph.algos import connected_components

    res = connected_components(edges, algorithm="two-phase", **kw)
    return {r["vid"]: r["component"] for r in res.state.collect()}


def _run_hits(edges, **kw):
    from linkgraph.algos.hits import hits

    res = hits(edges, max_iter=5, **kw)
    return {r["vid"]: (r["hub"], r["auth"]) for r in res.state.collect()}


def _run_kcore(edges, **kw):
    from linkgraph.algos.kcore import k_core

    return {r["vid"] for r in k_core(edges, k=2, **kw).state.collect()}


@pytest.mark.parametrize("run", [_run_cc, _run_hits, _run_kcore, _run_cc2],
                         ids=["cc", "hits", "kcore", "cc-two-phase"])
def test_resume_rejects_checkpoints_from_different_input(spark, tiny_edges, tmp_path, run):
    """A checkpoint under a job_id is only resumable for the SAME edge
    set (order-insensitive input fingerprint): re-running with different
    edges warns, clears the stale checkpoints, and produces the same
    result as a fresh run — never a silent resume of another graph's
    state (which could even out-step and shadow the new run)."""
    import warnings

    from pyspark.sql import functions as F

    ckpt = str(tmp_path / "ck")
    run(tiny_edges, checkpoint_dir=ckpt, job_id="j", checkpoint_every=1)
    (job,) = os.listdir(ckpt)
    assert CheckpointStore(ckpt, job).latest() is not None

    other = tiny_edges.select(
        (F.col("src") + 100).alias("src"), (F.col("dst") + 100).alias("dst")
    )
    expected = run(other)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        b = run(other, checkpoint_dir=ckpt, job_id="j", checkpoint_every=1)
    assert any("different input" in str(x.message) for x in w)
    assert b == expected
    # same-input resume still works (fingerprint matches, no warning)
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        c = run(other, checkpoint_dir=ckpt, job_id="j", checkpoint_every=1)
    assert not any("different input" in str(x.message) for x in w2)
    assert c == expected


def test_resume_rejects_unfingerprinted_checkpoints(spark, tiny_edges, tmp_path):
    """Checkpoints with NO stored fingerprint (written before
    fingerprinting existed, or left by a crash between clear() and
    write_fingerprint) cannot be validated after the fact — they must be
    cleared and the run must start cold, not silently adopted and
    stamped with the new edge set's fingerprint."""
    import warnings

    from pyspark.sql import functions as F

    from linkgraph.algos import connected_components

    ckpt = str(tmp_path / "ck")
    connected_components(tiny_edges, max_iter=50, checkpoint_dir=ckpt,
                         job_id="cc", checkpoint_every=1)
    store = CheckpointStore(ckpt, "cc")
    assert store.latest() is not None
    # simulate the pre-fingerprint / crashed state: checkpoints exist,
    # fingerprint file does not
    os.remove(os.path.join(ckpt, "cc", CheckpointStore._FP_FILE))
    other = tiny_edges.select(
        (F.col("src") + 100).alias("src"), (F.col("dst") + 100).alias("dst")
    )
    expected = {
        r["vid"]: r["component"]
        for r in connected_components(other, max_iter=50).state.collect()
    }
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        b = connected_components(other, max_iter=50, checkpoint_dir=ckpt,
                                 job_id="cc", checkpoint_every=1)
    assert any("different input" in str(x.message) for x in w)
    assert {r["vid"]: r["component"] for r in b.state.collect()} == expected


def test_fingerprint_is_multiplicity_aware(spark):
    """bit_xor alone cancels duplicated rows (multisets {a,a,b} and
    {c,c,b} share count and xor); the decimal row-hash SUM in the
    fingerprint must split such collisions."""
    from pyspark.sql import functions as F

    def fp(df):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(*df.columns)).alias("x"),
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        return f"{row['n']}:{row['x']}:{row['s']}"

    a = spark.createDataFrame([(1, 2), (1, 2), (3, 4)], "src long, dst long")
    b = spark.createDataFrame([(5, 6), (5, 6), (3, 4)], "src long, dst long")
    # same count; xor of the duplicated pair cancels in both
    assert fp(a) != fp(b)
    # order-insensitive: a permutation fingerprints identically
    a_perm = spark.createDataFrame([(3, 4), (1, 2), (1, 2)], "src long, dst long")
    assert fp(a) == fp(a_perm)
