"""Golden-assert algorithm tests vs independent pure-Python oracles
(PageRank allclose 1e-6; CC/LPA exact after canonicalization; triangle
counts exact — FIXTURES.md §3)."""

import math

import pytest

from linkgraph.algos import (
    connected_components,
    label_propagation,
    pagerank,
    triangle_count,
)
from linkgraph.algos.triangles import per_vertex_triangles
from tests.oracles import (
    components_oracle,
    lpa_oracle,
    pagerank_oracle,
    triangles_oracle,
)


@pytest.fixture(scope="module")
def graph(tiny_plan):
    edges = tiny_plan.edge_vids()
    vertices = {v for e in edges for v in e}
    return edges, vertices


def test_pagerank_matches_oracle(tiny_edges, graph):
    edges, vertices = graph
    expected, exp_iters = pagerank_oracle(edges, vertices, tol=1e-6)
    res = pagerank(tiny_edges, tol=1e-6, max_iter=100)
    got = {r["vid"]: r["score"] for r in res.state.collect()}
    assert res.converged
    assert res.iterations == exp_iters
    assert set(got) == vertices
    for v in vertices:
        assert math.isclose(got[v], expected[v], abs_tol=1e-6)
    # scores sum to ~1 (probability distribution invariant)
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-6)
    # the planned hot vertex has the top score
    top = max(got, key=got.get)
    assert top == 1


def test_connected_components_hash_min(tiny_edges, graph):
    edges, vertices = graph
    expected = components_oracle(edges, vertices)
    res = connected_components(tiny_edges)
    got = {r["vid"]: r["component"] for r in res.state.collect()}
    assert res.converged
    assert got == expected
    # the fixture really has ≥3 components of different sizes
    assert len(set(expected.values())) >= 3


def test_connected_components_star_contraction(tiny_edges, graph):
    edges, vertices = graph
    expected = components_oracle(edges, vertices)
    res = connected_components(tiny_edges, algorithm="two-phase")
    got = {r["vid"]: r["component"] for r in res.state.collect()}
    assert got == expected


def test_star_contraction_resume_identical(tiny_edges, tmp_path):
    """A two-phase run stopped after one round resumes from its committed
    checkpoint and ends with the labels of an uninterrupted run. A
    hash-min run under the same job_id keeps its checkpoints apart."""
    from linkgraph.pregel import CheckpointStore

    ckpt = str(tmp_path / "ck")
    full = connected_components(tiny_edges, algorithm="two-phase")
    connected_components(tiny_edges, checkpoint_dir=ckpt, job_id="cc")
    part = connected_components(
        tiny_edges, algorithm="two-phase", max_iter=1, checkpoint_dir=ckpt,
        job_id="cc", checkpoint_every=1,
    )
    assert not part.converged
    assert CheckpointStore(ckpt, "cc-two-phase").latest() == 1
    resumed = connected_components(
        tiny_edges, algorithm="two-phase", checkpoint_dir=ckpt,
        job_id="cc", checkpoint_every=1,
    )
    assert resumed.converged
    # continued, not restarted: round 1 comes from the checkpoint's history
    assert resumed.iterations == full.iterations > 1
    assert resumed.metrics[:1] == part.metrics
    assert [m["superstep"] for m in resumed.metrics] == list(range(1, resumed.iterations + 1))
    assert dict(resumed.state.collect()) == dict(full.state.collect())


def test_label_propagation_fixed_rounds(tiny_edges, graph):
    edges, vertices = graph
    rounds = 4
    expected = lpa_oracle(edges, vertices, rounds)
    res = label_propagation(tiny_edges, max_iter=rounds)
    got = {r["vid"]: r["label"] for r in res.state.collect()}
    assert got == expected


def test_triangles(tiny_edges, graph, tiny_plan):
    edges, _vertices = graph
    exp_total, exp_per_vertex = triangles_oracle(edges)
    assert triangle_count(tiny_edges) == exp_total
    assert exp_total >= 20  # embedded K6 alone contributes 20
    got = {r["vid"]: r["triangles"] for r in per_vertex_triangles(tiny_edges).collect()}
    # K6 members each close C(5,2)=10 triangles within the clique
    for v in tiny_plan.k6:
        assert got[v] >= 10
    assert got == exp_per_vertex


def test_personalized_pagerank(tiny_edges, graph):
    from collections import defaultdict

    from linkgraph.algos import personalized_pagerank

    edges, vertices = graph
    seeds = [0, 5]

    # pure-python oracle with the same semantics
    out = defaultdict(list)
    for s, d in edges:
        out[s].append(d)
    score = {v: (1 / len(seeds) if v in seeds else 0.0) for v in vertices}
    it = 0
    while it < 100:
        dangling = sum(score[v] for v in vertices if not out.get(v))
        tele = (1 - 0.85) + 0.85 * dangling
        nxt = {v: (tele / len(seeds) if v in seeds else 0.0) for v in vertices}
        for u, ts in out.items():
            share = 0.85 * score[u] / len(ts)
            for t in ts:
                nxt[t] += share
        delta = max(abs(nxt[v] - score[v]) for v in vertices)
        score = nxt
        it += 1
        if delta <= 1e-6:
            break

    res = personalized_pagerank(tiny_edges, seeds, tol=1e-6, max_iter=100)
    got = {r["vid"]: r["score"] for r in res.state.collect()}
    assert res.converged
    import math

    for v in vertices:
        assert math.isclose(got[v], score[v], abs_tol=1e-6)
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-5)
    # mass concentrates near the seeds
    assert got[0] > 1.0 / len(vertices)


def test_hits_matches_numpy_oracle(spark):
    import numpy as np

    from linkgraph.algos.hits import hits

    edges = [(0, 1), (0, 2), (1, 2), (3, 2), (2, 4)]
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    res = hits(e, max_iter=4)
    got = {r["vid"]: (r["hub"], r["auth"]) for r in res.state.collect()}

    n = 5
    A = np.zeros((n, n))
    for s, d in edges:
        A[s, d] = 1.0
    h = np.ones(n)
    a = np.ones(n)
    for _ in range(4):
        a = A.T @ h
        a = a / (np.sqrt((a * a).sum()) or 1.0)
        h = A @ a
        h = h / (np.sqrt((h * h).sum()) or 1.0)
    for v in range(n):
        assert abs(got[v][0] - h[v]) < 1e-9 and abs(got[v][1] - a[v]) < 1e-9
    # vertex 2 is the authority (3 in-links); 0 the hub (2 out-links to authorities)
    assert max(got, key=lambda v: got[v][1]) == 2
    assert max(got, key=lambda v: got[v][0]) == 0


def test_k_core_peeling(spark):
    from linkgraph.algos.kcore import k_core

    # K4 on {0,1,2,3} plus a tail 3-4-5: the 3-core is exactly the K4
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    e = spark.createDataFrame(k4 + [(3, 4), (4, 5)], "src bigint, dst bigint")
    res = k_core(e, k=3)
    assert res.converged
    assert {r["vid"] for r in res.state.collect()} == {0, 1, 2, 3}
    # the delta is the number of removed directed edges per round:
    # round 1 drops 3-4, 4-5 both ways; round 2 removes nothing
    assert [m["delta"] for m in res.metrics] == [4.0, 0.0]
    assert {m["job_id"] for m in res.metrics} == {"kcore3"}
    # peeling cascades: removing 5 drops 4's degree below 1? (k=2 case)
    res2 = k_core(e, k=2, job_id="core")
    assert {r["vid"] for r in res2.state.collect()} == {0, 1, 2, 3}
    assert {m["job_id"] for m in res2.metrics} == {"core"}
    # k=1: everything with at least one edge survives
    res1 = k_core(e, k=1)
    assert {r["vid"] for r in res1.state.collect()} == {0, 1, 2, 3, 4, 5}
    # a self-loop adds nothing to its vertex's degree
    for loops, core in (([(7, 7)], set()), ([(1, 1), (2, 3)], {2, 3})):
        sl = spark.createDataFrame(loops, "src bigint, dst bigint")
        assert {r["vid"] for r in k_core(sl, k=1).state.collect()} == core


def test_random_walks_deterministic_and_dead_ends(spark):
    from linkgraph.algos.walks import random_walks

    def sequences(walks):
        steps = sorted((r["walk_id"], r["step"], r["vid"]) for r in walks.collect())
        seqs = {}
        for wid, _step, vid in steps:
            seqs.setdefault(wid, []).append(vid)
        return seqs

    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], "src bigint, dst bigint"
    )  # 4 is a dead end
    w1 = {(r["walk_id"], r["step"], r["vid"]) for r in random_walks(e, 3).collect()}
    w2 = {(r["walk_id"], r["step"], r["vid"]) for r in random_walks(e, 3).collect()}
    assert w1 == w2  # seeded determinism across runs
    seqs = sequences(random_walks(e, 3))
    # every walk starts at its id and follows real edges until a dead end
    edges = {(1, 2), (1, 3), (2, 4), (3, 4)}
    for wid, seq in seqs.items():
        assert seq[0] == wid
        for a, b in zip(seq, seq[1:]):
            assert (a, b) in edges
        assert seq[-1] == 4  # all paths sink at the dead end
    # a different seed can choose differently somewhere
    alt = sequences(random_walks(e, 3, seed=3))
    assert set(alt) == set(seqs)
    assert alt != seqs  # the seed actually steers choices on this fixture


def test_weighted_pagerank(spark):
    import numpy as np

    from linkgraph.algos.pagerank import weighted_pagerank

    # 0 links to 1 with weight 9 and to 2 with weight 1; 1,2 -> 0
    e = spark.createDataFrame(
        [(0, 1, 9.0), (0, 2, 1.0), (1, 0, 1.0), (2, 0, 1.0)],
        "src bigint, dst bigint, weight double",
    )
    res = weighted_pagerank(e, max_iter=200, tol=1e-9)
    got = {r["vid"]: r["score"] for r in res.state.collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got[1] > got[2]  # weight steers mass toward 1

    # numpy oracle: weighted power iteration, same semantics
    n, d = 3, 0.85
    T = np.zeros((n, n))
    T[0, 1], T[0, 2], T[1, 0], T[2, 0] = 0.9, 0.1, 1.0, 1.0
    s = np.full(n, 1.0 / n)
    for _ in range(200):
        s = (1 - d) / n + d * (T.T @ s)
    for v in range(n):
        assert abs(got[v] - s[v]) < 1e-6


def test_weighted_pagerank_edge_cases(spark):
    from linkgraph.algos.pagerank import weighted_pagerank

    # empty edges -> clean empty result, vid typed like the input's
    # vertex column (pagerank takes the same empty-input path)
    for kind in ("bigint", "string"):
        empty = spark.createDataFrame([], f"src {kind}, dst {kind}, weight double")
        for res in (
            weighted_pagerank(empty, max_iter=2),
            pagerank(empty.select("src", "dst"), max_iter=2),
        ):
            assert res.state.count() == 0 and res.iterations == 0
            assert res.state.schema.simpleString() == f"struct<vid:{kind},score:double>"
    # zero-weight source == dangling: no divide-by-zero, mass conserved
    e = spark.createDataFrame(
        [(0, 1, 0.0), (1, 0, 1.0)], "src bigint, dst bigint, weight double"
    )
    res2 = weighted_pagerank(e, max_iter=4)
    got = {r["vid"]: r["score"] for r in res2.state.collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # host-graph column names plug in directly
    hg = spark.createDataFrame(
        [("a.com", "b.com", 3)], "src_host string, dst_host string, weight bigint"
    )
    res3 = weighted_pagerank(hg, src_col="src_host", dst_col="dst_host", max_iter=2)
    assert res3.state.count() == 2
    # fixed-iteration mode is not 'converged'
    assert res2.converged is False


def test_random_walks_release_their_caches(spark, tiny_edges, monkeypatch):
    """Every frame pagerank, ppr, weighted_pagerank, hits (both plans),
    k_core, two-phase cc, random_walks, minhash_lsh_pairs and the
    reasoner's fixpoints (concept_closure, thinker.infer,
    infer_thinker) cache is released on return and on error. Superstep
    states are counted apart: each is a localCheckpoint, whose RDD Spark
    persists and marks checkpointed. run_pregel releases every
    superseded state, and the kernels release their own intermediate
    checkpoints, so a call keeps at most one (the returned state;
    random_walks' walk rows; minhash_lsh_pairs' materialized pairs)."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    from linkgraph import pregel
    from linkgraph.algos import personalized_pagerank
    from linkgraph.algos.hits import hits
    from linkgraph.algos.kcore import k_core
    from linkgraph.algos.pagerank import weighted_pagerank
    from linkgraph.algos.walks import random_walks
    from linkgraph.concepts import concept_closure
    from linkgraph.pipeline.dedup import minhash_lsh_pairs
    from linkgraph.thinker import infer, parse_rule
    from linkgraph.thinker_dsl import infer_thinker, parse_thinker

    def exchange_plan(call):
        def run():
            with monkeypatch.context() as m:
                m.setattr(pregel, "BROADCAST_STATE_MAX_VERTICES", 0)
                call()

        return run

    def persisted():
        rdds = [r.rdd() for r in spark.sparkContext._jsc.getPersistentRDDs().values()]
        checkpointed = sum(1 for r in rdds if r.isCheckpointed())
        return len(rdds) - checkpointed, checkpointed

    we = tiny_edges.withColumn("weight", (F.col("src") % 3).cast("double"))
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = spark.createDataFrame(
        [(i, base + " " + "xyz"[i % 3]) for i in range(6)]
        + [(10 + i, f"unrelated document number {i} about topic {i * i}") for i in range(4)],
        "doc_id bigint, text string",
    )
    isa = spark.createDataFrame(
        [(f"c{i}", f"c{i + 1}") for i in range(4)], "child string, parent string"
    )
    links = spark.createDataFrame(
        [("a", "link", "b"), ("b", "link", "c"), ("c", "link", "a")],
        "s string, p string, o string",
    )
    reach = [
        parse_rule("(?x, reach, ?y) <- (?x, link, ?y)"),
        parse_rule("(?x, reach, ?z) <- (?x, link, ?y), (?y, reach, ?z)"),
    ]
    tagged = spark.createDataFrame(
        [("e1", "belongTo", "T/a"), ("e2", "belongTo", "T/b")],
        "s string, p string, o string",
    )
    chain = parse_thinker(
        """
Define (T/`c`) {
  R1: T/`a`
}
Define (T/`d`) {
  R1: T/`c`
}
"""
    )
    for call in (
        lambda: pagerank(tiny_edges, max_iter=6),
        lambda: personalized_pagerank(tiny_edges, [0, 5], max_iter=6),
        lambda: weighted_pagerank(we, max_iter=6),
        lambda: minhash_lsh_pairs(docs).collect(),
        lambda: hits(tiny_edges, max_iter=6),
        lambda: hits(tiny_edges, max_iter=6, tol=1e-30),
        exchange_plan(lambda: hits(tiny_edges, max_iter=3)),
        lambda: k_core(tiny_edges, k=2),
        lambda: connected_components(tiny_edges, algorithm="two-phase"),
        lambda: random_walks(tiny_edges, 3),
        lambda: concept_closure(isa),
        lambda: infer(links, reach),
        lambda: infer_thinker(tagged, chain),
    ):
        cached, checkpointed = persisted()
        call()
        now_cached, now_checkpointed = persisted()
        assert now_cached == cached
        assert now_checkpointed - checkpointed <= 1
    cached, _ = persisted()
    with pytest.raises(ValueError, match="not present"):
        personalized_pagerank(tiny_edges, [10**9])
    assert persisted()[0] == cached
    # an init_state without hub/auth fails after hits cached its inputs
    with pytest.raises(AnalysisException):
        hits(tiny_edges, init_state=tiny_edges)
    assert persisted()[0] == cached


def test_kcore_and_hits_resume(spark, tmp_path):
    """Interrupted runs resume from the last committed checkpoint and end
    identical to uninterrupted ones (peeling and power iteration are
    both deterministic)."""
    from linkgraph.algos.hits import hits
    from linkgraph.algos.kcore import k_core

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    e = spark.createDataFrame(k4 + [(3, 4), (4, 5), (5, 6)], "src bigint, dst bigint")

    ck = str(tmp_path / "ck")
    # "interrupted": stop after 1 round, checkpointing every round
    part = k_core(e, k=2, max_iter=1, checkpoint_dir=ck, checkpoint_every=1)
    assert not part.converged
    resumed = k_core(e, k=2, max_iter=30, checkpoint_dir=ck, checkpoint_every=1)
    plain = k_core(e, k=2, max_iter=30)
    assert {r["vid"] for r in resumed.state.collect()} == {
        r["vid"] for r in plain.state.collect()
    }
    assert resumed.iterations >= part.iterations  # continued, not restarted

    hck = str(tmp_path / "hck")
    h_part = hits(e, max_iter=2, checkpoint_dir=hck, checkpoint_every=1)
    h_res = hits(e, max_iter=4, checkpoint_dir=hck, checkpoint_every=1)
    h_plain = hits(e, max_iter=4)
    a = {r["vid"]: (r["hub"], r["auth"]) for r in h_res.state.collect()}
    b = {r["vid"]: (r["hub"], r["auth"]) for r in h_plain.state.collect()}
    for v in b:
        assert abs(a[v][0] - b[v][0]) < 1e-12 and abs(a[v][1] - b[v][1]) < 1e-12


def test_exchange_plan_matches_broadcast_plan(tiny_edges, spark, monkeypatch):
    """Above pregel.BROADCAST_STATE_MAX_VERTICES (the >20M-vertex
    regime; patched to 0 here) pagerank, ppr, weighted_pagerank, hits,
    cc and lpa run their exchange plans, which must produce the state of
    their broadcast plans: equal labels, and scores equal to 1e-12 (the
    message sums add in another order, so a score can differ in its
    last bit)."""
    from linkgraph import pregel
    from linkgraph.algos import personalized_pagerank
    from linkgraph.algos.hits import hits
    from linkgraph.algos.pagerank import weighted_pagerank

    we = spark.createDataFrame(
        [(0, 1, 2.0), (0, 2, 1.0), (1, 2, 5.0), (2, 0, 1.0), (3, 0, 4.0)],
        "src bigint, dst bigint, weight double",
    )
    runs = {
        "pagerank": lambda: pagerank(tiny_edges, tol=0.0, max_iter=5),
        "ppr": lambda: personalized_pagerank(tiny_edges, [0, 5], tol=0.0, max_iter=5),
        "wpagerank": lambda: weighted_pagerank(we, max_iter=4),
        "hits": lambda: hits(tiny_edges, max_iter=3),
        "cc": lambda: connected_components(tiny_edges),
        "lpa": lambda: label_propagation(tiny_edges, max_iter=4),
    }

    def state(run):
        return sorted(tuple(r) for r in run().state.collect())

    broadcast = {name: state(run) for name, run in runs.items()}
    monkeypatch.setattr(pregel, "BROADCAST_STATE_MAX_VERTICES", 0)
    for name, run in runs.items():
        exchange = state(run)
        assert len(exchange) == len(broadcast[name]), name
        for x, b in zip(exchange, broadcast[name]):
            assert x[0] == b[0], name
            for xv, bv in zip(x[1:], b[1:]):
                assert math.isclose(xv, bv, rel_tol=1e-12, abs_tol=1e-12), (name, x, b)


def test_random_walks_negative_vids(spark):
    """Raw 64-bit hash vids can be negative; pmod keeps the neighbor
    choice in range so walks from negative vertices don't silently die."""
    from linkgraph.algos.walks import random_walks

    e = spark.createDataFrame(
        [(-5, -7), (-5, 3), (-7, 3), (3, -5)], "src bigint, dst bigint"
    )
    walks = random_walks(e, walk_length=3, seed=11)
    rows = walks.collect()
    # every start vertex (all three have out-edges) takes all 3 steps
    by_walk = {}
    for r in rows:
        by_walk.setdefault(r["walk_id"], []).append(r["step"])
    assert set(by_walk) == {-5, -7, 3}
    for steps in by_walk.values():
        assert sorted(steps) == [0, 1, 2, 3]


def test_pagerank_warm_start_incremental(spark):
    """init_scores warm start: after appending delta edges, seeding with
    the previous converged state reaches the same fixed point (damping
    < 1 makes it unique) in fewer supersteps than a cold start."""
    import pandas as pd

    base = spark.createDataFrame(
        [(a, b) for a in range(40) for b in ((a * 3 + 1) % 40, (a * 7 + 2) % 40) if a != b],
        "src bigint, dst bigint",
    )
    cold0 = pagerank(base, tol=1e-9)
    # a small crawl delta: a few new edges + one new vertex
    delta = spark.createDataFrame(
        [(0, 40), (40, 1), (5, 17), (17, 5)], "src bigint, dst bigint"
    )
    grown = base.unionAll(delta)
    cold = pagerank(grown, tol=1e-9)
    warm = pagerank(grown, tol=1e-9, init_scores=cold0.state)
    c = {r["vid"]: r["score"] for r in cold.state.collect()}
    w = {r["vid"]: r["score"] for r in warm.state.collect()}
    assert set(c) == set(w)  # incl. the new vertex 40 via uniform prior
    for vid in c:
        assert abs(c[vid] - w[vid]) < 1e-6, vid
    assert abs(sum(w.values()) - 1.0) < 1e-9
    # the mechanism, deterministically: re-seeding with the fixed point
    # itself converges immediately (a zero-delta crawl day)
    noop = pagerank(grown, tol=1e-9, init_scores=cold.state)
    assert noop.iterations <= 2 < cold.iterations
    n2 = {r["vid"]: r["score"] for r in noop.state.collect()}
    for vid in c:
        assert abs(c[vid] - n2[vid]) < 1e-9, vid


def test_ppr_and_wpagerank_warm_start(spark, tiny_edges):
    """init_scores warm start on the seeded/weighted variants: the fixed
    point is unique, so re-seeding with the converged state returns the
    same scores in <= 2 supersteps."""
    from linkgraph.algos.pagerank import personalized_pagerank, weighted_pagerank

    cold = personalized_pagerank(tiny_edges, seeds=[0], tol=1e-10)
    warm = personalized_pagerank(
        tiny_edges, seeds=[0], tol=1e-10, init_scores=cold.state
    )
    assert warm.iterations <= 2 < cold.iterations
    c = {r["vid"]: r["score"] for r in cold.state.collect()}
    w = {r["vid"]: r["score"] for r in warm.state.collect()}
    assert all(abs(c[v] - w[v]) < 1e-9 for v in c)

    from pyspark.sql import functions as F

    we = tiny_edges.withColumn("weight", (F.col("src") + F.col("dst") + 1).cast("double"))
    coldw = weighted_pagerank(we, tol=1e-10, max_iter=100)
    warmw = weighted_pagerank(we, tol=1e-10, max_iter=100, init_scores=coldw.state)
    assert warmw.iterations <= 2 < coldw.iterations
    cw = {r["vid"]: r["score"] for r in coldw.state.collect()}
    ww = {r["vid"]: r["score"] for r in warmw.state.collect()}
    assert all(abs(cw[v] - ww[v]) < 1e-9 for v in cw)


def test_cc_warm_start_incremental(spark):
    """init_labels warm start: labels from a previous run (min-vids of
    old components, still members of the merged components) converge to
    the identical canonical labeling, in fewer rounds on a crawl delta
    that merges two long chains."""
    # two long chains (slow mixing for hash-min) plus singletons
    chain1 = [(i, i + 1) for i in range(0, 30)]
    chain2 = [(i, i + 1) for i in range(40, 70)]
    base = spark.createDataFrame(chain1 + chain2, "src bigint, dst bigint")
    cold0 = connected_components(base, max_iter=100)
    # delta merges the chains
    grown = base.unionAll(spark.createDataFrame([(30, 40)], "src bigint, dst bigint"))
    cold = connected_components(grown, max_iter=100)
    warm = connected_components(
        grown, max_iter=100, init_labels=cold0.state, prior_edges=base
    )
    c = {r["vid"]: r["component"] for r in cold.state.collect()}
    w = {r["vid"]: r["component"] for r in warm.state.collect()}
    assert c == w
    assert set(c.values()) == {0}  # fully merged, canonical min vid
    assert warm.iterations < cold.iterations
    # re-seeding with the final labels converges immediately
    noop = connected_components(
        grown, max_iter=100, init_labels=cold.state, prior_edges=grown
    )
    assert noop.iterations <= 2
    assert {r["vid"]: r["component"] for r in noop.state.collect()} == c


def test_hits_warm_start(spark, tiny_edges):
    from linkgraph.algos.hits import hits

    cold = hits(tiny_edges, tol=1e-10, max_iter=100)
    warm = hits(tiny_edges, tol=1e-10, max_iter=100, init_state=cold.state)
    assert warm.iterations <= 2 < cold.iterations
    c = {r["vid"]: (r["hub"], r["auth"]) for r in cold.state.collect()}
    w = {r["vid"]: (r["hub"], r["auth"]) for r in warm.state.collect()}
    assert all(
        abs(c[v][0] - w[v][0]) < 1e-8 and abs(c[v][1] - w[v][1]) < 1e-8 for v in c
    )


def test_cc_warm_start_guards_non_additive_deltas(spark):
    """Stale priors must never poison hash-min.  A removed edge can
    split a component, and hash-min labels only ever decrease, so no
    label-side post-hoc check can reject the glued result — the guard
    is the PRECONDITION prior_edges ⊆ new edges, checked before any
    superstep runs; a violated precondition falls back to a cold run
    (with a warning), and omitting prior_edges is an error."""
    import pytest as _pytest

    base = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src bigint, dst bigint"
    )
    labels0 = connected_components(base, max_iter=50).state
    # no prior edges: refuse (unsound to proceed)
    with _pytest.raises(ValueError, match="prior_edges"):
        connected_components(base, max_iter=50, init_labels=labels0)
    # dropped-vertex delta: vertex 1 disappears (edge 1-2 removed) —
    # non-additive, so the warm start is rejected and the cold run
    # produces the correct labels
    no_v1 = spark.createDataFrame([(2, 3), (10, 11)], "src bigint, dst bigint")
    with _pytest.warns(UserWarning, match="non-additive"):
        w1 = connected_components(
            no_v1, max_iter=50, init_labels=labels0, prior_edges=base
        )
    got1 = {r["vid"]: r["component"] for r in w1.state.collect()}
    assert got1 == {2: 2, 3: 2, 10: 10, 11: 10}
    # split delta: {1,2,3} loses the 2-3 edge but vid 1 still exists;
    # vertex 3's stale prior (1) is a live vid in ANOTHER component —
    # exactly the case a label-side check cannot see
    split = spark.createDataFrame(
        [(1, 2), (3, 4), (10, 11)], "src bigint, dst bigint"
    )
    with _pytest.warns(UserWarning, match="non-additive"):
        w2 = connected_components(
            split, max_iter=50, init_labels=labels0, prior_edges=base
        )
    got2 = {r["vid"]: r["component"] for r in w2.state.collect()}
    assert got2 == {1: 1, 2: 1, 3: 3, 4: 3, 10: 10, 11: 10}


def test_cc_warm_start_removed_edge_inside_surviving_component(spark):
    """A removed edge whose component nonetheless SURVIVES (a redundant
    edge of a triangle) is still a non-additive delta: the precondition
    rejects the warm start conservatively and the cold fallback returns
    the same (correct) labels a fresh run would."""
    base = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11)], "src bigint, dst bigint"
    )
    labels0 = connected_components(base, max_iter=50).state
    # drop the redundant 1-3 edge: {1,2,3} stays one component
    thinned = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src bigint, dst bigint"
    )
    import pytest as _pytest

    with _pytest.warns(UserWarning, match="non-additive"):
        warm = connected_components(
            thinned, max_iter=50, init_labels=labels0, prior_edges=base
        )
    got = {r["vid"]: r["component"] for r in warm.state.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    # direction flips alone are NOT removals: canonical-form compare
    flipped = spark.createDataFrame(
        [(2, 1), (3, 2), (3, 1), (11, 10), (5, 6)], "src bigint, dst bigint"
    )
    warm2 = connected_components(
        flipped, max_iter=50, init_labels=labels0, prior_edges=base
    )
    got2 = {r["vid"]: r["component"] for r in warm2.state.collect()}
    assert got2 == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 5: 5, 6: 5}
