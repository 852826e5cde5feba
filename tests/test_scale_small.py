"""pages_small end-to-end at FIXTURES.md scale (V≈2000): the full
pages -> extract -> normalize -> algorithms pipeline vs oracles.

Slow (several minutes) — gated behind SPARK_GRAFT_SLOW=1 so the per-round
`python -m pytest -x -q` stays fast. Run manually:

    SPARK_GRAFT_SLOW=1 python -m pytest tests/test_scale_small.py -q
"""

import math
import os

import pytest

from linkgraph.algos import connected_components, pagerank, triangle_count
from linkgraph.datagen import pages_spark
from linkgraph.extract import extract_pages, extracted_edges
from linkgraph.normalize import normalize_graph
from tests.oracles import components_oracle, pagerank_oracle, triangles_oracle

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SLOW") != "1",
    reason="slow end-to-end scale test; set SPARK_GRAFT_SLOW=1",
)

N = 2000


@pytest.fixture(scope="module")
def built(spark):
    pages, plan = pages_spark(spark, n=N, seed=42)
    extracted = extract_pages(pages).persist()
    with normalize_graph(extracted_edges(extracted)) as (_canon, vertices, edges):
        yield pages, extracted, plan, vertices, edges
    extracted.unpersist()


def test_full_pipeline_text_and_graph(built):
    pages, extracted, plan, vertices, edges = built
    # byte-identical extraction at scale
    got = {r["url"]: r["text"] for r in extracted.collect()}
    exp = {r["url"]: r["text"] for r in pages.select("url", "text").collect()}
    assert got == exp
    # vertex set = the endpoints of the planned edges; edge set exact
    url_of = {r["vid"]: r["url"] for r in vertices.collect()}
    assert set(url_of.values()) == {u for e in plan.edge_urls() for u in e}
    got_edges = {(url_of[r["src"]], url_of[r["dst"]]) for r in edges.collect()}
    assert got_edges == plan.edge_urls()


def test_algorithms_at_scale(built):
    _pages, _extracted, plan, vertices, edges = built
    url_vid = {r["url"]: r["vid"] for r in vertices.collect()}
    vid_of = lambda v: url_vid[plan.url(v)]  # noqa: E731
    oracle_edges = {(vid_of(a), vid_of(b)) for a, b in plan.edge_vids()}
    oracle_verts = set(url_vid.values())

    comp = components_oracle(oracle_edges, oracle_verts)
    got_cc = {
        r["vid"]: r["component"]
        for r in connected_components(edges, vertices=vertices, max_iter=60)
        .state.collect()
    }
    assert got_cc == comp
    sizes = sorted(
        (list(got_cc.values()).count(c) for c in set(got_cc.values())), reverse=True
    )
    # giant component; isolated pages are not vertices, so no singletons
    assert sizes[0] > N * 0.5 and 1 not in sizes

    pr_exp, _ = pagerank_oracle(oracle_edges, oracle_verts, tol=1e-6, max_iter=200)
    got_pr = {
        r["vid"]: r["score"]
        for r in pagerank(edges, vertices=vertices, tol=1e-6, max_iter=200)
        .state.collect()
    }
    for v in oracle_verts:
        assert math.isclose(got_pr[v], pr_exp[v], abs_tol=1e-6)
    assert got_pr[vid_of(plan.hot)] == max(got_pr.values())  # hot vertex on top

    exp_tri, _ = triangles_oracle(oracle_edges)
    assert triangle_count(edges) == exp_tri
    assert exp_tri >= 20
