from pyspark.sql import functions as F

from linkgraph.extract import extract_pages, extracted_edges
from linkgraph.normalize import (
    assign_contiguous_ids,
    canonicalize_url,
    normalize_graph,
)


def test_canonicalize_url_cases():
    cases = {
        "HTTPS://WWW.Example.COM:443/p/1#frag": "https://www.example.com/p/1",
        "http://example.com:80/": "http://example.com/",
        "https://example.com": "https://example.com/",
        "https://example.com/a/./b/../c": "https://example.com/a/c",
        "https://example.com/a/": "https://example.com/a",
        "https://example.com/?q=1": "https://example.com/?q=1",
        "https://example.com:8443/x": "https://example.com:8443/x",
    }
    for raw, want in cases.items():
        assert canonicalize_url(raw) == want, raw


def test_assign_contiguous_ids(spark):
    df = spark.createDataFrame([(w,) for w in "delta alpha echo bravo charlie".split()], "k string")
    ids = assign_contiguous_ids(df, "k", "vid")
    try:
        # the session's default parallelism spreads the 5 keys over
        # several range partitions, so the offsets are exercised
        assert ids.rdd.getNumPartitions() > 1
        assert ids.columns == ["vid", "k"]
        got = {r["k"]: r["vid"] for r in ids.collect()}
    finally:
        ids.unpersist()
    assert got == {"alpha": 0, "bravo": 1, "charlie": 2, "delta": 3, "echo": 4}


def test_normalize_graph_end_to_end(spark, tiny_pages):
    pages, plan = tiny_pages
    raw = extracted_edges(extract_pages(pages))
    with normalize_graph(raw, num_buckets=3) as (canon, vertices, edges):
        # vertex set = endpoints of the expected canonical edge set
        exp_urls = {u for e in plan.edge_urls() for u in e}
        rows = vertices.collect()
        assert {r["url"] for r in rows} == exp_urls
        # contiguous 0..V-1 in url order
        assert [r["vid"] for r in sorted(rows, key=lambda r: r["url"])] == list(
            range(len(exp_urls))
        )
        assert all(r["url_hash"] is not None for r in rows)
        assert {(r["src_url"], r["dst_url"]) for r in canon.collect()} == plan.edge_urls()
        # edge set matches the plan exactly after id mapping
        url_of = {r["vid"]: r["url"] for r in rows}
        got = {(url_of[r["src"]], url_of[r["dst"]]) for r in edges.collect()}
        assert got == plan.edge_urls()
        assert edges.rdd.getNumPartitions() == 3
        # no self loops, no duplicates
        assert edges.where(F.col("src") == F.col("dst")).count() == 0
        assert edges.count() == edges.select("src", "dst").distinct().count()

