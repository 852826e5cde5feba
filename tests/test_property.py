"""Property-based tests (hypothesis): random small graphs must match the
pure-Python oracles — strengthens the reference's golden-assert-only
strategy (SURVEY.md §5: property testing absent there)."""

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from linkgraph.algos import connected_components, pagerank
from tests.oracles import components_oracle, pagerank_oracle

edge_sets = st.sets(
    st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=25,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edge_sets)
def test_cc_matches_union_find(spark, edges):
    vertices = {v for e in edges for v in e}
    df = spark.createDataFrame(sorted(edges), "src bigint, dst bigint")
    got = {
        r["vid"]: r["component"]
        for r in connected_components(df, max_iter=40).state.collect()
    }
    assert got == components_oracle(edges, vertices)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edge_sets)
def test_pagerank_matches_power_iteration(spark, edges):
    vertices = {v for e in edges for v in e}
    df = spark.createDataFrame(sorted(edges), "src bigint, dst bigint")
    expected, _ = pagerank_oracle(edges, vertices, tol=1e-7, max_iter=60)
    got = {
        r["vid"]: r["score"]
        for r in pagerank(df, tol=1e-7, max_iter=60).state.collect()
    }
    assert set(got) == vertices
    for v in vertices:
        assert math.isclose(got[v], expected[v], abs_tol=1e-6)


def test_phash_cross_engine_parity_random_unicode(spark):
    """The portable hash family must agree between Spark and DuckDB on
    arbitrary text (the oracle contract) — including multibyte unicode,
    whitespace runs, empties, and strings shorter than the window. The
    MinHash kernel's signatures and band keys must match both a Python
    reference and the DuckDB replica bit for bit."""
    import random
    import re

    import duckdb
    import numpy as np
    from pyspark.sql import functions as F

    from linkgraph.pipeline import dedup, phash
    from tests.oracles import band_keys_oracle, minhash_oracle

    rng = random.Random(424242)
    alphabet = (
        "abcdefghijklmnopqrstuvwxyz0123456789 \t àéîõüßñ 中文字符 日本語 кирилл ελλ"
    )
    samples = [""] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 40)))
        for _ in range(200)
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)], "i int, s string")
    got = {
        r["i"]: r["th"]
        for r in df.select("i", phash.token_hash(F.col("s")).alias("th")).collect()
    }
    con = duckdb.connect()
    th = phash.token_hash_sql("s")
    for i, s in enumerate(samples):
        row = con.execute(f"SELECT {th} FROM (SELECT ? AS s)", [s]).fetchone()
        assert got[i] == row[0], f"mismatch on {s!r}"

    # the numpy MinHash kernel, run by Spark over Arrow batches, against
    # a big-int Python reference and the DuckDB replica of the Catalyst
    # form (shingles -> char_hash_sql -> affine minima -> band fold)
    k, num_hashes, bands = 7, 16, 4
    coeffs = phash.seeded_coeffs(num_hashes, 7)
    sigs = {
        r["i"]: r["sig"]
        for r in dedup.minhash_signature(
            df, id_col="i", text_col="s", num_hashes=num_hashes, shingle_k=k
        ).collect()
    }
    keys = phash.band_keys_np(np.array([sigs[i] for i in range(len(samples))]), bands)
    mins = ", ".join(f"MIN({phash.affine_sql('x', a, b)})" for a, b in coeffs)
    sig_sql = (
        f"SELECT {mins} FROM (SELECT {phash.char_hash_sql('sh', k)} AS x FROM ("
        f"SELECT unnest(list_transform(range(1, greatest(length(t) - {k - 1}, 1) + 1),"
        f" i -> substring(t, i, {k}))) AS sh"
        " FROM (SELECT regexp_replace(lower(?), '\\s+', ' ', 'g') AS t)))"
    )
    rpb = num_hashes // bands
    for i, s in enumerate(samples):
        ref = minhash_oracle(re.sub(r"\s+", " ", s.lower()), coeffs, k)
        assert sigs[i] == ref, f"kernel signature mismatch on {s!r}"
        assert list(con.execute(sig_sql, [s]).fetchone()) == ref, f"duckdb on {s!r}"
        ref_keys = band_keys_oracle(ref, bands)
        assert keys[i].tolist() == ref_keys, f"band keys mismatch on {s!r}"
        key_sql = ", ".join(
            phash.combine_sql(
                [f"CAST({v} AS BIGINT)" for v in ref[b * rpb : (b + 1) * rpb]]
            )
            for b in range(bands)
        )
        assert list(con.execute(f"SELECT {key_sql}").fetchone()) == ref_keys
