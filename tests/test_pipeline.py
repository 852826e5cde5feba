"""Training-data pipeline ops: dedup, similarity search, text stats."""

import pytest
from pyspark.sql import functions as F

from linkgraph.pipeline import dedup, simsearch, textstats


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest where tall trees grow for many years"
    )
    near = base.replace("quick", "swift").replace("lazy", "sleepy")
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, near),  # near dup of 0
        (3, "completely different text about spark dataframes and shuffle joins"),
        (4, "der hund und die katze sind nicht mit der maus zu ein haus"),
        (5, "el perro y la gata es un animal que vive en la casa con amor"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup(docs):
    got = {r["doc_id"]: r["canonical_id"] for r in dedup.exact_dedup(docs).collect()}
    assert got[0] == 0 and got[1] == 0  # dup group collapses to min id
    assert all(got[i] == i for i in (2, 3, 4, 5))


def test_minhash_lsh_finds_near_dups(docs):
    pairs = dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert (0, 1) in got  # exact dup: jaccard 1.0
    assert (0, 2) in got or (1, 2) in got  # near dup caught
    assert all({a, b} != {3, 4} for a, b in got)


def test_minhash_signature_deterministic(docs):
    s1 = dedup.minhash_signature(docs).collect()
    s2 = dedup.minhash_signature(docs).collect()
    assert {r["doc_id"]: r["sig"] for r in s1} == {r["doc_id"]: r["sig"] for r in s2}


def test_simhash_near_for_near_dups(docs):
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert got[0] == got[1]

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(got[0], got[2]) < hamming(got[0], got[3])


def test_text_stats(docs):
    got = {r["doc_id"]: r for r in textstats.text_stats(docs).collect()}
    assert got[0]["n_tokens"] == 25
    assert got[0]["stopword_ratio"] > 0.1  # 'the' x3 + 'and' + 'for'
    assert 0.0 <= got[0]["quality_score"] <= 1.0


def test_lang_id(docs):
    got = {r["doc_id"]: r["pred_lang"] for r in textstats.lang_id(docs).collect()}
    assert got[0] == "en"
    assert got[4] == "de"
    assert got[5] == "es"


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.standard_normal(16)
    rows = []
    for i in range(50):
        if i < 5:  # cluster near base
            v = base + 0.05 * rng.standard_normal(16)
        else:
            v = rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_brute_force_topk(vectors):
    q = vectors.where(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), F.col("embedding")
    )
    got = simsearch.brute_force_topk(vectors, q, k=5)
    rows = got.orderBy(F.col("score").desc()).collect()
    ids = [r["vec_id"] for r in rows]
    assert ids[0] == 0 and rows[0]["score"] == pytest.approx(1.0)
    assert set(ids) == {0, 1, 2, 3, 4}  # the planted cluster


def test_lsh_topk_overlaps_brute_force(vectors):
    q = vectors.where(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), F.col("embedding")
    )
    brute = {r["vec_id"] for r in simsearch.brute_force_topk(vectors, q, k=5).collect()}
    approx = {r["vec_id"] for r in simsearch.lsh_topk(vectors, q, k=5, n_planes=4, dim=16).collect()}
    # same-cluster vectors land in the query's bucket with high prob
    assert 0 in approx
    assert len(brute & approx) >= 3


def test_ivf_topk_overlaps_brute_force(vectors):
    q = vectors.where(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), F.col("embedding")
    )
    brute = {r["vec_id"] for r in simsearch.brute_force_topk(vectors, q, k=5).collect()}
    ivf = {
        r["vec_id"]
        for r in simsearch.ivf_topk(vectors, q, k=5, n_centroids=8, n_probe=3).collect()
    }
    assert 0 in ivf
    assert len(brute & ivf) >= 3


def test_pq_encode_and_adc_topk(vectors):
    """Product quantization: codes are valid indices, a codeword-exact
    vector encodes to distance ~0 against itself, and ADC top-k ranks
    the planted near-cluster ahead of random vectors."""
    books = simsearch.pq_codebooks(vectors, m_subspaces=4, n_codes=8)
    assert len(books) == 4 and all(len(b) == 8 for b in books)
    assert all(len(cw) == 4 for b in books for cw in b)
    enc = simsearch.pq_encode(vectors, books)
    rows = {r["vec_id"]: r["codes"] for r in enc.collect()}
    assert len(rows) == 50
    assert all(len(c) == 4 and all(0 <= x < 8 for x in c) for c in rows.values())
    # a query that IS a sampled codebook vector: its ADC self-distance is
    # the quantization floor — strictly below a far random vector's
    q = vectors.where(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), F.col("embedding")
    )
    top = simsearch.pq_topk(enc, q, books, k=10).collect()
    assert len(top) == 10
    ids = [r["vec_id"] for r in top]
    dists = [r["adc_dist"] for r in top]
    assert dists == sorted(dists)
    # the planted cluster {0..4} quantizes to (near-)identical codes, so
    # ADC puts a majority of it in the top-10
    assert len(set(ids) & {0, 1, 2, 3, 4}) >= 3
    # deterministic across invocations (seeded sampling, no RNG at query)
    top2 = simsearch.pq_topk(simsearch.pq_encode(vectors, books), q, books, k=10).collect()
    assert [(r["vec_id"], r["adc_dist"]) for r in top2] == [
        (r["vec_id"], r["adc_dist"]) for r in top
    ]


def test_pq_encode_is_projection_only(vectors):
    """The encode plan must be a pure projection over the scan — no
    Exchange, no Python UDF (the 10^12-vector encode pass is
    embarrassingly parallel)."""
    import contextlib
    import io

    books = simsearch.pq_codebooks(vectors, m_subspaces=4, n_codes=8)
    enc = simsearch.pq_encode(vectors, books)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        enc.explain(mode="formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan  # no Batch/ArrowEvalPython nodes


def test_simhash_pairs(docs):
    got = {(r["a"], r["b"]): r["hamming"] for r in dedup.simhash_pairs(docs, max_hamming=3).collect()}
    assert got.get((0, 1)) == 0  # exact dup
    # near dup (0,2) may or may not be <=3 hamming; exact dup must be only 0-distance pair
    assert all(h <= 3 for h in got.values())


def test_lsh_topk_requires_dim(vectors):
    q = vectors.where(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), F.col("embedding")
    )
    with pytest.raises(ValueError):
        simsearch.lsh_topk(vectors, q, k=5, n_planes=4)


def test_ivf_kmeans_refine_improves_or_matches(vectors):
    """Lloyd refinement keeps (usually improves) recall vs the seeded
    sample, and stays deterministic run-to-run."""
    q = vectors.where(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), F.col("embedding")
    )
    brute = {r["vec_id"] for r in simsearch.brute_force_topk(vectors, q, k=5).collect()}
    km1 = {
        r["vec_id"]
        for r in simsearch.ivf_topk(
            vectors, q, k=5, n_centroids=8, n_probe=3, kmeans_iters=2
        ).collect()
    }
    km2 = {
        r["vec_id"]
        for r in simsearch.ivf_topk(
            vectors, q, k=5, n_centroids=8, n_probe=3, kmeans_iters=2
        ).collect()
    }
    assert km1 == km2  # deterministic
    assert 0 in km1
    assert len(brute & km1) >= 3


def test_cosine_pairs_lsh_finds_planted_cluster(vectors):
    """Genuinely-near pairs (the planted cos≈0.99 cluster, ids 0-4) all
    survive multi-table LSH; precision is exact by construction (every
    emitted pair passes the exact cosine verify)."""
    got = simsearch.cosine_pairs_lsh(
        vectors, threshold=0.9, n_planes=6, n_tables=4, dim=16
    ).collect()
    pairs = {(r["a"], r["b"]) for r in got}
    expected = {(a, b) for a in range(5) for b in range(a + 1, 5)}
    assert expected <= pairs
    # verify step is exact: every reported score really is >= threshold
    brute = {
        (r["a"], r["b"])
        for r in vectors.alias("x")
        .join(vectors.alias("y"), F.col("x.vec_id") < F.col("y.vec_id"))
        .select(
            F.col("x.vec_id").alias("a"),
            F.col("y.vec_id").alias("b"),
            simsearch.cosine(F.col("x.embedding"), F.col("y.embedding")).alias("s"),
        )
        .where(F.col("s") >= 0.9)
        .collect()
    }
    assert pairs <= brute


def test_near_dedup_resolves_clusters(spark, docs, monkeypatch):
    """Pairs -> connected components -> canonical: the transitive
    cluster {0,1,2} collapses to min id 0; singletons keep themselves;
    every input doc gets exactly one row."""
    got = {r["doc_id"]: r["canonical_id"] for r in
           dedup.near_dedup(docs, jaccard_threshold=0.5).collect()}
    assert got[0] == got[1] == got[2] == 0  # near-dup 2 clusters via LSH
    assert all(got[i] == i for i in (3, 4, 5))
    assert len(got) == 6

    # explicit pairs + LSH params is a contradiction — reject loudly
    with pytest.raises(TypeError, match="no effect"):
        dedup.near_dedup(
            docs,
            pairs=spark.createDataFrame([(0, 1)], "a bigint, b bigint"),
            jaccard_threshold=0.9,
        )

    # transitivity through explicit pairs (0-1, 1-2 only — no 0-2 pair)
    pairs = spark.createDataFrame([(0, 1), (1, 2)], "a bigint, b bigint")
    got = {r["doc_id"]: r["canonical_id"] for r in
           dedup.near_dedup(docs, pairs=pairs).collect()}
    assert got[0] == got[1] == got[2] == 0 and got[3] == 3
    # the distributed Pregel kernel (threshold 0 forces it) returns the
    # identical contract as the driver union-find fast path above
    with monkeypatch.context() as m:
        m.setattr(dedup, "SMALL_PAIRS_THRESHOLD", 0)
        got_dist = {r["doc_id"]: r["canonical_id"] for r in
                    dedup.near_dedup(docs, pairs=pairs).collect()}
    assert got_dist == got

    # non-integral ids ride the hashed-vid path; canonical is still min ID
    sdocs = docs.select(
        F.concat(F.lit("url-"), F.col("doc_id").cast("string")).alias("doc_id"),
        "text",
    )
    got = {r["doc_id"]: r["canonical_id"] for r in
           dedup.near_dedup(sdocs, jaccard_threshold=0.5).collect()}
    assert got["url-0"] == got["url-1"] == "url-0"
    assert got["url-3"] == "url-3"
    # hashed-vid distributed path agrees with the string fast path too
    monkeypatch.setattr(dedup, "SMALL_PAIRS_THRESHOLD", 0)
    got_dist = {r["doc_id"]: r["canonical_id"] for r in
                dedup.near_dedup(sdocs, jaccard_threshold=0.5).collect()}
    assert got_dist == got


def test_hot_bucket_cap_ignores_null_keys(spark):
    """Null-signature docs (extraction failures) share a NULL bucket key
    but NULL keys never equi-join — the cap must not count them as an
    oversized bucket (no warning) and must not anchor them."""
    import warnings

    from linkgraph.pipeline.dedup import simhash_pairs

    rows = [(f"n{i}", None) for i in range(20)]  # null texts
    rows += [("a1", "some perfectly ordinary document text here"),
             ("a2", "some perfectly ordinary document text here")]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        pairs = {(r["a"], r["b"]) for r in
                 simhash_pairs(docs, max_bucket_size=5).collect()}
    assert not any("anchoring" in str(w.message) for w in caught)
    assert pairs == {("a1", "a2")}


def test_cosine_pairs_lsh_hot_bucket_anchoring(spark):
    """Duplicate-heavy embeddings (one vector repeated many times) keep a
    bucket hot no matter how many hyperplanes: max_bucket_size anchors the
    bucket to its min-id representative, the warning fires, every anchored
    pair still passes the exact cosine verify, and unrelated vectors never
    pair."""
    import warnings

    import numpy as np

    rng = np.random.default_rng(23)
    base = rng.standard_normal(16)
    rows = [(i, [float(x) for x in base + 1e-4 * rng.standard_normal(16)])
            for i in range(30)]  # near-identical clique
    rows += [(100 + j, [float(x) for x in rng.standard_normal(16)])
             for j in range(5)]  # unrelated
    vecs = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        capped = {(r["a"], r["b"]) for r in simsearch.cosine_pairs_lsh(
            vecs, threshold=0.95, n_planes=6, n_tables=4, dim=16,
            max_bucket_size=8,
        ).collect()}
    assert any("anchoring" in str(w.message) for w in caught)
    # the clique collapses through its min-id anchor (0), linearly not O(n^2)
    anchored_to_0 = {b for a, b in capped if a == 0}
    assert len(anchored_to_0) >= 25
    # exact verify still gates every emitted pair
    full = {(r["a"], r["b"]) for r in simsearch.cosine_pairs_lsh(
        vecs, threshold=0.95, n_planes=6, n_tables=4, dim=16,
    ).collect()}
    assert capped <= full
    assert not any(a >= 100 or b >= 100 for a, b in capped)


def test_simhash_preserves_null_text_rows(spark):
    from linkgraph.pipeline import dedup

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, None)], "doc_id bigint, text string"
    )
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert set(got) == {1, 2} and got[1] is not None and got[2] is None


def test_quality_filter_rules(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog walked to the house in the morning sun"),
            (2, "short text"),
            (3, "the " * 12 + "!!!???!!!***%%%$$$###@@@!!!???***"),
            (4, "word1 word2 word3 word4 word5 word6 word7 word8 word9 word10 word11"),
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: (r["keep"], r["reject_reason"]) for r in textstats.quality_filter(docs).collect()}
    assert got[1] == (True, "ok")
    assert got[2] == (False, "too_short")
    assert got[3][0] is False and got[3][1] in ("punct_noise", "digit_noise")
    assert got[4] == (False, "no_stopwords")  # no english stopwords


def test_host_graph_rollup(spark):
    from linkgraph.normalize import host_graph

    e = spark.createDataFrame(
        [
            ("https://a.com/x", "https://b.com/y", "t"),
            ("https://a.com/z", "https://b.com/w", "t"),
            ("https://a.com/q", "https://a.com/r", "t"),  # self-host drops
            ("https://b.com/1", "https://c.org/2", "t"),
        ],
        "src_url string, dst_url string, anchor string",
    )
    got = {(r["src_host"], r["dst_host"]): r["weight"] for r in host_graph(e).collect()}
    assert got == {("a.com", "b.com"): 2, ("b.com", "c.org"): 1}


def test_quality_filter_null_text(spark):
    from linkgraph.pipeline import textstats as ts

    docs = spark.createDataFrame(
        [(1, "the cat and the dog walked to the house in the morning"), (2, None)],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: (r["keep"], r["reject_reason"]) for r in ts.quality_filter(docs).collect()}
    assert got[1] == (True, "ok") and got[2] == (False, "no_text")


def test_host_graph_drops_malformed_urls(spark):
    from linkgraph.normalize import host_graph

    e = spark.createDataFrame(
        [("/relative", "https://b.com/x", "t"), ("https://a.com/1", "https://b.com/2", "t")],
        "src_url string, dst_url string, anchor string",
    )
    got = {(r["src_host"], r["dst_host"]) for r in host_graph(e).collect()}
    assert got == {("a.com", "b.com")}


def test_chunk_documents(spark):
    from linkgraph.pipeline import textstats as ts

    text = " ".join(f"t{i}" for i in range(10))
    docs = spark.createDataFrame([(1, text), (2, "a b")], "doc_id bigint, text string")
    got = sorted(
        (r["doc_id"], r["chunk_id"], r["chunk_text"], r["n_tokens"])
        for r in ts.chunk_documents(docs, chunk_tokens=4, overlap=1).collect()
    )
    # doc 1: step 3 -> chunks [0..3],[3..6],[6..9],[9]
    assert got == [
        (1, 0, "t0 t1 t2 t3", 4),
        (1, 1, "t3 t4 t5 t6", 4),
        (1, 2, "t6 t7 t8 t9", 4),
        (2, 0, "a b", 2),
    ]
    import pytest

    with pytest.raises(ValueError):
        ts.chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_line_dedup_boilerplate(spark):
    from linkgraph.pipeline import textstats as ts

    nav = "home | about | contact"
    docs = spark.createDataFrame(
        [
            (1, f"{nav}\nunique content one\nfooter"),
            (2, f"{nav}\nother unique text\nfooter"),
            (3, f"{nav}\nfooter"),
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r["text"] for r in ts.line_dedup(docs).collect()}
    # nav + footer appear in >1 doc -> dropped; order of surviving lines kept
    assert got == {
        1: "unique content one",
        2: "other unique text",
        3: "",  # fully boilerplate, row preserved
    }


def test_repetition_stats(spark):
    """Gopher-style duplicate-n-gram fractions: a looping doc scores
    high, a diverse doc scores 0, NULL text yields zeros (cardinality
    preserved)."""
    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),
            (2, "all words here are different"),
            (3, None),
            (4, "one"),
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in textstats.repetition_stats(docs).collect()}
    assert set(got) == {1, 2, 3, 4}
    r1 = got[1]
    assert r1["n_words"] == 4
    assert r1["dup_word_frac"] == 0.75          # 4 words, 1 distinct
    assert r1["n_2grams"] == 3
    assert r1["dup_2gram_frac"] == 0.6666       # 3 grams, 1 distinct (floor r4)
    assert r1["max_2gram_frac"] == 1.0          # 'spam spam' is every gram
    r2 = got[2]
    assert r2["dup_word_frac"] == 0.0 and r2["dup_2gram_frac"] == 0.0
    assert r2["max_2gram_frac"] == 0.25         # 4 grams, each once
    r3 = got[3]
    assert r3["n_words"] == 0 and r3["max_2gram_frac"] == 0.0
    r4_ = got[4]
    assert r4_["n_words"] == 1 and r4_["n_2grams"] == 0
    assert r4_["max_2gram_frac"] == 0.0


def test_minhash_hot_bucket_anchoring(spark):
    """A template-heavy corpus (many near-identical docs) must not
    self-join O(n^2): oversized LSH buckets anchor to a representative,
    the warning reports it, and the identical-doc clique still collapses
    through the anchor."""
    import warnings

    from linkgraph.pipeline.dedup import minhash_lsh_pairs

    base = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
            "eiusmod tempor incididunt ut labore et dolore magna aliqua ")
    rows = [(f"t{i}", base + f"page {i}") for i in range(40)]  # template clique
    rows += [("u1", "a completely different document about spark graphs"),
             ("u2", "another unrelated text on duckdb oracles and parquet")]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        pairs = minhash_lsh_pairs(docs, max_bucket_size=10).collect()
    assert any("anchoring" in str(w.message) for w in caught)
    got = {(r["a"], r["b"]) for r in pairs}
    # the clique collapses via its min-id anchor t0
    anchored_to_t0 = {b for a, b in got if a == "t0"}
    assert len(anchored_to_t0) >= 35
    # unrelated docs never pair
    assert not any("u1" in p or "u2" in p for p in got)
    # uncapped finds the full clique pairwise; anchored is a subset
    full = {(r["a"], r["b"]) for r in
            minhash_lsh_pairs(docs, max_bucket_size=None).collect()}
    assert got <= full


def test_simhash_hot_bucket_anchoring(spark):
    import warnings

    from linkgraph.pipeline.dedup import simhash_pairs

    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [(f"t{i}", base * 3 + f"tail {i % 2}") for i in range(30)]
    rows += [("u1", "entirely different content about columnar execution")]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        capped = {(r["a"], r["b"]) for r in
                  simhash_pairs(docs, max_bucket_size=5).collect()}
    assert any("anchoring" in str(w.message) for w in caught)
    full = {(r["a"], r["b"]) for r in
            simhash_pairs(docs, max_bucket_size=None).collect()}
    assert capped <= full and len(capped) > 0
    assert not any("u1" in p for p in capped)
