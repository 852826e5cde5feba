"""MinHash LSH edge cases: exact signatures for degenerate text,
duplicate-id merging, band settings that cannot be honoured, and empty
input. Signatures are checked against the big-int reference in
tests/oracles.py."""

import re

import pytest

from linkgraph.pipeline import dedup, phash
from tests.oracles import minhash_oracle

K, NUM_HASHES = 5, 16

EDGE_ROWS = [
    (1, None),
    (2, ""),
    (3, "ab"),  # shorter than K: exactly one shingle
    (4, "Tab\t\tand\n\nnewline \t\n runs"),
    (5, "astral \U0001F600 point"),  # one code point, two UTF-16 units
    (6, "first text of doc six"),
    (6, None),
    (6, "a second, longer text of doc six"),  # duplicate ids merge
    (7, None),
    (7, None),
]


def _expected(rows):
    """Per-id element-wise min of the reference signatures (nulls skip,
    as least() does); an id with only null texts stays all-null."""
    coeffs = phash.seeded_coeffs(NUM_HASHES, 7)
    out = {}
    for doc_id, text in rows:
        norm = None if text is None else re.sub(r"\s+", " ", text.lower())
        sig = minhash_oracle(norm, coeffs, K)
        prev = out.get(doc_id)
        out[doc_id] = sig if prev is None else [
            min((v for v in pair if v is not None), default=None)
            for pair in zip(prev, sig)
        ]
    return out


def test_minhash_signature_edge_cases_match_reference(spark):
    docs = spark.createDataFrame(EDGE_ROWS, "doc_id bigint, text string")
    got = {
        r["doc_id"]: r["sig"]
        for r in dedup.minhash_signature(
            docs, num_hashes=NUM_HASHES, shingle_k=K
        ).collect()
    }
    expected = _expected(EDGE_ROWS)
    assert got == expected
    assert got[1] == [None] * NUM_HASHES and got[7] == [None] * NUM_HASHES
    # the merge is element-wise: doc 6 is neither input row's signature
    assert got[6] not in [_expected([r])[6] for r in EDGE_ROWS if r[0] == 6 and r[1]]


@pytest.mark.parametrize(
    "num_hashes, bands",
    [
        (64, 10),  # 64 % 10 trailing minhashes would join no band
        (8, 16),  # 0 rows per band: every pair would become a candidate
    ],
)
def test_minhash_lsh_pairs_rejects_bands_it_cannot_honour(spark, num_hashes, bands):
    docs = spark.createDataFrame(EDGE_ROWS, "doc_id bigint, text string")
    with pytest.raises(ValueError, match="bands"):
        dedup.minhash_lsh_pairs(docs, num_hashes=num_hashes, bands=bands)


def test_minhash_lsh_pairs_empty_input(spark):
    docs = spark.createDataFrame([], "doc_id bigint, text string")
    pairs = dedup.minhash_lsh_pairs(docs)
    assert pairs.columns == ["a", "b", "jaccard_est"]
    assert pairs.collect() == []
