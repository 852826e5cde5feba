"""Engine-portable hash family for LSH-style operators.

Round 1 used ``xxhash64`` for minhash/simhash, which no other engine can
reproduce, so those queries had no independent SQL oracle. This module
replaces it with a seeded affine (multiplicative) family over Z_p:

    h_i(x) = (a_i * x + b_i) mod P,   P = 1_000_000_007

with ``x`` a polynomial character hash of the input string. Every step
is exact int64 arithmetic (all intermediates < 2^60), so the identical
computation is expressible in DuckDB SQL — each Spark Column builder
or numpy kernel here has a ``*_sql`` twin emitting the equivalent SQL
fragment, and the oracle SQL in ``__spark_entry__.py`` is assembled
from them. Affine maps over Z_p are a classic universal hash family, so
MinHash/SimHash quality matches the xxhash64 version.

Hot-path note: the string hash ``x`` is computed ONCE per shingle/token;
the per-function work is one multiply-add-mod. MinHash does not run the
Column expressions on its hot path: :func:`minhash_np` and
:func:`band_keys_np` are the numpy twins that ``dedup.minhash_signature``
and ``dedup.minhash_lsh_pairs`` run over Arrow batches (one vectorized
pass per batch, no per-shingle Catalyst rows). The Column expressions
still back simhash, and the ``*_sql`` twins back the DuckDB oracle.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F

P = 1_000_000_007  # modulus: products of two residues stay < 2^60
BASE = 131  # character-polynomial base
LEN_MIX = 9176  # mixes string length into bounded-prefix hashes
COMBINE = 1_000_003  # base for combining signature rows into a band bucket


def seeded_coeffs(n: int, seed: int) -> list[tuple[int, int]]:
    """n deterministic (a, b) pairs, a in [1, P), b in [0, P).

    A bare LCG (numerical-recipes constants) rather than ``random`` so
    the constants are reproducible from first principles in any
    language/engine if ever needed.
    """
    state = (seed * 2654435761 + 1) % (1 << 32)
    out = []
    for _ in range(n):
        state = (state * 1664525 + 1013904223) % (1 << 32)
        a = state % (P - 1) + 1
        state = (state * 1664525 + 1013904223) % (1 << 32)
        b = state % P
        out.append((a, b))
    return out


def _pow_base(j: int) -> int:
    return pow(BASE, j, P)


# ---------------------------------------------------------------------------
# fixed-length (shingle) character hash: x = sum_j cp_j * BASE^(k-1-j) mod P
# codepoints < 2^21, BASE^j mod P < 2^30 -> each term < 2^51, k terms < 2^55
# ---------------------------------------------------------------------------


def char_hash_sql(expr: str, k: int) -> str:
    """Polynomial hash of the first ``k`` characters of SQL expression
    ``expr`` (DuckDB), the shingle hash :func:`minhash_np` computes.

    Positions past the end contribute 0 without a branch: substring past
    the end is '' and ascii('') = 0, so strings shorter than ``k`` hash
    consistently."""
    terms = []
    for j in range(k):
        c = _pow_base(k - 1 - j)
        terms.append(
            f"CAST(ascii(substring({expr}, {j + 1}, 1)) AS BIGINT) * {c}"
        )
    return f"(({' + '.join(terms)}) % {P})"


# ---------------------------------------------------------------------------
# variable-length (token) hash: 8-char-prefix polynomial + length mixing
# ---------------------------------------------------------------------------

TOKEN_PREFIX = 8


def token_hash(col: Column) -> Column:
    """Hash of an arbitrary-length token (Spark side): polynomial over
    the first 8 characters plus ``len * LEN_MIX`` so same-prefix tokens
    of different length split."""
    total = F.lit(0).cast("long")
    for j in range(TOKEN_PREFIX):
        c = _pow_base(TOKEN_PREFIX - 1 - j)
        total = total + F.ascii(F.substring(col, j + 1, 1)).cast("long") * F.lit(c)
    total = total + F.length(col).cast("long") * F.lit(LEN_MIX)
    return total % F.lit(P)


def token_hash_sql(expr: str) -> str:
    terms = []
    for j in range(TOKEN_PREFIX):
        c = _pow_base(TOKEN_PREFIX - 1 - j)
        terms.append(
            f"CAST(ascii(substring({expr}, {j + 1}, 1)) AS BIGINT) * {c}"
        )
    terms.append(f"CAST(length({expr}) AS BIGINT) * {LEN_MIX}")
    return f"(({' + '.join(terms)}) % {P})"


# ---------------------------------------------------------------------------
# affine family members over a precomputed x
# ---------------------------------------------------------------------------


def affine(x: Column, a: int, b: int) -> Column:
    return (x * F.lit(a) + F.lit(b)) % F.lit(P)


def affine_sql(expr: str, a: int, b: int) -> str:
    return f"(({expr} * {a} + {b}) % {P})"


def combine_sql(exprs: list[str]) -> str:
    """Fold signature rows into one band-bucket key (DuckDB side; the
    engine side is :func:`band_keys_np`)."""
    acc = "0"
    for e in exprs:
        acc = f"((({acc}) * {COMBINE} + {e}) % {P})"
    return acc


# ---------------------------------------------------------------------------
# numpy twins of the MinHash path (char_hash_sql -> affine minima -> combine_sql)
# ---------------------------------------------------------------------------


def minhash_np(
    texts: pa.Array, coeffs: list[tuple[int, int]], k: int
) -> tuple[np.ndarray, np.ndarray]:
    """MinHash signatures of a batch of strings: ``(sig, valid)`` with
    ``sig[d, i]`` = min over the k-shingles of text ``d`` of
    ``affine(char_hash_sql(shingle, k), *coeffs[i])`` and ``valid[d]`` False
    for a null text (its ``sig`` row is that of ``''``; callers emit
    nulls).

    Exactly the SQL form's semantics: characters are code points
    (UTF-32, so an astral character is one position), positions past
    the end count as 0, and a text shorter than ``k`` (``''`` included)
    has exactly one shingle. Each text is laid out followed by ``k``
    zero code points, so one rolling polynomial over the whole batch
    gives every shingle hash; a NUL character hashes as 0 either way.
    Intermediates match char_hash_sql's int64 bounds (< 2^55, then < 2^60
    after the affine step)."""
    filled = pc.fill_null(texts, "")
    n_docs = len(filled)
    valid = texts.is_valid().to_numpy(zero_copy_only=False)
    if n_docs == 0:
        return np.empty((0, len(coeffs)), np.int64), valid
    _, off_buf, data_buf = filled.buffers()
    off_type = np.int64 if pa.types.is_large_string(filled.type) else np.int32
    offsets = np.frombuffer(off_buf, off_type)[filled.offset :][: n_docs + 1]
    data = memoryview(data_buf or b"")[offsets[0] : offsets[-1]]
    cps = np.frombuffer(str(data, "utf-8").encode("utf-32-le"), np.uint32)
    lens = pc.utf8_length(filled).to_numpy().astype(np.int64)
    docs = np.arange(n_docs)
    padded = np.zeros(cps.size + k * n_docs, np.int64)
    padded[np.arange(cps.size) + k * np.repeat(docs, lens)] = cps
    rolled = np.zeros(padded.size - k + 1, np.int64)
    for j in range(k):
        rolled += padded[j : j + rolled.size] * _pow_base(k - 1 - j)
    # shingles of text d start at its first character and are contiguous
    n_sh = np.maximum(lens - k + 1, 1)
    first = np.cumsum(n_sh) - n_sh  # first shingle of each text in x
    starts = np.cumsum(lens + k) - (lens + k)  # first character in padded
    x = rolled[np.repeat(starts - first, n_sh) + np.arange(n_sh.sum())] % P
    sig = np.empty((n_docs, len(coeffs)), np.int64)
    h, q = np.empty_like(x), np.empty_like(x)
    for i, (a, b) in enumerate(coeffs):
        np.multiply(x, a, out=h)
        h += b
        # h - (h // P) * P: floor_divide by a scalar is libdivide-backed,
        # np.remainder is not (1.7x faster on numpy 1.26, x86-64 Xeon)
        np.floor_divide(h, P, out=q)
        q *= P
        h -= q
        sig[:, i] = np.minimum.reduceat(h, first)
    return sig, valid


def band_keys_np(sig: np.ndarray, bands: int) -> np.ndarray:
    """``(n, bands)`` bucket keys: :func:`combine_sql`'s fold over each
    band's consecutive rows of the ``(n, num_hashes)`` signature matrix."""
    rows = sig.reshape(len(sig), bands, -1)
    acc = np.zeros((len(sig), bands), np.int64)
    for j in range(rows.shape[2]):
        acc = (acc * COMBINE + rows[:, :, j]) % P
    return acc
