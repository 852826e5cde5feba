"""Pure-Python reference implementations (independent oracles for the
golden-assert tests — the analog of the reference's hand-computed
expected values in LocalRunnerTestFactory.AssertFunction tests)."""

from __future__ import annotations

from collections import Counter, defaultdict


def pagerank_oracle(
    edges: set[tuple[int, int]],
    vertices: set[int],
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
) -> tuple[dict[int, float], int]:
    """Synchronous power iteration, dangling mass redistributed —
    semantics identical to linkgraph.algos.pagerank."""
    n = len(vertices)
    out: dict[int, list[int]] = defaultdict(list)
    for s, d in edges:
        out[s].append(d)
    score = {v: 1.0 / n for v in vertices}
    it = 0
    while it < max_iter:
        dangling = sum(score[v] for v in vertices if not out[v])
        nxt = {v: (1 - damping) / n + damping * dangling / n for v in vertices}
        for u, targets in out.items():
            if not targets:
                continue
            share = score[u] / len(targets)
            for t in targets:
                nxt[t] += damping * share
        delta = max(abs(nxt[v] - score[v]) for v in vertices)
        score = nxt
        it += 1
        if delta <= tol:
            break
    return score, it


def components_oracle(edges: set[tuple[int, int]], vertices: set[int]) -> dict[int, int]:
    """Union-find; component id = min member id."""
    parent = {v: v for v in vertices}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min: dict[int, int] = {}
    for v in vertices:
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    return {v: comp_min[find(v)] for v in vertices}


def lpa_oracle(
    edges: set[tuple[int, int]], vertices: set[int], rounds: int
) -> dict[int, int]:
    """Synchronous LPA, min-label tie-break, over the simple undirected
    graph — semantics identical to linkgraph.algos.lpa."""
    nbrs: dict[int, set[int]] = defaultdict(set)
    for a, b in edges:
        if a != b:
            nbrs[a].add(b)
            nbrs[b].add(a)
    label = {v: v for v in vertices}
    for _ in range(rounds):
        nxt = {}
        changed = 0
        for v in vertices:
            if not nbrs[v]:
                nxt[v] = label[v]
                continue
            counts = Counter(label[u] for u in nbrs[v])
            best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            nxt[v] = best
            changed += best != label[v]
        label = nxt
        if changed == 0:
            break
    return label


def triangles_oracle(edges: set[tuple[int, int]]) -> tuple[int, dict[int, int]]:
    """Brute-force triangle count over the simple undirected graph."""
    nbrs: dict[int, set[int]] = defaultdict(set)
    for a, b in edges:
        if a != b:
            nbrs[a].add(b)
            nbrs[b].add(a)
    total = 0
    per_vertex: dict[int, int] = defaultdict(int)
    verts = sorted(nbrs)
    for v in verts:
        for u in nbrs[v]:
            if u <= v:
                continue
            common = nbrs[v] & nbrs[u]
            for w in common:
                if w > u:
                    total += 1
                    per_vertex[v] += 1
                    per_vertex[u] += 1
                    per_vertex[w] += 1
    return total, dict(per_vertex)


def minhash_oracle(text: str | None, coeffs: list[tuple[int, int]], k: int) -> list:
    """MinHash signature of ``text`` in Python ints, straight from the
    phash definitions: character k-shingles (code points; at least one
    shingle, positions past the end count as 0), char_hash, then the
    affine minima. Null text -> all-null signature."""
    from linkgraph.pipeline.phash import BASE, P

    if text is None:
        return [None] * len(coeffs)
    cps = [ord(c) for c in text] + [0] * k
    xs = [
        sum(cps[i + j] * pow(BASE, k - 1 - j, P) for j in range(k)) % P
        for i in range(max(len(text) - k + 1, 1))
    ]
    return [min((a * x + b) % P for x in xs) for a, b in coeffs]


def band_keys_oracle(sig: list[int], bands: int) -> list[int]:
    """phash.combine_sql's fold over each band's consecutive signature
    rows."""
    from linkgraph.pipeline.phash import COMBINE, P

    rows = len(sig) // bands
    keys = []
    for b in range(bands):
        acc = 0
        for v in sig[b * rows : (b + 1) * rows]:
            acc = (acc * COMBINE + v) % P
        keys.append(acc)
    return keys
