"""Deterministic synthetic Common-Crawl-style pages + link graphs.

Implements the FIXTURES.md schemas: a pages table
(url, warc_ts, html, text, lang) whose HTML induces a known graph with
  * power-law out-degree + one hot vertex (~25% of in-edges)
  * ≥3 components of very different sizes (giant / medium / pairs /
    isolated singletons)
  * dangling vertices (out_degree 0)
  * an embedded K6 clique (20 known triangles)
  * self-links + duplicate links + url variants (canonicalization work)

Everything is seeded ``random.Random`` / fixed arithmetic — bytes are
identical across runs and platforms. The ``text`` column is the frozen
expected extraction output, built from the same parts the HTML is
assembled from (extract.extract_text must reproduce it byte-identically).

Analog of the reference's hand-built fixture graphs
(/root/reference/reasoner/runner/local-runner/src/test/java/com/antgroup/openspg/reasoner/runner/local/loader/TestFundGraphLoader.java,
DemoGraphParser DSL graphs) scaled up for statistical algorithms.
"""

from __future__ import annotations

import datetime as _dt
import random
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

_WORDS = (
    "web crawl graph page link rank data spark node edge table query "
    "batch shuffle join merge sort hash scan index store stream text "
    "token vector score label part order key value fast slow small large"
).split()

_LANGS = ["en"] * 8 + ["de", "es"]


@dataclass
class GraphPlan:
    n: int
    seed: int
    out_links: dict[int, list[int]] = field(default_factory=dict)  # vid -> targets
    hot: int = 1
    k6: tuple[int, ...] = ()
    giant: range = range(0)
    medium: range = range(0)
    pairs: range = range(0)
    singles: range = range(0)

    def url(self, v: int) -> str:
        return f"https://www.example.com/p/{v:06d}"

    def edge_urls(self) -> set[tuple[str, str]]:
        """Expected canonical (src_url, dst_url) set after normalization."""
        out = set()
        for v, targets in self.out_links.items():
            for t in targets:
                if t != v:
                    out.add((self.url(v), self.url(t)))
        return out

    def edge_vids(self) -> set[tuple[int, int]]:
        return {
            (v, t)
            for v, ts in self.out_links.items()
            for t in ts
            if t != v
        }


def plan_graph(n: int = 5000, seed: int = 42) -> GraphPlan:
    """Plan the deterministic link structure (no HTML yet)."""
    assert n >= 40, "graph plan needs at least 40 pages"
    rng = random.Random(seed)
    plan = GraphPlan(n=n, seed=seed)
    n_single = max(2, n // 50)
    n_pairs = max(4, int(n * 0.04) // 2 * 2)
    n_medium = max(8, int(n * 0.10))
    g_end = n - n_single - n_pairs - n_medium
    assert g_end >= 20, "giant component too small"
    m_end = g_end + n_medium
    p_end = m_end + n_pairs
    plan.giant = range(0, g_end)
    plan.medium = range(g_end, m_end)
    plan.pairs = range(m_end, p_end)
    plan.singles = range(p_end, n)
    plan.k6 = tuple(range(10, 16))
    out: dict[int, list[int]] = {v: [] for v in range(n)}

    def grow_component(rng_, members: range, hot: int | None):
        lo, hi = members.start, members.stop
        # dangling members: no out-links (never the root, never the hot vertex)
        dangling = {v for v in members if v != lo and v != hot and v % 37 == 0}
        for v in members:
            if v > lo:
                # spanning in-edge from an earlier non-dangling member
                while True:
                    u = rng_.randrange(lo, v)
                    if u not in dangling:
                        break
                out[u].append(v)
            if v in dangling:
                continue
            # Zipf-ish out-degree, capped
            k = min(int(rng_.paretovariate(1.3)), 20)
            for _ in range(k):
                if hot is not None and rng_.random() < 0.25:
                    t = hot
                else:
                    t = rng_.randrange(lo, hi)
                if t != v:
                    out[v].append(t)

    grow_component(rng, plan.giant, plan.hot)
    grow_component(rng, plan.medium, None)
    for v in plan.pairs:
        if (v - plan.pairs.start) % 2 == 0:
            out[v].append(v + 1)
    # K6 clique (lower -> higher orientation): C(6,3)=20 triangles
    for i, a in enumerate(plan.k6):
        for b in plan.k6[i + 1 :]:
            out[a].append(b)
    # dedup targets, keep order-of-first-occurrence for determinism
    for v in range(n):
        seen: dict[int, None] = {}
        for t in out[v]:
            seen.setdefault(t, None)
        out[v] = list(seen)
    plan.out_links = out
    return plan


def _variant(url: str, rng: random.Random) -> str:
    """A non-canonical form that canonicalizes back to ``url``."""
    choice = rng.randrange(6)
    if choice == 0:
        return url + "#frag-" + str(rng.randrange(100))
    if choice == 1:
        return url.replace("https://", "HTTPS://", 1)
    if choice == 2:
        return url.replace("www.example.com", "WWW.EXAMPLE.COM", 1)
    if choice == 3:
        return url.replace("www.example.com", "www.example.com:443", 1)
    if choice == 4:
        return url.replace("/p/", "/p/./", 1)
    # relative form (same host)
    return url.split("www.example.com", 1)[1]


def _sentence(rng: random.Random, nwords: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(nwords))


def page_record(plan: GraphPlan, v: int) -> tuple[str, _dt.datetime, bytes, str, str]:
    """Build one page: (url, warc_ts, html, expected_text, lang)."""
    rng = random.Random((plan.seed << 20) ^ v)
    url = plan.url(v)
    title = f"Page {v:06d}"
    h1 = f"Heading {v:06d} {_sentence(rng, 3)}"
    paras = [_sentence(rng, rng.randrange(5, 14)) for _ in range(rng.randrange(1, 4))]
    paras.append(f"Tom & Jerry {_sentence(rng, 4)}")  # entity round-trip

    targets = plan.out_links.get(v, [])
    anchors = [f"link to {t:06d}" for t in targets]
    hrefs = [_variant(plan.url(t), rng) for t in targets]
    # duplicate + self link noise (removed by normalization)
    if targets and rng.random() < 0.5:
        hrefs.append(plan.url(targets[0]))
        anchors.append(f"dup link to {targets[0]:06d}")
    if rng.random() < 0.3:
        hrefs.append(_variant(url, rng))
        anchors.append("self")

    html_parts = [
        "<html><head>",
        f"<title>{title}</title>",
        "<style>body { color: black; }</style>",
        "<script>var x = 1 < 2;</script>",
        "</head><body>",
        f"<h1>{h1}</h1>",
        "<!-- generated -->",
    ]
    for p in paras:
        html_parts.append(f"<p>{p.replace('&', '&amp;')}</p>")
    html_parts.append("<ul>")
    for href, anchor in zip(hrefs, anchors):
        html_parts.append(f'<li><a href="{href}">{anchor}</a></li>')
    html_parts.append("</ul>")
    html_parts.append(f"<div>Footer &amp; copyright {v:06d}</div>")
    html_parts.append("</body></html>")
    html = "".join(html_parts).encode("utf-8")

    text_lines = [h1, *paras, *anchors, f"Footer & copyright {v:06d}"]
    text = "\n".join(text_lines)
    warc_ts = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc) + _dt.timedelta(
        minutes=v
    )
    lang = rng.choice(_LANGS)
    return url, warc_ts, html, text, lang


def pages_pandas(n: int = 5000, seed: int = 42) -> tuple[pd.DataFrame, GraphPlan]:
    """The full pages table as pandas (Arrow-friendly) + its plan."""
    plan = plan_graph(n, seed)
    rows = [page_record(plan, v) for v in range(n)]
    df = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    return df, plan


def write_pages_parquet(path: str, n: int = 5000, seed: int = 42) -> GraphPlan:
    """Write the pages table as Spark-readable parquet (microsecond
    timestamps — Spark rejects pandas' default nanosecond TIMESTAMP)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf, plan = pages_pandas(n, seed)
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(pdf),
        os.path.join(path, "pages.parquet"),
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
    )
    return plan


def pages_spark(spark, n: int = 5000, seed: int = 42):
    """pages as a Spark DataFrame with the FIXTURES.md §1 schema."""
    pdf, plan = pages_pandas(n, seed)
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    return spark.createDataFrame(pdf, schema=schema), plan


# ---------------------------------------------------------------------------
# Direct edge-table generator for benchmarks (no HTML, vectorized numpy)
# ---------------------------------------------------------------------------


def bench_edges_pandas(
    n_vertices: int,
    n_edges: int,
    seed: int = 42,
    hot_in_fraction: float = 0.1,
    zipf_a: float = 1.5,
    dedup: bool = False,
) -> pd.DataFrame:
    """Power-law (src, dst) edge table: Zipf-ranked sources, one hot
    destination receiving ``hot_in_fraction`` of edges. Deterministic.

    With ``dedup=False`` (default) returns exactly ``n_edges`` rows (a
    multigraph — fine for throughput benching and still deterministic);
    ``dedup=True`` gives a simple graph with fewer rows."""
    rng = np.random.default_rng(seed)
    src = rng.zipf(zipf_a, size=int(n_edges * 1.05) + 16) % n_vertices
    dst = rng.integers(0, n_vertices, size=src.size)
    hot_mask = rng.random(src.size) < hot_in_fraction
    dst = np.where(hot_mask, 1, dst)
    keep = src != dst
    df = pd.DataFrame(
        {"src": src[keep].astype("int64"), "dst": dst[keep].astype("int64")}
    )
    if dedup:
        return df.drop_duplicates(ignore_index=True)
    return df.iloc[:n_edges].reset_index(drop=True)

