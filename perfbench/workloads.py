"""The three benchmark workloads: inputs, oracles, operations and checks.

Each workload is a single client in a closed loop: it issues one
operation, waits for its result, checks it, then issues the next. A
*cycle* is one round of the workload's operation mix; the benchmark
always measures whole cycles.

Inputs are generated from the seed only. Oracles are computed outside
any timed phase and cached per seed under the work directory, so a
repeated seed skips them.
"""

from __future__ import annotations

import json
import math
import os
import random
import re
import shutil
from collections.abc import Callable
from contextlib import nullcontext
from dataclasses import dataclass

import numpy as np
import pandas as pd

# Sizes: the 70 runs of a benchmark round (22 per workload, plus 4) must
# fit in 3420 s, so a run, set-up and one cold cycle, averages under
# 49 s on a 4-core host even in its slow stretches.
ANALYTICS_VERTICES = 5_000
ANALYTICS_EDGES = 50_000
PAGERANK_ITERS = 10
LPA_ITERS = 4
CRAWL_PAGES = 1_000
CRAWL_PAGERANK_ITERS = 4
# sf0.01-shaped TPC-H tables: the row counts of the sf0.01 test set
TPCH_ROWS = {"lineitem": 60_000, "orders": 15_000, "customer": 1_500, "part": 2_000}
# 12 of the 20 driver queries: the first four GQL and KGDSL ones, both
# concept and two Thinker queries. The rest would push a run past the
# time a benchmark round allows; t1_thinker_reach alone takes 5-11 s cold.
REASONER_QUERIES = (
    "p1_gql_monotone", "p2_gql_varlen", "p3_gql_optional", "p4_gql_param_in_like",
    "k1_kgdsl_filter", "k2_kgdsl_define", "k3_kgdsl_ddl", "k4_kgdsl_finbench",
    "c1_concept_expand", "c2_concept_rule_file",
    "t2_thinker_concept_rule", "t3_thinker_priority",
)
QUERY_FAMILY = {"p": "gql", "k": "kgdsl", "c": "concept", "t": "thinker"}


class CheckFailed(Exception):
    """An operation returned a result that disagrees with its oracle."""


@dataclass
class Op:
    """One operation of a cycle: ``kind`` names it in the metrics."""

    kind: str
    run: Callable[[object], object]  # (tracer or None) -> result
    check: Callable[[object], None]  # raises CheckFailed


def _cached_json(path: str, compute, needs: str | None = None):
    """``compute()`` once per seed; ``needs`` is a file the computation
    also writes, whose absence invalidates the cache."""
    if os.path.exists(path) and (needs is None or os.path.exists(needs)):
        with open(path) as f:
            return json.load(f)
    value = compute()
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _span(tracer, name: str):
    return tracer.span(name) if tracer else nullcontext()


# ---------------------------------------------------------------------------
# analytics: the superstep kernels on a power-law graph
# ---------------------------------------------------------------------------


class Analytics:
    name = "analytics"

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.dir = os.path.join(work, "inputs", f"analytics-{seed}")
        self.edges = None
        self.pagerank_hash = None
        self.cc_supersteps: list[int] = []

    def prepare(self) -> dict:
        from linkgraph.datagen import bench_edges_pandas

        os.makedirs(self.dir, exist_ok=True)
        self.pdf = bench_edges_pandas(ANALYTICS_VERTICES, ANALYTICS_EDGES, self.seed)
        self.oracle = _cached_json(os.path.join(self.dir, "oracle.json"), self._oracle)
        return {"vertices": ANALYTICS_VERTICES, "edges": len(self.pdf)}

    def _oracle(self) -> dict:
        import networkx as nx

        g = nx.Graph()
        g.add_edges_from(zip(self.pdf["src"].tolist(), self.pdf["dst"].tolist()))
        g.remove_edges_from(nx.selfloop_edges(g))
        labels = {}
        for comp in nx.connected_components(g):
            root = min(comp)
            labels.update((v, root) for v in comp)
        return {
            "triangles": sum(nx.triangles(g).values()) // 3,
            "components": len(set(labels.values())),
            "labels": sorted(labels.items()),
            "pagerank": self._pagerank_reference().tolist(),
            "lpa": self._lpa_reference().tolist(),
        }

    def _pagerank_reference(self) -> np.ndarray:
        """PageRank by numpy power iteration, scores in vid order: every
        edge row sends score/out_degree, dangling mass spreads evenly."""
        vids, idx = np.unique(
            np.concatenate([self.pdf["src"], self.pdf["dst"]]), return_inverse=True
        )
        src, dst = idx[: len(self.pdf)], idx[len(self.pdf):]
        n, d = len(vids), 0.85
        outdeg = np.bincount(src, minlength=n).astype(float)
        score = np.full(n, 1.0 / n)
        for _ in range(PAGERANK_ITERS):
            contrib = np.divide(score, outdeg, out=np.zeros(n), where=outdeg > 0)
            msum = np.bincount(dst, weights=contrib[src], minlength=n)
            score = (1.0 - d) / n + d * score[outdeg == 0].sum() / n + d * msum
        return score

    def _lpa_reference(self) -> np.ndarray:
        """Synchronous label propagation, labels in vid order: on the
        undirected, de-duplicated edge set every vertex adopts its
        neighbours' most frequent label, ties to the smallest."""
        s, d = self.pdf["src"].to_numpy(), self.pdf["dst"].to_numpy()
        und = np.unique(np.stack([np.r_[s, d], np.r_[d, s]], axis=1), axis=0)
        vids, idx = np.unique(und, return_inverse=True)
        src, dst = idx.reshape(und.shape).T
        label = vids.copy()
        for _ in range(LPA_ITERS):
            counts = pd.DataFrame({"v": dst, "l": label[src]}).value_counts().reset_index()
            best = counts.sort_values(
                ["v", "count", "l"], ascending=[True, False, True]
            ).drop_duplicates("v")
            label = label.copy()
            label[best["v"].to_numpy()] = best["l"].to_numpy()
        return label

    def load(self, spark) -> None:
        self.edges = spark.createDataFrame(self.pdf, "src bigint, dst bigint").persist()
        self.edges.count()

    def cycle(self, rng: random.Random) -> list[Op]:
        from linkgraph.algos import connected_components, label_propagation, pagerank
        from linkgraph.algos.triangles import triangle_list

        def run_pagerank(tracer):
            res = pagerank(self.edges, max_iter=PAGERANK_ITERS, tol=None)
            pdf = res.state.select("vid", "score").toPandas()
            return res, pdf

        def check_pagerank(out):
            res, pdf = out
            pdf = pdf.sort_values("vid", ignore_index=True)
            _require(
                len(pdf) == len(self.oracle["labels"]),
                f"pagerank: {len(pdf)} vertices, expected {len(self.oracle['labels'])}",
            )
            total = math.fsum(pdf["score"].tolist())
            _require(abs(total - 1.0) < 1e-9, f"pagerank: scores sum to {total!r}")
            gap = float(np.max(np.abs(pdf["score"].to_numpy() - self.oracle["pagerank"])))
            _require(gap < 1e-12, f"pagerank: {gap:.3g} from the numpy power iteration")
            # bitwise equality across calls: checked from a run's second call on
            h = hash(pdf["score"].to_numpy().tobytes())
            if self.pagerank_hash is None:
                self.pagerank_hash = h
            _require(h == self.pagerank_hash, "pagerank: scores differ between calls")

        def run_cc(tracer):
            res = connected_components(self.edges)
            return res, res.state.select("vid", "component").toPandas()

        def check_cc(out):
            res, pdf = out
            got = sorted(zip(pdf["vid"].tolist(), pdf["component"].tolist()))
            want = [tuple(x) for x in self.oracle["labels"]]
            _require(got == want, "cc: component labels differ from networkx")
            self.cc_supersteps.append(res.iterations)

        def run_lpa(tracer):
            res = label_propagation(self.edges, max_iter=LPA_ITERS)
            return res.state.select("vid", "label").toPandas()

        def check_lpa(pdf):
            pdf = pdf.sort_values("vid", ignore_index=True)
            _require(len(pdf) == len(self.oracle["lpa"]), "lpa: vertex count")
            _require(
                pdf["label"].tolist() == self.oracle["lpa"],
                "lpa: labels differ from the numpy reference",
            )

        def run_triangles(tracer):
            return triangle_list(self.edges).count()

        def check_triangles(n):
            want = self.oracle["triangles"]
            _require(n == want, f"triangles: {n}, networkx counts {want}")

        return [
            Op("pagerank", run_pagerank, check_pagerank),
            Op("cc", run_cc, check_cc),
            Op("lpa", run_lpa, check_lpa),
            Op("triangles", run_triangles, check_triangles),
        ]

    def extra(self) -> dict:
        return {
            "pagerank_edges": len(self.pdf),
            "cc_supersteps": float(np.median(self.cc_supersteps)) if self.cc_supersteps else 0.0,
        }


# ---------------------------------------------------------------------------
# crawl_pipeline: pages -> extract -> normalize -> PageRank -> dedup
# ---------------------------------------------------------------------------


class CrawlPipeline:
    name = "crawl_pipeline"

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.dir = os.path.join(work, "inputs", f"crawl-{seed}")
        self.pages_dir = os.path.join(self.dir, "pages")
        self.out_root = os.path.join(work, "crawl-out")
        self.passes = 0
        self.stage_rows: dict[str, list[int]] = {}

    def prepare(self) -> dict:
        def oracle():
            import pyarrow.parquet as pq

            from linkgraph.datagen import write_pages_parquet

            plan = write_pages_parquet(self.pages_dir, n=CRAWL_PAGES, seed=self.seed)
            pages = pq.read_table(self.pages_dir, columns=["url", "text"]).to_pydict()
            text = dict(zip(pages["url"], pages["text"]))
            sure, possible = near_duplicates(text)
            return {
                "text": text,
                "edges": sorted(plan.edge_urls()),
                "dup_sure": sure,
                "dup_possible": possible,
            }

        os.makedirs(self.dir, exist_ok=True)
        shutil.rmtree(self.out_root, ignore_errors=True)  # a killed run's outputs
        self.oracle = _cached_json(
            os.path.join(self.dir, "oracle.json"),
            oracle,
            needs=os.path.join(self.pages_dir, "pages.parquet"),
        )
        for k in ("edges", "dup_sure", "dup_possible"):
            self.oracle[k] = {tuple(e) for e in self.oracle[k]}
        return {"pages": CRAWL_PAGES, "pagerank_iters": CRAWL_PAGERANK_ITERS}

    def load(self, spark) -> None:
        self.spark = spark
        spark.read.parquet(self.pages_dir).count()

    def cycle(self, rng: random.Random) -> list[Op]:
        from jobs.pipeline_job import run_pipeline

        def run(tracer):
            self.passes += 1
            out = os.path.join(self.out_root, f"pass-{self.passes}")
            manifest = run_pipeline(
                self.spark, self.pages_dir, out, pagerank_iters=CRAWL_PAGERANK_ITERS
            )
            if tracer:
                from tracing import add_stage_spans

                add_stage_spans(tracer, tracer.spans[tracer.stack[-1]], manifest)
            return out, manifest

        return [Op("pass", run, self._check)]

    def _check(self, result) -> None:
        import pyarrow.parquet as pq

        out, manifest = result
        _require(
            set(manifest["completed"]) == {
                "extract", "normalize", "host_graph", "pagerank", "dedup", "resolve"
            },
            f"pipeline: stages {sorted(manifest['completed'])}",
        )
        for stage, m in manifest["completed"].items():
            self.stage_rows.setdefault(stage, []).append(m["rows"])
        text = pq.read_table(f"{out}/text").to_pydict()
        got = dict(zip(text["url"], text["text"]))
        _require(got == self.oracle["text"], "extract: text differs from datagen's frozen text")
        canon = pq.read_table(f"{out}/canon_edges", columns=["src_url", "dst_url"]).to_pydict()
        edges = set(zip(canon["src_url"], canon["dst_url"]))
        _require(
            edges == self.oracle["edges"],
            f"normalize: {len(edges)} canonical edges, plan has {len(self.oracle['edges'])}",
        )
        dd = pq.read_table(f"{out}/dedup_pairs", columns=["a", "b"]).to_pydict()
        pairs = set(zip(dd["a"], dd["b"]))
        _require(
            self.oracle["dup_sure"] <= pairs <= self.oracle["dup_possible"],
            f"dedup: {len(pairs)} pairs, exact Jaccard allows "
            f"{len(self.oracle['dup_sure'])}..{len(self.oracle['dup_possible'])}",
        )
        cd = pq.read_table(f"{out}/canonical_docs", columns=["url", "canonical_id"]).to_pydict()
        _require(
            dict(zip(cd["url"], cd["canonical_id"])) == cluster_min(self.oracle["text"], pairs),
            "resolve: canonical ids are not the minimum url of each pair cluster",
        )
        shutil.rmtree(out)

    def extra(self) -> dict:
        rows = {k: float(np.median(v)) for k, v in self.stage_rows.items()}
        return {"pagerank_edges": rows.get("normalize", 0.0), "dedup_pairs": rows.get("dedup", 0.0)}


def near_duplicates(text: dict[str, str]) -> tuple[list, list]:
    """Exact Jaccard of the character 5-shingles dedup.minhash_lsh_pairs
    estimates with 64 MinHashes (threshold 0.6), over all page pairs
    (a, b), a < b. Returns the pairs the LSH must find (Jaccard >= 0.9:
    missed by all 16 bands with odds below 1e-7) and the pairs it may
    report (Jaccard >= 0.3: below that, 38 of 64 MinHashes agreeing is
    out of reach). On generated pages the largest is about 0.4, so the
    LSH reports no pairs and resolve runs on an empty pair set."""
    urls = sorted(text)
    vocab: dict[str, int] = {}
    rows = []
    for u in urls:
        s = re.sub(r"\s+", " ", text[u].lower())
        rows.append([vocab.setdefault(s[i:i + 5], len(vocab)) for i in range(max(len(s) - 4, 1))])
    m = np.zeros((len(urls), len(vocab)), dtype=np.float32)
    for i, r in enumerate(rows):
        m[i, r] = 1.0
    inter = m @ m.T
    size = m.sum(axis=1)
    jac = np.triu(inter / (size[:, None] + size[None, :] - inter), k=1)
    return tuple(
        [[urls[i], urls[j]] for i, j in zip(*np.nonzero(jac >= t))] for t in (0.9, 0.3)
    )


def cluster_min(text: dict[str, str], pairs: set) -> dict[str, str]:
    """Every url mapped to the smallest url of its connected component
    in the pair graph: what dedup.near_dedup must return."""
    parent = {u: u for u in text}

    def find(u):
        while parent[u] != u:
            u = parent[u]
        return u

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {u: find(u) for u in text}


# ---------------------------------------------------------------------------
# reasoner_queries: the GQL / KGDSL / concept / Thinker driver queries
# ---------------------------------------------------------------------------


def write_tpch(path: str, seed: int) -> None:
    """sf0.01-shaped TPC-H tables with the columns the reasoner queries
    read, drawn from ``seed``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = TPCH_ROWS
    day0 = np.datetime64("1995-01-02", "us")
    tables = {
        "lineitem": {
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
            "l_shipdate": day0
            + rng.integers(0, 2500, n["lineitem"]).astype("timedelta64[D]"),
        },
        "orders": {
            "o_orderkey": np.arange(n["orders"]),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_totalprice": np.round(rng.uniform(1_000, 500_000, n["orders"]), 2),
        },
        "customer": {
            "c_custkey": np.arange(n["customer"]),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_acctbal": np.round(rng.uniform(-999.99, 9_999.99, n["customer"]), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n["customer"],
            ),
        },
        "part": {
            "p_partkey": np.arange(n["part"]),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        },
    }
    os.makedirs(path, exist_ok=True)
    for name, cols in tables.items():
        table = pa.table({k: pa.array(v) for k, v in cols.items()})
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))


def canon_rows(pdf: pd.DataFrame) -> list[list[str]]:
    """Order-insensitive, type-tolerant form of a result table: the
    canonicalization tools/check_oracle.py compares with."""
    cols = sorted(pdf.columns)
    out = []
    for row in pdf.to_dict("records"):
        vals = []
        for c in cols:
            v = row[c]
            if isinstance(v, float):
                v = "nan" if math.isnan(v) else f"{v:.10g}"
            vals.append(str(v))
        out.append(vals)
    return [cols] + sorted(out)


class ReasonerQueries:
    name = "reasoner_queries"

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.dir = os.path.join(work, "inputs", f"reasoner-{seed}")

    def prepare(self) -> dict:
        def oracle():
            import duckdb

            import __spark_entry__ as entry

            write_tpch(self.dir, self.seed)
            sql = entry.oracle_sql()
            con = duckdb.connect()
            try:
                for t in TPCH_ROWS:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.dir}/{t}.parquet')"
                    )
                return {q: canon_rows(con.execute(sql[q]).fetchdf()) for q in REASONER_QUERIES}
            finally:
                con.close()

        os.makedirs(self.dir, exist_ok=True)
        self.oracle = _cached_json(
            os.path.join(self.dir, "oracle.json"),
            oracle,
            needs=os.path.join(self.dir, "lineitem.parquet"),
        )
        return {"tables": dict(TPCH_ROWS), "queries": len(REASONER_QUERIES)}

    def load(self, spark) -> None:
        from linkgraph.session import load_table

        self.spark = spark
        for t in TPCH_ROWS:
            load_table(spark, self.dir, t).count()

    def cycle(self, rng: random.Random) -> list[Op]:
        import __spark_entry__ as entry

        fns = entry.queries()
        order = list(REASONER_QUERIES)
        rng.shuffle(order)

        def make(name):
            def run(tracer):
                with _span(tracer, "build"):
                    df = fns[name](self.spark, self.dir)
                with _span(tracer, "collect"):
                    return df.toPandas()

            def check(pdf):
                got, want = canon_rows(pdf), self.oracle[name]
                _require(got[0] == want[0], f"{name}: columns {got[0]} vs {want[0]}")
                _require(len(got) == len(want), f"{name}: {len(got) - 1} rows vs {len(want) - 1}")
                _require(got == want, f"{name}: values differ from the DuckDB oracle")

            return Op(name, run, check)

        return [make(q) for q in order]

    def extra(self) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (Analytics, CrawlPipeline, ReasonerQueries)}
