"""URL canonicalization + graph normalization (vertex/edge table builders).

Reference parity:
  * url canonicalization = the builder's linking stage
    (/root/reference/builder/core/src/main/java/com/antgroup/openspg/builder/core/strategy/linking/impl/IdEqualsLinking.java
    and BasicPropertyLinking.java — records are linked to vertices by a
    normalized business id).
  * 64-bit hashed ids mirror the reference's VertexId scheme (biz id ->
    hash64: /root/reference/reasoner/common/src/main/java/com/antgroup/openspg/reasoner/common/graph/vertex/impl/VertexId.java:30-32,
    Utils.hash64 at .../common/Utils.java:218-222) — we use xxhash64.
  * the hash-partitioned edge table is the Spark analog of the
    warehouse partitioner (/root/reference/reasoner/warehouse/warehouse-common/.../partition/BasePartitioner.java).

Scale notes (100 TB design):
  * contiguous-id assignment avoids a global single-partition window:
    range-repartition by key, sort within partitions, add per-partition
    offsets (one tiny driver-side collect of partition sizes). This is
    the DataFrame equivalent of zipWithIndex and scales linearly.
  * dedup computations are plain shuffles on the key they need;
    Spark's map-side partial aggregation collapses high-degree
    (power-law) keys to one row per partition before the exchange.
"""

from __future__ import annotations

import posixpath
from collections.abc import Iterator
from contextlib import contextmanager
from urllib.parse import urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_DEFAULT_PORTS = {"http": "80", "https": "443"}


def canonicalize_url(url: str) -> str:
    """Canonical form of an absolute http(s) URL. Pure + deterministic.

    Spec (frozen): lowercase scheme+host; strip default port; drop
    fragment; resolve '.'/'..' path segments; empty path -> '/'; strip
    trailing slash except root; drop a bare trailing '?'; query kept
    verbatim otherwise.
    """
    try:
        parts = urlsplit(url.strip())
    except ValueError:
        return url.strip()
    scheme = parts.scheme.lower()
    host = (parts.hostname or "").lower()
    port = parts.port
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme, ""):
        netloc = f"{host}:{port}"
    path = parts.path or "/"
    # resolve dot segments deterministically
    norm = posixpath.normpath(path)
    if path.endswith("/") and not norm.endswith("/"):
        norm += "/"
    if norm in (".", "//"):
        norm = "/"
    if norm.endswith("/") and norm != "/":
        norm = norm.rstrip("/")
    return urlunsplit((scheme, netloc, norm, parts.query, ""))


@F.pandas_udf(T.StringType())
def canonicalize_url_udf(urls: pd.Series) -> pd.Series:  # pragma: no cover
    return urls.map(lambda u: canonicalize_url(u) if u is not None else None)


def canonical_edges(raw_edges: DataFrame) -> DataFrame:
    """(src_url, dst_url, anchor) -> canonicalized, self-loop/dup-free.

    Duplicate links keep the first anchor (min) so output is
    deterministic regardless of task order.
    """
    e = raw_edges.select(
        canonicalize_url_udf("src_url").alias("src_url"),
        canonicalize_url_udf("dst_url").alias("dst_url"),
        "anchor",
    ).where(F.col("src_url") != F.col("dst_url"))
    return e.groupBy("src_url", "dst_url").agg(F.min("anchor").alias("anchor"))


def assign_contiguous_ids(df: DataFrame, key: str, id_col: str = "vid") -> DataFrame:
    """``(id_col, *df.columns)`` with contiguous 0..N-1 ids ordered by
    ``key`` — scalably. The result comes back cached and filled; the
    caller unpersists it.

    No global window (which would funnel all rows through one task):
    range-partition on key, sort within partitions, then add the
    cumulative partition offsets computed from per-partition counts (a
    tiny driver-side array). Deterministic: id == rank of key.
    """
    num_partitions = df.sparkSession.sparkContext.defaultParallelism
    parted = df.repartitionByRange(num_partitions, F.col(key)).sortWithinPartitions(key)
    parted = parted.persist()
    try:
        sizes = (
            parted.select(F.spark_partition_id().alias("pid"))
            .groupBy("pid")
            .count()
            .collect()
        )
        counts = {r["pid"]: r["count"] for r in sizes}
        offsets = []
        acc = 0
        for pid in range(num_partitions):
            offsets.append(acc)
            acc += counts.get(pid, 0)

        def _add_ids(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            base = offsets[pid]
            seen = 0
            for pdf in pdfs:
                pdf = pdf.copy()
                pdf[id_col] = range(base + seen, base + seen + len(pdf))
                seen += len(pdf)
                yield pdf

        schema = T.StructType([T.StructField(id_col, T.LongType()), *parted.schema])
        result = parted.mapInPandas(_add_ids, schema).persist()
        try:
            result.count()  # filled before the cache it reads goes
        except BaseException:
            result.unpersist()
            raise
        return result
    finally:
        parted.unpersist()


def build_vertices(edges_urls: DataFrame) -> DataFrame:
    """Distinct canonical urls -> vertices(vid, url, url_hash), cached
    and filled (see ``assign_contiguous_ids``).

    ``url_hash`` is the reference-style 64-bit hashed business id
    (VertexId.java:30-32 analog via xxhash64); ``vid`` is the contiguous
    id used by the iterative algorithms.
    """
    urls = (
        edges_urls.select(F.col("src_url").alias("url"))
        .unionAll(edges_urls.select(F.col("dst_url").alias("url")))
        .distinct()
    )
    return assign_contiguous_ids(
        urls.select("url", F.xxhash64("url").alias("url_hash")), "url", "vid"
    )


def build_edges(
    canonical: DataFrame, vertices: DataFrame, num_buckets: int | None = None
) -> DataFrame:
    """Canonical url edges -> (src, dst, anchor) long-id edge table.

    Hash-partitioned by ``src`` (the warehouse partitioner analog) so the
    per-iteration frontier join in pregel.py reuses the partitioning and
    only the message aggregation shuffles.
    """
    v = vertices.select("vid", "url")
    e = (
        canonical.join(
            v.withColumnRenamed("url", "src_url").withColumnRenamed("vid", "src"),
            "src_url",
        )
        .join(
            v.withColumnRenamed("url", "dst_url").withColumnRenamed("vid", "dst"),
            "dst_url",
        )
        .select("src", "dst", "anchor")
    )
    if num_buckets is None:
        num_buckets = canonical.sparkSession.sparkContext.defaultParallelism
    return e.repartition(num_buckets, "src")


@contextmanager
def normalize_graph(
    raw_edges: DataFrame, num_buckets: int | None = None
) -> Iterator[tuple[DataFrame, DataFrame, DataFrame]]:
    """Raw url links -> ``(canon, vertices, edges)`` for a ``with`` block:
    ``canonical_edges``, ``build_vertices`` and ``build_edges`` (hashed
    into ``num_buckets``). ``canon`` and ``vertices`` are cached for the
    block, since both edge joins and the caller read them, and released
    when it exits, on error too.
    """
    canon = canonical_edges(raw_edges).persist()
    vertices = None
    try:
        vertices = build_vertices(canon)
        yield canon, vertices, build_edges(canon, vertices, num_buckets)
    finally:
        canon.unpersist()
        if vertices is not None:
            vertices.unpersist()


def host_of(url_col) -> "F.Column":
    """Registered host of a canonical url (scheme://host/...)."""
    return F.regexp_extract(url_col, r"^[a-z][a-z0-9+.-]*://([^/]+)", 1)


def host_graph(edges_urls: DataFrame) -> DataFrame:
    """Collapse the page-level link graph to the HOST graph:
    (src_host, dst_host, weight) with weight = number of page-level
    links, self-host edges dropped — the standard web-graph rollup
    (host-level PageRank/CC run orders of magnitude faster and feed
    per-site quality signals back to page-level filtering).

    Input: (src_url, dst_url, ...) canonical url edges. One groupBy on
    two short host strings — at 100 TB the rollup output is millions of
    rows, not billions."""
    h = edges_urls.select(
        host_of(F.col("src_url")).alias("src_host"),
        host_of(F.col("dst_url")).alias("dst_host"),
    ).where(
        (F.col("src_host") != F.col("dst_host"))
        # regex-miss urls (relative/malformed pass canonicalize_url
        # verbatim) yield '' — drop them, never aggregate under a
        # phantom empty host
        & (F.col("src_host") != "")
        & (F.col("dst_host") != "")
    )
    return h.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).alias("weight")
    )
