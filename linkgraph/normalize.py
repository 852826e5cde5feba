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
  * dedup/degree computations are plain shuffles on the key they need;
    Spark's map-side partial aggregation collapses high-degree
    (power-law) keys to one row per partition before the exchange.
"""

from __future__ import annotations

import posixpath
from collections.abc import Iterator
from urllib.parse import urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


from pyspark.sql import types as _T  # noqa: E402


@F.pandas_udf(_T.StringType())
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


def assign_contiguous_ids(
    df: DataFrame, key: str, id_col: str = "vid", num_partitions: int | None = None
) -> DataFrame:
    """Assign contiguous 0..N-1 ids ordered by ``key`` — scalably.

    No global window (which would funnel all rows through one task):
    range-partition on key, sort within partitions, then add the
    cumulative partition offsets computed from per-partition counts (a
    tiny driver-side array). Deterministic: id == rank of key.
    """
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    parted = df.repartitionByRange(num_partitions, F.col(key)).sortWithinPartitions(key)
    parted = parted.persist()
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

    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in parted.schema.fields
    )
    out_schema += f", `{id_col}` bigint"

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

    result = parted.mapInPandas(_add_ids, out_schema)
    return result


def build_vertices(edges_urls: DataFrame) -> DataFrame:
    """Distinct canonical urls -> vertices(vid, url, url_hash).

    ``url_hash`` is the reference-style 64-bit hashed business id
    (VertexId.java:30-32 analog via xxhash64); ``vid`` is the contiguous
    id used by the iterative algorithms.
    """
    urls = (
        edges_urls.select(F.col("src_url").alias("url"))
        .unionAll(edges_urls.select(F.col("dst_url").alias("url")))
        .distinct()
    )
    verts = assign_contiguous_ids(urls, "url", "vid")
    return verts.select("vid", "url", F.xxhash64("url").alias("url_hash"))


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


def degrees(edges: DataFrame) -> DataFrame:
    """(vid, degree) — undirected degree over the simple graph."""
    und = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return und.distinct().groupBy(F.col("src").alias("vid")).agg(
        F.count(F.lit(1)).alias("degree")
    )


def normalize_graph(
    raw_edges: DataFrame, all_urls: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """Full normalization: raw url links -> (vertices, edges).

    ``all_urls`` (a one-column ``url`` frame, e.g. ``pages.select("url")``)
    additionally registers pages nobody links to/from as isolated
    vertices — singleton components for CC/LPA (FIXTURES.md §2).
    """
    canon = canonical_edges(raw_edges)
    if all_urls is not None:
        extra = all_urls.select(canonicalize_url_udf("url").alias("url"))
        urls = (
            canon.select(F.col("src_url").alias("url"))
            .unionAll(canon.select(F.col("dst_url").alias("url")))
            .unionAll(extra)
            .distinct()
        )
        vertices = assign_contiguous_ids(urls, "url", "vid").select(
            "vid", "url", F.xxhash64("url").alias("url_hash")
        ).persist()
    else:
        vertices = build_vertices(canon).persist()
    vertices.count()  # materialize once; reused by both joins below
    edges = build_edges(canon, vertices)
    return vertices, edges


def latest_snapshot(
    pages: DataFrame,
    key_col: str = "url",
    version_col: str = "warc_ts",
    as_of=None,
) -> DataFrame:
    """Latest version of each page at-or-before ``as_of`` (``None`` =
    latest overall) — multi-version property semantics (KTMultiVersion,
    /root/reference/reasoner/lube-api/src/main/scala/com/antgroup/openspg/reasoner/common/types/KgType.scala:72;
    VertexVersionProperty.java:30): a crawl corpus carries many
    (url, warc_ts) captures; a graph build reads one consistent snapshot.

    One window over (key, version desc) — a single shuffle by key; feed
    the result to ``normalize_graph(extracted_edges(...))`` for an
    as-of-timestamp graph build.
    """
    from pyspark.sql import Window

    df = pages if as_of is None else pages.where(F.col(version_col) <= F.lit(as_of))
    w = Window.partitionBy(key_col).orderBy(F.col(version_col).desc())
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .where(F.col("__rn__") == 1)
        .drop("__rn__")
    )


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
