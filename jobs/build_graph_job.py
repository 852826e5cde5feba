"""spark-submit entry point: pages parquet -> extracted text + normalized
link graph (vertices/edges parquet).

This is the reference's builder pipeline (source -> extract -> mapping ->
link -> fuse -> sink, /root/reference/builder/runner/local/src/main/java/com/antgroup/openspg/builder/runner/local/LocalBuilderRunner.java:92-125)
as one declarative Spark job:

    spark-submit --py-files linkgraph.zip jobs/build_graph_job.py \\
        --pages /path/pages --out /path/graph

Outputs: <out>/text/ (url, text), <out>/vertices/ (vid, url, url_hash),
<out>/edges/ (src, dst, anchor) hash-partitioned by src. Prints one JSON
line of counts (the BuilderMetric analog).
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--pages", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--buckets", type=int, default=None, help="edge output partitions")
    args = p.parse_args()

    spark = SparkSession.builder.appName("linkgraph-build-graph").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from linkgraph.extract import extract_pages
    from linkgraph.normalize import build_edges, build_vertices, canonical_edges
    from linkgraph.tables import committed_rows

    t0 = time.monotonic()
    pages = spark.read.parquet(args.pages)
    extracted = extract_pages(pages).persist()

    text = extracted.select("url", "text")
    text.write.mode("overwrite").parquet(f"{args.out}/text")

    from pyspark.sql import functions as F

    raw_edges = extracted.select(
        F.col("url").alias("src_url"), F.explode("links").alias("link")
    ).select(
        "src_url",
        F.col("link.href").alias("dst_url"),
        F.col("link.anchor").alias("anchor"),
    )
    canon = canonical_edges(raw_edges).persist()
    vertices = build_vertices(canon).persist()
    vertices.count()
    edges = build_edges(canon, vertices, num_buckets=args.buckets)
    vertices.write.mode("overwrite").parquet(f"{args.out}/vertices")
    edges.write.mode("overwrite").parquet(f"{args.out}/edges")

    print(
        json.dumps(
            {
                "pages": pages.count(),
                "vertices": vertices.count(),
                "edges": committed_rows(f"{args.out}/edges"),
                "wall_s": round(time.monotonic() - t0, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
