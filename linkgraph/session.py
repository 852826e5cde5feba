"""SparkSession factory + lightweight table catalog.

Mirrors the reference's session/catalog split (Catalog:
/root/reference/reasoner/lube-api/src/main/scala/com/antgroup/openspg/reasoner/lube/catalog/Catalog.scala;
session: /root/reference/reasoner/runner/runner-common/.../session/KGReasonerSession.scala)
but is idiomatic Spark: the "catalog" is just named parquet locations
registered as temp views; schema resolution, column pruning and
predicate pushdown are Catalyst's job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Standard benchmark tables the driver ships at /root/testdata/sf*/.
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def get_spark(
    app_name: str = "linkgraph",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a local SparkSession tuned for the linkgraph engine.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` (else ``*``).
    ``shuffle_partitions`` defaults to the core count (local mode:
    partitions ≈ cores, never the 200 default). On a real cluster the
    same code runs unmodified — only ``master`` and the partition
    count change (see bench/BASELINE.md scaling protocol).

    Note: ICU full case mapping is disabled session-wide (see the
    inline comment below) — ``lower``/``upper``/``initcap`` use JVM
    simple case mapping, which differs from ICU on a handful of
    non-ASCII code points (Turkish dotted İ, ligatures, final sigma).
    Pass ``extra_conf={"spark.sql.icu.caseMappings.enabled": "true"}``
    for corpora where those distinctions matter.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        if isinstance(cores, int) or (isinstance(cores, str) and cores.isdigit()):
            shuffle_partitions = max(int(cores), 4)
        else:
            shuffle_partitions = max(os.cpu_count() or 4, 4)
    if driver_memory is None:
        driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Spark 4 routes lower/upper/initcap through ICU full case mapping
        # by default; the first such call pays CollationAwareUTF8String's
        # static init (an ICU table build measured at 5 s cold and
        # 100-200 s single-threaded inside a busy JVM — thread-dump
        # verified, it serializes all 32 workers behind one class-init
        # lock). JVM simple case mapping is identical on ASCII corpora;
        # pass extra_conf={"spark.sql.icu.caseMappings.enabled": "true"}
        # per-session if an operator genuinely needs ICU semantics.
        .config("spark.sql.icu.caseMappings.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-provided parquet table (column-pruned by Catalyst)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
