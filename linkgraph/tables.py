"""Table-format abstraction: Iceberg when the runtime jars are present,
plain parquet directories otherwise — same interface, same plan shapes.

The north-rule deployment reads/writes Iceberg tables (snapshot-append
checkpoints, MERGE upserts — the reference's graph-store sink,
/root/reference/builder/runner/local/.../physical/sink/impl/GraphStoreSinkWriter.java).
This container ships no Iceberg runtime jar, so the parquet store is the
default and the Iceberg branch is config-gated: point
``spark.sql.catalog.<name>`` at an Iceberg catalog (jars on the
classpath) and every call below switches to real Iceberg tables without
touching caller code.

Upsert semantics in the parquet fallback are emulated with
anti-join + union + atomic directory swap — the standard jar-free MERGE
emulation; on Iceberg it is a genuine ``MERGE INTO``.
"""

from __future__ import annotations

import os
import re
import shutil
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession, catalog: str = "lg") -> bool:
    """True when an Iceberg catalog is configured AND its classes load."""
    impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    if not impl:
        return False
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


_PART_FILE = re.compile(r"part-(\d+)-.*\.parquet$")


def part_rows(path: str) -> dict[int, int]:
    """Rows per write task of the Spark parquet output committed at the
    local directory ``path``, read from the part files' footers: the
    count of what the write just committed, without a Spark job."""
    import pyarrow.parquet as pq

    rows: dict[int, int] = {}
    for name in os.listdir(path):
        m = _PART_FILE.match(name)
        if m:
            pid = int(m.group(1))
            n = pq.read_metadata(os.path.join(path, name)).num_rows
            rows[pid] = rows.get(pid, 0) + n
    return rows


def committed_rows(path: str) -> int:
    """Total rows of the Spark parquet output committed at ``path``."""
    return sum(part_rows(path).values())


def write_rows(path: str, rows: list[tuple], schema: list[tuple[str, object]]) -> None:
    """Write a few driver-side ``rows`` as the one parquet file ``path``
    (``schema`` is ``[(name, pyarrow type)]``). The file is written under
    a ``.``-prefixed name, which Spark and pyarrow readers skip, and then
    renamed into place, so a reader never sees a torn file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows)) if rows else [()] * len(schema)
    table = pa.table(
        [pa.array(c, type=t) for c, (_, t) in zip(cols, schema)],
        names=[name for name, _ in schema],
    )
    d, name = os.path.split(path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


class TableStore:
    """Named tables over Iceberg (if configured) or parquet directories."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        catalog: str = "lg",
        lock_stale_s: float = 1800.0,
    ):
        self.spark = spark
        self.root = root
        self.catalog = catalog
        self.lock_stale_s = lock_stale_s  # tune up for very large tables
        self.iceberg = iceberg_available(spark, catalog)
        if not self.iceberg:
            os.makedirs(root, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _ident(self, name: str) -> str:
        return f"{self.catalog}.db.{name}"

    def write(self, name: str, df: DataFrame, partition_by: tuple[str, ...] = ()) -> None:
        if self.iceberg:
            w = df.writeTo(self._ident(name)).using("iceberg")
            if partition_by:
                from pyspark.sql import functions as F

                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.createOrReplace()
        else:
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(self._path(name))

    def read(self, name: str) -> DataFrame:
        if self.iceberg:
            return self.spark.read.table(self._ident(name))
        return self.spark.read.parquet(self._path(name))

    def write_bucketed(
        self,
        name: str,
        df: DataFrame,
        bucket_cols: tuple[str, ...],
        n_buckets: int,
        sort_cols: tuple[str, ...] = (),
    ) -> None:
        """Hash-bucketed (optionally bucket-sorted) table: two tables
        bucketed the same way join/aggregate on the bucket key with NO
        Exchange — each task reads matching buckets from both sides
        (plan pinned by tests/test_plans.py::test_bucketed_join_no_exchange).
        This is the durable form of the repartition the iterative
        kernels do in memory: at 10^12-doc scale the (src,dst) edge
        table is written once bucketed by src and every downstream
        join against it is co-located for free.

        Parquet path: ``bucketBy(...).saveAsTable`` with an explicit
        ``path`` under the store root — data files live with the other
        store tables; bucketing METADATA lives in the session catalog
        (a Hive metastore on a real cluster makes it durable across
        sessions). Iceberg path: a ``bucket(n, col)`` partition
        transform (storage-partitioned joins pick it up)."""
        if self.iceberg:
            from pyspark.sql import functions as F

            w = df.writeTo(self._ident(name)).using("iceberg")
            w = w.partitionedBy(*[F.bucket(n_buckets, F.col(c)) for c in bucket_cols])
            w.createOrReplace()
            return
        writer = (
            df.write.mode("overwrite")
            .format("parquet")
            .option("path", self._path(name))
            .bucketBy(n_buckets, *bucket_cols)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        writer.saveAsTable(name)

    def read_bucketed(self, name: str) -> DataFrame:
        """Read through the catalog so the optimizer sees the bucket
        spec (a bare ``read.parquet`` of the same files would not)."""
        if self.iceberg:
            return self.spark.read.table(self._ident(name))
        return self.spark.table(name)

    def append(self, name: str, df: DataFrame) -> None:
        if self.iceberg:
            df.writeTo(self._ident(name)).append()
        else:
            df.write.mode("append").parquet(self._path(name))

    def _acquire_lock(
        self, path: str, timeout_s: float = 120.0, stale_s: float | None = None
    ) -> str:
        """Atomic mkdir mutex — serializes read-merge-swap so concurrent
        upserts can't lose updates (Iceberg gets this from optimistic
        snapshot commits; the parquet emulation needs an explicit fence:
        two unlocked writers would both read the same base and the
        second swap would silently drop the first's rows).

        A lock older than ``stale_s`` (default: the store's
        ``lock_stale_s``) is presumed orphaned (holder killed mid-write)
        and is broken — otherwise one SIGKILL would block the table
        forever. Live holders keep their lock fresh via the heartbeat
        thread in ``upsert``, so a merge legitimately running longer than
        ``stale_s`` is never stolen."""
        if stale_s is None:
            stale_s = self.lock_stale_s
        lock = path + ".lock"
        deadline = time.monotonic() + timeout_s
        while True:
            try:
                os.makedirs(os.path.dirname(lock), exist_ok=True)
                os.mkdir(lock)
                return lock
            except FileExistsError:
                try:
                    if time.time() - os.path.getmtime(lock) > stale_s:
                        shutil.rmtree(lock, ignore_errors=True)
                        continue
                except OSError:
                    pass  # lock vanished between the check and the stat
                if time.monotonic() > deadline:
                    raise TimeoutError(f"upsert lock busy: {lock}")
                time.sleep(0.05)

    def upsert(self, name: str, df: DataFrame, key: str) -> None:
        """MERGE INTO by key. Iceberg: native MERGE (optimistic snapshot
        commit). Parquet: anti-join + union under a lock, written to a
        temp dir and atomically swapped in — concurrent writers
        serialize, each merging onto the other's committed result."""
        if self.iceberg:
            df.createOrReplaceTempView("__upsert_src__")
            self.spark.sql(
                f"MERGE INTO {self._ident(name)} t USING __upsert_src__ s "
                f"ON t.{key} = s.{key} "
                "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
            )
            return
        path = self._path(name)
        lock = self._acquire_lock(path)
        heartbeat = _LockHeartbeat(lock, max(self.lock_stale_s / 4.0, 1.0))
        try:
            if not os.path.exists(path):
                df.write.parquet(path)
                return
            current = self.spark.read.parquet(path)
            merged = current.join(df.select(key), key, "left_anti").unionByName(df)
            tmp = f"{path}__tmp_{uuid.uuid4().hex[:8]}"
            merged.write.parquet(tmp)
            old = f"{path}__old_{uuid.uuid4().hex[:8]}"
            os.rename(path, old)
            os.rename(tmp, path)
            shutil.rmtree(old)
        finally:
            heartbeat.stop()
            os.rmdir(lock)


class _LockHeartbeat:
    """Touches the lock dir's mtime every ``interval`` seconds while the
    holder works, so the stale-lock breaker in ``_acquire_lock`` only
    ever fires on genuinely dead holders (SIGKILL mid-merge), never on a
    live merge that happens to run longer than the staleness window."""

    def __init__(self, lock: str, interval: float):
        self._lock = lock
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._run, args=(interval,), daemon=True
        )
        self._thread.start()

    def _run(self, interval: float) -> None:
        while not self._stop.wait(interval):
            try:
                os.utime(self._lock)
            except OSError:
                return  # lock gone (released or broken) — nothing to keep alive

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5.0)
