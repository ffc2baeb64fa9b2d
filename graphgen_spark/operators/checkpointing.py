"""Per-stage checkpoint tables + anti-join resume + lineage/metrics.

Reference semantics: every operator stores results keyed by
content-hash trace id and skips already-processed ids on re-run
(``graphgen/bases/base_operator.py:109-166``), with insert-only upserts
(``storage/kv/json_storage.py:48-52``) and forward/inverse lineage maps.

Spark mapping: a checkpoint is a partitioned parquet table per stage;
"skip processed" is a left-anti join on the trace key; "recover" is
reading the table back; the lineage map is a (src_id, dst_id, op)
table; per-partition progress metrics are recorded after each append.
Everything is idempotent because ids are content hashes — a mid-run
kill leaves a valid (partial) table that the next run tops up.

Writes that nothing later in a commit reads (manifests, metrics,
final tables, lineage) go through ``OffPathWrites``: they run on a
small fixed thread pool beside the caller, so Spark schedules their
tiny jobs side by side instead of one after another.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from contextvars import ContextVar

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F

# Threads running one commit's off-path writes.  A write's jobs are
# tiny (a few tasks each), so a handful of concurrent writes is enough
# to keep local[N] cores busy.
WRITE_THREADS = 4
# the OffPathWrites block open on this thread, if any
_OPEN: ContextVar[OffPathWrites | None] = ContextVar(
    "off_path_writes", default=None
)

# a parquet write prepared on the caller thread: writer.parquet(path)
Write = tuple[DataFrameWriter, str]


class OffPathWrites:
    """Context manager for the writes of one commit that nothing later
    in the commit reads.

    ``submit`` queues writes on the block's pool of WRITE_THREADS
    threads; leaving the block waits for every queued write and then
    re-raises the first failure (in submission order) — unless the
    block itself raised, whose error wins.  Plans and writers are built
    by the caller; a pool thread only runs ``writer.parquet(path)``,
    under the job group and job description the caller had when it
    submitted.  While the block is open on a thread,
    ``checkpoint_stage`` sends its metrics write here.
    """

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._futures: list = []

    def submit(self, *writes: Write) -> None:
        """Run ``writes`` one after another in one pool task: writes into
        one table directory must not overlap, so they share a task."""

        def run() -> None:
            for writer, path in writes:
                writer.parquet(path)

        target = inheritable_thread_target(self._spark)(run)
        self._futures.append(self._pool.submit(target))

    def __enter__(self) -> OffPathWrites:
        self._pool = ThreadPoolExecutor(
            WRITE_THREADS, thread_name_prefix="off-path-write"
        )
        self._token = _OPEN.set(self)
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        _OPEN.reset(self._token)
        self._pool.shutdown(wait=True)
        errors = [f.exception() for f in self._futures]
        first = next((e for e in errors if e is not None), None)
        if exc is None and first is not None:
            raise first


def _write_off_path(write: Write) -> None:
    """Queue ``write`` on the open OffPathWrites block, or run it now."""
    writes = _OPEN.get()
    if writes is None:
        writer, path = write
        writer.parquet(path)
    else:
        writes.submit(write)


def _exists(spark: SparkSession, path: str) -> bool:
    # local-fs check is fine in the sandbox; on a cluster this would go
    # through the Hadoop FileSystem API (same semantics)
    return os.path.exists(path)


def checkpoint_stage(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    stage: str,
    key_cols: list[str],
    partition_by: str | None = None,
) -> DataFrame:
    """Insert-only upsert of ``df`` into the stage table; returns the
    full materialized stage (previous + new rows).

    - first run: write everything
    - resume: left-anti join on ``key_cols`` → append only new rows

    The table is read with ``df``'s schema (no schema-inference job);
    the metrics write goes off path when an OffPathWrites block is open.
    """
    path = os.path.join(root, stage)
    if _exists(spark, path):
        done_keys = spark.read.schema(df.select(*key_cols).schema).parquet(
            path
        )
        new_rows = df.join(done_keys, key_cols, "left_anti")
        writer = new_rows.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(path)
    else:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(path)
    result = spark.read.schema(df.schema).parquet(path)
    _record_metrics(spark, result, root, stage)
    return result


def _record_metrics(
    spark: SparkSession, df: DataFrame, root: str, stage: str
) -> None:
    """Per-partition progress metrics (north_rule: per-partition
    lineage + triple-count metrics to resume mid-run)."""
    metrics = (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("stage", F.lit(stage))
        .withColumn("recorded_at", F.lit(int(time.time())).cast("long"))
    )
    _write_off_path(
        (metrics.write.mode("append"), os.path.join(root, "_metrics", stage))
    )


def read_metrics(spark: SparkSession, root: str) -> DataFrame:
    return spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(root, "_metrics")
    )


def lineage_edges(
    df: DataFrame, src_col: str, dst_col: str, op: str
) -> DataFrame:
    """(src_id, dst_id, op) lineage rows — e.g. doc→chunk from the
    chunks table, chunk→triple from the triples table."""
    return df.select(
        F.col(src_col).alias("src_id"),
        F.col(dst_col).alias("dst_id"),
    ).distinct().withColumn("op", F.lit(op))


def append_lineage(lineage: DataFrame, root: str) -> Write:
    """The write that appends ``lineage`` under ``root/lineage``."""
    return (
        lineage.write.mode("append").partitionBy("op"),
        os.path.join(root, "lineage"),
    )


def overwrite_lineage(lineage: DataFrame, root: str, op: str) -> Write:
    """The write that replaces one op's lineage partition.  For lineage
    derived from a FULL table (e.g. chunk→triple from the whole triples
    table) an append would duplicate rows on every resume/no-op re-run;
    the partition directory is rewritten instead (read-back still
    recovers ``op`` from the directory name)."""
    return (
        lineage.where(F.col("op") == op).drop("op").write.mode("overwrite"),
        os.path.join(root, "lineage", f"op={op}"),
    )


def observed(df: DataFrame, name: str) -> DataFrame:
    """Attach an observation (row count) readable after the action —
    the Spark-native replacement for the reference's KV bookkeeping."""
    return df.observe(name, F.count(F.lit(1)).alias("n_rows"))
