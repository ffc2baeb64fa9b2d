"""Per-stage checkpoint tables + anti-join resume + lineage/metrics.

Reference semantics: every operator stores results keyed by
content-hash trace id and skips already-processed ids on re-run
(``graphgen/bases/base_operator.py:109-166``), with insert-only upserts
(``storage/kv/json_storage.py:48-52``) and forward/inverse lineage maps.

Spark mapping: a checkpoint is a partitioned parquet table per stage;
"skip processed" is a left-anti join on the trace key; "recover" is
reading the table back; the lineage map is a (src_id, dst_id, op)
table.  Everything is idempotent because ids are content hashes — a
mid-run kill leaves a valid (partial) table that the next run tops up.

Stage counts cost no Spark job: each append carries ``observe``
metrics that ride on its own write, and ``write_metrics`` stores them
with a local parquet write once the commit's writes are done.

Work that the caller need not wait for (labels, off-path writes) goes
through ``OffPathWrites``: it runs on a small fixed thread pool beside
the caller, so Spark schedules its tiny jobs side by side instead of
one after another.
"""

from __future__ import annotations

import os
import time
import uuid
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import inheritable_thread_target
from pyspark.sql import (
    DataFrame,
    DataFrameWriter,
    Observation,
    SparkSession,
)
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Threads running one commit's off-path work.  A write's jobs are
# tiny (a few tasks each), so a handful of concurrent writes is enough
# to keep local[N] cores busy.
WRITE_THREADS = 4

# a parquet write prepared on the caller thread: writer.parquet(path)
Write = tuple[DataFrameWriter, str]

_METRICS_SCHEMA = pa.schema([
    ("stage", pa.string()),
    ("n_rows", pa.int64()),      # rows appended
    ("n_offered", pa.int64()),   # rows offered; null without anti-join
    ("n_skipped", pa.int64()),   # rows the anti-join skipped
    ("commit_id", pa.string()),
    ("recorded_at", pa.int64()),
])


class OffPathWrites:
    """Context manager for the work of one commit that the caller need
    not wait for.

    ``run`` starts a function on the block's pool of WRITE_THREADS
    threads and returns its future; ``submit`` queues writes there.
    Work runs under the job group and job description the caller had
    when it was started.  Leaving the block waits for all of it and
    then re-raises the first failure (in start order) — unless the
    block itself raised, whose error wins.  The plans and writers of
    submitted writes are built by the caller; a pool thread only runs
    ``writer.parquet(path)``.
    """

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._futures: list[Future] = []

    def run(self, fn: Callable[[], object]) -> Future:
        """Start ``fn()`` on the pool; its future holds the result."""
        target = inheritable_thread_target(self._spark)(fn)
        future = self._pool.submit(target)
        self._futures.append(future)
        return future

    def submit(self, *writes: Write) -> None:
        """Run ``writes`` one after another in one pool task: writes into
        one table directory must not overlap, so they share a task."""

        def run() -> None:
            for writer, path in writes:
                writer.parquet(path)

        self.run(run)

    def __enter__(self) -> OffPathWrites:
        self._pool = ThreadPoolExecutor(
            WRITE_THREADS, thread_name_prefix="off-path-write"
        )
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self._pool.shutdown(wait=True)
        errors = [f.exception() for f in self._futures]
        first = next((e for e in errors if e is not None), None)
        if exc is None and first is not None:
            raise first


def _exists(spark: SparkSession, path: str) -> bool:
    # local-fs check is fine in the sandbox; on a cluster this would go
    # through the Hadoop FileSystem API (same semantics)
    return os.path.exists(path)


@dataclass
class StageAppend:
    """One prepared insert-only append to a stage table.

    ``write`` is run by the caller (or an OffPathWrites block); its
    observations fill in when it runs.  ``appended`` counts the rows it
    writes, ``offered`` (present only when the table existed and the
    anti-join ran) the rows offered before the anti-join."""

    stage: str
    path: str
    schema: T.StructType
    write: Write
    appended: Observation
    offered: Observation | None

    def read(self, spark: SparkSession) -> DataFrame:
        """The whole stage table, read with its known schema.  Call it
        once the write has run: the file listing is taken here."""
        return spark.read.schema(self.schema).parquet(self.path)

    def counts(self) -> dict:
        """Observed row counts; blocks until the write has run."""
        n_rows = self.appended.get["n_rows"]
        n_offered = (
            self.offered.get["n_rows"] if self.offered is not None else None
        )
        return {
            "stage": self.stage,
            "n_rows": n_rows,
            "n_offered": n_offered,
            "n_skipped": None if n_offered is None else n_offered - n_rows,
        }


def checkpoint_stage(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    stage: str,
    key_cols: list[str],
) -> StageAppend:
    """Prepare the insert-only upsert of ``df`` into the stage table.

    - first run: write everything
    - resume: left-anti join on ``key_cols`` → append only new rows

    Nothing runs here: the caller runs ``.write`` where it likes, then
    reads the full stage back with ``.read``.
    """
    path = os.path.join(root, stage)
    offered = None
    if _exists(spark, path):
        done_keys = spark.read.schema(df.select(*key_cols).schema).parquet(
            path
        )
        offered_df, offered = observed(df)
        new_rows, appended = observed(
            offered_df.join(done_keys, key_cols, "left_anti")
        )
        mode = "append"
    else:
        new_rows, appended = observed(df)
        mode = "overwrite"
    return StageAppend(
        stage, path, df.schema, (new_rows.write.mode(mode), path), appended,
        offered,
    )


def observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row-count observation (``n_rows``) that fills in
    when the first action on it runs — no job of its own."""
    observation = Observation()
    counted = df.observe(observation, F.count(F.lit(1)).alias("n_rows"))
    return counted, observation


def write_metrics(root: str, appends: list[StageAppend]) -> None:
    """Store each append's observed counts as one small parquet file
    under ``root/_metrics/<stage>`` — a local write, no Spark job.  Call
    it after every append has run."""
    commit_id, now = uuid.uuid4().hex, int(time.time())
    for append in appends:
        row = {**append.counts(), "commit_id": commit_id,
               "recorded_at": now}
        table = pa.Table.from_pylist([row], schema=_METRICS_SCHEMA)
        out_dir = os.path.join(root, "_metrics", append.stage)
        os.makedirs(out_dir, exist_ok=True)
        # a dot-file is invisible to readers until the rename
        tmp = os.path.join(out_dir, f".{commit_id}.parquet")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{commit_id}.parquet"))


def read_metrics(spark: SparkSession, root: str) -> DataFrame:
    """Every recorded stage count under ``root/_metrics`` (one row per
    stage per commit: ``stage``, ``n_rows`` appended, ``n_offered``,
    ``n_skipped``, ``commit_id``, ``recorded_at``)."""
    return (
        spark.read.option("recursiveFileLookup", "true")
        .option("mergeSchema", "true")
        .parquet(os.path.join(root, "_metrics"))
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


def lineage_write(
    lineage: DataFrame, root: str, op: str, mode: str
) -> Write:
    """The write of ``lineage`` (rows of one ``op``) into that op's
    partition directory, ``root/lineage/op=<op>``; read-back recovers
    ``op`` from the directory name.  Lineage of new rows only
    (doc→chunk) is appended; lineage derived from a FULL table
    (chunk→triple from the whole triples table) is overwritten, since
    an append would duplicate rows on every resume or no-op re-run.
    Each op owns its directory, so writes of two ops may run at once."""
    return (
        lineage.drop("op").write.mode(mode),
        os.path.join(root, "lineage", f"op={op}"),
    )
