"""Structured Streaming ingest of crawl pages into the checkpointed KG
build.

The reference is batch-only (SURVEY §1.4) — its "incremental" story is
checkpoint recovery.  At 100 TB a crawl lands continuously, so this
module adds the Spark-native continuous path: ``readStream`` over the
landing directory of page files, and ``foreachBatch`` into the
checkpointed materializer: each micro-batch runs ``run_checkpointed``'s
one fused Python hop (text, chunks and records of the batch's new
pages) — giving exactly-once-per-content semantics for free because
every stage key is a content hash.

``availableNow`` triggers make the stream testable (drain-and-stop)
and double as the nightly catch-up mode on a real cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from graphgen_spark.pipelines.materialize import run_checkpointed
from graphgen_spark.synth import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Stream of pages parquet files dropped into ``landing_dir``."""
    return spark.readStream.schema(PAGES_SCHEMA).parquet(landing_dir)


def start_kg_ingest(
    spark: SparkSession,
    landing_dir: str,
    ckpt_root: str,
    stream_ckpt_dir: str,
    alias_dict: DataFrame | None = None,
    chunk_size: int = 1024,
    chunk_overlap: int = 100,
    available_now: bool = True,
):
    """Continuous (or drain-once) ingest: each micro-batch of pages
    runs through the checkpointed pipeline; content-hash keys make
    reprocessing across micro-batches idempotent."""
    pages_stream = read_pages_stream(spark, landing_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        run_checkpointed(
            spark, batch_df, ckpt_root,
            alias_dict=alias_dict,
            chunk_size=chunk_size, chunk_overlap=chunk_overlap,
        )

    writer = (
        pages_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", stream_ckpt_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
