"""Structured Streaming ingest for continuous crawl processing.

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


def read_pages_stream(
    spark: SparkSession,
    landing_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream of pages parquet files dropped into ``landing_dir``."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(landing_dir)


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


EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, "
    "event_type string, value double, props string"
)


def read_events_stream(
    spark: SparkSession,
    landing_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream of event parquet files (the events table's shape)."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(landing_dir)


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregation: per-user event counts
    with late-data tolerance ``watermark`` (events later than the
    watermark are dropped; state for closed windows is evicted — the
    bounded-state requirement of a continuous 100 TB crawl feed)."""
    from pyspark.sql import functions as F

    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("value_sum"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("window_start"),
            "n_events",
            F.round("value_sum", 6).alias("value_sum"),
        )
    )


SESSION_OUT_SCHEMA = (
    "user_id long, session_start double, session_end double, "
    "n_events long, closed_by string"
)
SESSION_STATE_SCHEMA = "session_start double, last_ts double, n_events long"


def sessionize_stream(
    events_stream: DataFrame,
    gap_sec: int = 1800,
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user sessionization with a ``gap_sec`` inactivity gap — the
    streaming counterpart of the batch events_sessions query (same
    session rule: a gap > gap_sec starts a new session).

    State per user = (session_start, last_ts, n_events).  A session row
    is emitted when a later event closes it (closed_by='gap') or when
    the event-time watermark (max event time minus a fixed 2 h
    late-data tolerance) passes ``last_ts + gap_sec`` (closed_by=
    'timeout'; a session whose ``last_ts + gap_sec`` is already behind
    the watermark — an out-of-order event that still passed the late
    filter — closes at once).  The timeout is in event time, so an
    ``availableNow`` trigger drains: no-data batches run only while the
    watermark advances.  State is a 3-tuple per active user — bounded
    regardless of stream length."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            s0, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                [(user_id, s0, last, n, "timeout")],
                columns=["user_id", "session_start", "session_end",
                         "n_events", "closed_by"],
            )
            return
        ts_all = []
        for pdf in pdfs:
            ts_all.extend(pdf["_ts_us"] / 1e6)
        ts_all.sort()
        rows = []
        if state.exists:
            s0, last, n = state.get
        else:
            s0 = last = None
            n = 0
        for t in ts_all:
            if s0 is None:
                s0, last, n = t, t, 1
            elif t - last > gap_sec:
                rows.append((user_id, s0, last, n, "gap"))
                s0, last, n = t, t, 1
            else:
                last = max(last, t)
                n += 1
        timeout_ms = int(round((last + gap_sec) * 1000))
        if timeout_ms < state.getCurrentWatermarkMs():
            rows.append((user_id, s0, last, n, "timeout"))
            state.remove()
        else:
            state.update((s0, last, n))
            state.setTimeoutTimestamp(timeout_ms)
        yield pd.DataFrame(
            rows,
            columns=["user_id", "session_start", "session_end",
                     "n_events", "closed_by"],
        )

    return (
        events_stream.withWatermark("ts", "2 hours")
        # epoch micros from the JVM: the timeout timestamp is compared
        # with the (epoch) watermark whatever the session time zone
        .withColumn("_ts_us", F.unix_micros("ts"))
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
