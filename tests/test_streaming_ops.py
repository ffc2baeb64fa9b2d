"""Streaming operator surface: watermarked windowed aggregation and
the applyInPandasWithState sessionizer (streaming counterpart of the
batch events_sessions query)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from graphgen_spark.streaming import (
    read_events_stream,
    sessionize_stream,
    windowed_event_counts,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ev(eid, sec, uid):
    return (
        eid, T0 + dt.timedelta(seconds=sec), uid, "click", 1.0, "{}"
    )


COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


class TestWindowedCounts:
    def test_matches_batch_aggregation(self, spark, tmp_path):
        rows = [
            _ev(0, 0, 1), _ev(1, 600, 1), _ev(2, 4200, 1),
            _ev(3, 30, 2), _ev(4, 7500, 2),
        ]
        land = str(tmp_path / "land_win")
        spark.createDataFrame(rows, COLS).write.parquet(land)

        stream = read_events_stream(spark, land)
        q = (
            windowed_event_counts(stream, window="1 hour",
                                  watermark="2 hours")
            .writeStream.format("memory").queryName("win_counts")
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination(60)
        got = {
            (r["user_id"], r["window_start"], r["n_events"])
            for r in spark.sql("SELECT * FROM win_counts").collect()
        }
        batch = (
            spark.createDataFrame(rows, COLS)
            .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id", F.col("w.start").alias("window_start"),
                    "n_events")
        )
        expected = {
            (r["user_id"], r["window_start"], r["n_events"])
            for r in batch.collect()
        }
        assert got == expected and len(got) == 4


class TestStatefulSessionizer:
    @staticmethod
    def _run(spark, tmp_path, name, files):
        """One micro-batch per landed file through the sessionizer
        under an availableNow trigger; the query must drain and stop."""
        land = tmp_path / f"land_{name}"
        land.mkdir()
        for i, rows in enumerate(files):
            spark.createDataFrame(rows, COLS).coalesce(1).write.parquet(
                str(land / f"f{i}")
            )
        stream = read_events_stream(
            spark, str(land / "*"), max_files_per_trigger=1
        )
        q = (
            sessionize_stream(stream, gap_sec=1800)
            .writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(availableNow=True).start()
        )
        assert q.awaitTermination(120) is True
        return spark.sql(f"SELECT * FROM {name}").collect()

    # batch 1: user 1 has two events 10 s apart, user 2 one event
    FIRST = [_ev(0, 0, 1), _ev(1, 10, 1), _ev(2, 5, 2)]

    def test_gap_closes_session_across_microbatches(self, spark, tmp_path):
        # batch 2: one user-1 event past the gap
        rows = self._run(spark, tmp_path, "sessions",
                         [self.FIRST, [_ev(3, 2000, 1)]])
        closed = [
            r for r in rows
            if r["user_id"] == 1 and r["closed_by"] == "gap"
        ]
        assert len(closed) == 1
        s = closed[0]
        assert s["n_events"] == 2
        assert s["session_end"] - s["session_start"] == pytest.approx(10.0)
        # user 2 never crossed the gap -> no gap-closed session
        assert not [
            r for r in rows
            if r["user_id"] == 2 and r["closed_by"] == "gap"
        ]

    def test_watermark_past_gap_times_out_session(self, spark, tmp_path):
        """Batch 2 moves the watermark (max event time - 2 h) to
        12800 s, past user 2's last event + gap (5 + 1800 s): that
        session is emitted by the event-time timeout.  Batch 3 holds an
        out-of-order event at 100 s for a new user 3; it passes the
        late-data filter (the previous batch's watermark), but its
        last + gap (1900 s) is already behind the current watermark, so
        it is closed at once instead of setting a timeout in the past.
        User 1's open session (last event 20000 s) is not emitted."""
        rows = self._run(spark, tmp_path, "sessions_wm", [
            self.FIRST, [_ev(3, 20000, 1)], [_ev(4, 100, 3)],
        ])
        timed_out = sorted(
            (r["user_id"], r["n_events"]) for r in rows
            if r["closed_by"] == "timeout"
        )
        assert timed_out == [(2, 1), (3, 1)]
        assert [(r["user_id"], r["n_events"]) for r in rows
                if r["closed_by"] == "gap"] == [(1, 2)]
