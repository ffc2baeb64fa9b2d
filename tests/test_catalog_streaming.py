"""Snapshot commits (catalog.py), streaming ingest, and
confidence-kernel tests."""

import math

import pytest
from pyspark.sql import functions as F

from graphgen_spark import synth
from graphgen_spark.confidence import normalize_yes_no, yes_no_loss_entropy


class TestConfidence:
    def test_docstring_example(self):
        # reference _normalize_yes_no docstring (:55-61)
        dist = normalize_yes_no(
            [("yes", 0.6), ("yeah", 0.2), ("no", 0.1), ("nope", 0.1)]
        )
        assert abs(dist["yes"] - 0.8) < 1e-9
        assert abs(dist["no"] - 0.2) < 1e-9

    def test_uncertain_counts_against_gt(self):
        loss_clean = yes_no_loss_entropy([[("yes", 1.0)]], ["yes"])
        loss_uncertain = yes_no_loss_entropy(
            [[("yes", 0.5), ("banana", 0.5)]], ["yes"]
        )
        assert loss_clean < 1e-9
        assert abs(loss_uncertain - (-math.log(0.5))) < 1e-9

    def test_zh_synonyms(self):
        dist = normalize_yes_no([("是", 0.7), ("不是", 0.3)])
        assert abs(dist["yes"] - 0.7) < 1e-9

    def test_mean_over_statements(self):
        loss = yes_no_loss_entropy(
            [[("yes", 0.5), ("no", 0.5)], [("no", 1.0)]], ["yes", "no"]
        )
        assert abs(loss - (-math.log(0.5) + 0.0) / 2) < 1e-9


class TestStreamingIngest:
    def test_drain_and_resume_semantics(self, spark, tmp_path):
        from graphgen_spark.streaming import start_kg_ingest

        landing = str(tmp_path / "landing")
        ckpt = str(tmp_path / "ckpt")
        sckpt = str(tmp_path / "sckpt")
        alias = synth.alias_dictionary_df(spark, 100)

        # batch 1 lands
        synth.pages_df(spark, 15, 100).write.mode("overwrite").parquet(
            landing
        )
        queries = []
        try:
            # each query must drain (awaitTermination -> True) before
            # the next one starts on the same checkpoint location
            q = start_kg_ingest(spark, landing, ckpt, sckpt,
                                alias_dict=alias,
                                chunk_size=256, chunk_overlap=32)
            queries.append(q)
            assert q.awaitTermination(120) is True
            t1 = spark.read.parquet(f"{ckpt}/triples")
            n1 = t1.count()
            assert n1 > 0

            # batch 2 lands (new pages): stream picks up ONLY new files
            synth.pages_df(spark, 30, 100).where(
                ~F.col("url").isin(
                    [r["url"] for r in spark.read.parquet(landing)
                     .select("url").collect()]
                )
            ).write.mode("append").parquet(landing)
            q2 = start_kg_ingest(spark, landing, ckpt, sckpt,
                                 alias_dict=alias,
                                 chunk_size=256, chunk_overlap=32)
            queries.append(q2)
            assert q2.awaitTermination(120) is True
            t2 = spark.read.parquet(f"{ckpt}/triples")
            n2 = t2.count()
            assert n2 >= n1
            # no duplicate chunks across micro-batches
            chunks = spark.read.parquet(f"{ckpt}/chunks")
            assert chunks.count() == chunks.select(
                "chunk_id", "url"
            ).distinct().count()
        finally:
            for query in queries:
                query.stop()


class TestSnapshotTable:
    """Iceberg commit-model emulation: append/overwrite snapshots,
    atomic pointer, time travel, rollback, post-rollback branch."""

    def test_snapshot_lifecycle(self, spark, tmp_path):
        from graphgen_spark.catalog import (
            _load_meta,
            current_snapshot_id,
            snapshot_read,
            snapshot_rollback,
            snapshot_write,
        )

        loc = str(tmp_path)
        df1 = spark.range(5).select(
            F.col("id"), F.lit("a").alias("tag")
        )
        s1 = snapshot_write(spark, df1, loc, "t", mode="overwrite")
        assert s1 == 1
        assert snapshot_read(spark, loc, "t").count() == 5

        df2 = spark.range(5, 8).select(
            F.col("id"), F.lit("b").alias("tag")
        )
        s2 = snapshot_write(spark, df2, loc, "t", mode="append")
        assert s2 == 2
        assert snapshot_read(spark, loc, "t").count() == 8

        # time travel: snapshot 1 is still the 5-row table
        assert snapshot_read(spark, loc, "t", snapshot_id=1).count() == 5

        # rollback is metadata-only; snapshot 2 stays readable
        snapshot_rollback(loc, "t", 1)
        assert current_snapshot_id(loc, "t") == 1
        assert snapshot_read(spark, loc, "t").count() == 5
        assert snapshot_read(spark, loc, "t", snapshot_id=2).count() == 8

        # writing after rollback branches PAST the rolled-back version
        # (never overwrites snapshot 2's files)
        df3 = spark.range(100, 102).select(
            F.col("id"), F.lit("c").alias("tag")
        )
        s3 = snapshot_write(spark, df3, loc, "t", mode="append")
        assert s3 == 3
        assert snapshot_read(spark, loc, "t").count() == 7  # 5 + 2
        assert snapshot_read(spark, loc, "t", snapshot_id=2).count() == 8

        # ancestry of the current snapshot: 3 -> 1 (2 is off the branch)
        meta3 = _load_meta(loc, "t", 3)
        assert meta3["parent_id"] == 1
        meta1 = _load_meta(loc, "t", meta3["parent_id"])
        assert meta1["parent_id"] is None
        assert meta1["operation"] == "overwrite"

    def test_read_missing_table_raises(self, spark, tmp_path):
        from graphgen_spark.catalog import snapshot_read

        with pytest.raises(FileNotFoundError):
            snapshot_read(spark, str(tmp_path), "nope")

    def test_id_allocation_past_five_digits(self, spark, tmp_path):
        """A 6-digit snapshot file must not collide with a new
        allocation: fn[1:6] parsed 'v100000.json' as 10000 and
        max+1 could overwrite existing metadata (ADVICE r3)."""
        import os

        from graphgen_spark.catalog import _meta_dir, snapshot_write

        loc = str(tmp_path)
        meta = _meta_dir(loc, "t")
        os.makedirs(meta)
        # pre-existing snapshot files from a long-lived table,
        # including one past the 5-digit zero-pad width
        for fake in ("v00003.json", "v100000.json", "not-a-snap.txt"):
            with open(os.path.join(meta, fake), "w") as f:
                f.write("{}")
        sid = snapshot_write(
            spark, spark.range(5), loc, "t", mode="overwrite"
        )
        assert sid == 100001
        assert os.path.exists(os.path.join(meta, "v100001.json"))
        # the fakes were never overwritten
        assert open(os.path.join(meta, "v100000.json")).read() == "{}"
