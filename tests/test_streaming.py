"""Streaming ingest and confidence-kernel tests."""

import math

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

