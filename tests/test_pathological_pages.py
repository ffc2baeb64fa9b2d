"""Pathological-input robustness: empty html, non-UTF8 bytes, pages
with no relation sentences, null html — the pipeline must neither
crash nor emit self-loop or phantom triples."""

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphgen_spark import synth
from graphgen_spark.pipelines import (
    alias_labels,
    run_kg_pipeline,
    run_mixed_kg_pipeline,
)

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])

TS = dt.datetime(2024, 1, 1)


@pytest.fixture(scope="module")
def pathological_pages(spark):
    rows = [
        ("http://x/empty", TS, b"", "", "en"),
        ("http://x/nonutf8", TS, b"\xff\xfe\x80<p>Zorvex Dynamics "
         b"acquired Calyra Labs.</p>\x80\xff", "", "en"),
        ("http://x/norel", TS, b"<p>just plain words with no "
         b"relation grammar at all</p>", "", "en"),
        ("http://x/selfloop", TS, b"<p>Calyra Labs acquired Calyra "
         b"Labs.</p>", "", "en"),
        ("http://x/null", TS, None, "", "en"),
        ("http://x/good", TS, b"<html><head><title>t</title></head>"
         b"<body><p>Bramwell Institute merged with Delphora Capital."
         b"</p></body></html>", "", "en"),
    ]
    return spark.createDataFrame(rows, PAGES_SCHEMA)


class TestPathologicalPages:
    def test_pipeline_survives_and_filters(self, spark,
                                           pathological_pages):
        out = run_kg_pipeline(
            spark, pathological_pages, chunk_size=256, chunk_overlap=32,
        )
        triples = out["triples"].collect()
        # no self-loops ever (subj == obj must be 0)
        assert all(t["subj"] != t["obj"] for t in triples)
        urls = {t["url"] for t in triples}
        # empty/null/no-relation pages contribute nothing
        assert "http://x/empty" not in urls
        assert "http://x/null" not in urls
        assert "http://x/norel" not in urls
        assert "http://x/selfloop" not in urls  # self-loop dropped
        # the good page and the salvageable non-UTF8 page extract
        assert "http://x/good" in urls
        assert "http://x/nonutf8" in urls

    def test_fused_path_same_behavior(self, spark, pathological_pages):
        composed = run_kg_pipeline(
            spark, pathological_pages, chunk_size=256, chunk_overlap=32,
            fused=False,
        )
        fused = run_kg_pipeline(
            spark, pathological_pages, chunk_size=256, chunk_overlap=32,
            fused=True,
        )
        c = {tuple(r) for r in composed["triples"]
             .select("subj", "pred", "obj", "url").collect()}
        f = {tuple(r) for r in fused["triples"]
             .select("subj", "pred", "obj", "url").collect()}
        assert c == f

    def test_byte_identical_text_per_url(self, spark,
                                         pathological_pages):
        """BASELINE input_hint invariant: same html bytes -> same
        extracted text, across runs and parallelism."""
        from graphgen_spark.operators.text import with_extracted_text

        a = {r["url"]: r["t"] for r in with_extracted_text(
            pathological_pages, out_col="t").select("url", "t").collect()}
        b = {r["url"]: r["t"] for r in with_extracted_text(
            pathological_pages.repartition(7), out_col="t"
        ).select("url", "t").collect()}
        assert a == b


def _triple_set(df):
    return {tuple(r) for r in df.select("subj", "pred", "obj", "url")
            .collect()}


class TestEntryPointsAgree:
    """Every KG entry point shares one records -> graph tail, so the
    same pages give the same triples everywhere — self-loop page
    included, with and without an alias dictionary."""

    @pytest.mark.parametrize("with_dict", [False, True],
                             ids=["no_dict", "dict"])
    def test_same_graph_from_every_entry_point(
        self, spark, pathological_pages, tmp_path, with_dict
    ):
        from graphgen_spark.operators.text import with_extracted_text
        from graphgen_spark.pipelines.incremental import (
            finalize_kg_state,
            kg_state_from_records,
        )
        from graphgen_spark.pipelines.materialize import run_checkpointed

        alias = synth.alias_dictionary_df(spark, 200) if with_dict else None
        kw = {"alias_dict": alias, "chunk_size": 256, "chunk_overlap": 32}
        composed = run_kg_pipeline(spark, pathological_pages, **kw)
        want = _triple_set(composed["triples"])
        assert want and all(s != o for s, _, o, _ in want)

        fused = run_kg_pipeline(spark, pathological_pages, fused=True, **kw)
        ckpt = run_checkpointed(
            spark, pathological_pages, str(tmp_path / "ckpt"), **kw
        )
        docs = with_extracted_text(
            pathological_pages, out_col="content"
        ).select("url", F.lit("text").alias("type"), "content")
        mixed = run_mixed_kg_pipeline(spark, docs, **kw)
        assert _triple_set(fused["triples"]) == want
        assert _triple_set(ckpt["triples"]) == want
        assert _triple_set(mixed["triples"]) == want

        labels = alias_labels(alias) if with_dict else None
        state_edges = finalize_kg_state(
            kg_state_from_records(composed["records"], labels)
        )["edges"]

        def pairs(edges):
            return {tuple(r) for r in edges.select("src_id", "tgt_id")
                    .collect()}

        assert pairs(state_edges) == pairs(composed["edges"])
