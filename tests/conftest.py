import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graphgen_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        master="local[4]",
        app_name="graphgen_spark_tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "2000"},
    )
    yield s


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def composed_kg(spark, pages, **kw):
    """The composed reference for ``run_kg_pipeline``: text -> chunk ->
    records as separate operators (``run_mixed_kg_pipeline`` over
    ``with_extracted_text`` docs), the same records -> graph tail, and
    the docs stage from ``with_extracted_text``."""
    from pyspark.sql import functions as F

    from graphgen_spark.operators.text import with_extracted_text
    from graphgen_spark.pipelines import run_mixed_kg_pipeline

    text = with_extracted_text(pages, out_col="content")
    out = run_mixed_kg_pipeline(
        spark, text.select("url", F.lit("text").alias("type"), "content"),
        **kw,
    )
    out["docs"] = text.select(
        "url", F.col("content").alias("text"), "warc_ts"
    )
    return out
