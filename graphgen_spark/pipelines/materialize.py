"""Checkpointed, resumable materialization of the KG pipeline.

Stage tables under ``ckpt_root``:

    docs/      (url-keyed)           — extracted text
    chunks/    (chunk_id, url)       — chunked docs
    records/   (content-addressed)   — parsed extraction records
    done_docs/, done_chunks/         — processed-input manifests
    nodes/ edges/ triples/ coverage/ — final tables (recomputed from
                                       the full records table through
                                       ``records_to_graph``, the one
                                       records -> graph tail every entry
                                       point shares; canonicalize drops
                                       self-loops on every path.  Merge
                                       aggregates are cheap relative to
                                       extraction, and union-new+old →
                                       groupBy is the reference's own
                                       merge semantics)
    lineage/   (src_id, dst_id, op)  — doc→chunk, chunk→triple
    _metrics/  per-stage per-partition row counts

Kill-safety: outputs are appended BEFORE done-manifests, and every
append anti-joins on content-hash keys, so a crash between the two
writes only causes idempotent reprocessing, never duplicates or loss.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphgen_spark.operators.checkpointing import (
    append_lineage,
    checkpoint_stage,
    lineage_edges,
    overwrite_lineage,
)
from graphgen_spark.operators.chunking import chunk_documents
from graphgen_spark.operators.kg_extract import extract_records
from graphgen_spark.operators.stats import coverage_by_url
from graphgen_spark.operators.text import with_extracted_text
from graphgen_spark.pipelines.kg_pipeline import (
    alias_labels,
    records_to_graph,
)


def _anti_by(df: DataFrame, done: DataFrame | None, keys: list[str]) -> DataFrame:
    if done is None:
        return df
    return df.join(done.select(*keys), keys, "left_anti")


def _maybe_read(spark: SparkSession, path: str) -> DataFrame | None:
    if os.path.exists(path):
        return spark.read.parquet(path)
    return None


def run_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    ckpt_root: str,
    alias_dict: DataFrame | None = None,
    chunk_size: int = 1024,
    chunk_overlap: int = 100,
) -> dict[str, DataFrame]:
    """Run (or resume) the pipeline, materializing every stage under
    ``ckpt_root``.  Re-running after a mid-run kill tops up exactly the
    missing work; re-running on a complete tree is a no-op scan."""
    os.makedirs(ckpt_root, exist_ok=True)

    # -- stage 1: docs (extract text); key = url -----------------------
    done_docs = _maybe_read(spark, os.path.join(ckpt_root, "done_docs"))
    new_pages = _anti_by(pages, done_docs, ["url"])
    new_docs = with_extracted_text(new_pages, out_col="text").select(
        "url", "text", "warc_ts"
    )
    docs = checkpoint_stage(spark, new_docs, ckpt_root, "docs", ["url"])
    new_docs.select("url").distinct().write.mode("append").parquet(
        os.path.join(ckpt_root, "done_docs")
    )

    # -- stage 2: chunks; processed-input manifest = done_chunk urls ---
    done_chunk_docs = _maybe_read(
        spark, os.path.join(ckpt_root, "done_chunk_docs")
    )
    docs_todo = _anti_by(docs, done_chunk_docs, ["url"])
    new_chunks = chunk_documents(
        docs_todo, chunk_size=chunk_size, chunk_overlap=chunk_overlap
    )
    chunks = checkpoint_stage(
        spark, new_chunks, ckpt_root, "chunks", ["chunk_id", "url"]
    )
    docs_todo.select("url").distinct().write.mode("append").parquet(
        os.path.join(ckpt_root, "done_chunk_docs")
    )

    # -- stage 3: records; manifest = processed (chunk_id, url) -------
    done_rec_chunks = _maybe_read(
        spark, os.path.join(ckpt_root, "done_record_chunks")
    )
    chunks_todo = _anti_by(chunks, done_rec_chunks, ["chunk_id", "url"])
    new_records = extract_records(chunks_todo)
    records = checkpoint_stage(
        spark, new_records, ckpt_root, "records",
        ["chunk_id", "url", "kind", "f1", "f2", "f3"],
    )
    chunks_todo.select("chunk_id", "url").distinct().write.mode(
        "append"
    ).parquet(os.path.join(ckpt_root, "done_record_chunks"))

    # -- final tables: recomputed from the full records table ---------
    labels = (
        alias_labels(alias_dict).localCheckpoint(eager=True)
        if alias_dict is not None
        else None
    )
    g = records_to_graph(records, labels)
    out = {}
    for name in ("nodes", "edges", "triples"):
        path = os.path.join(ckpt_root, name)
        g[name].write.mode("overwrite").parquet(path)
        out[name] = spark.read.parquet(path)
    cov_path = os.path.join(ckpt_root, "coverage")
    coverage_by_url(out["triples"]).write.mode("overwrite").parquet(cov_path)
    out["coverage"] = spark.read.parquet(cov_path)

    # -- lineage -------------------------------------------------------
    append_lineage(
        spark,
        lineage_edges(new_chunks, "doc_id", "chunk_id", "doc_to_chunk"),
        ckpt_root,
    )
    # chunk→triple is derived from the FULL triples table every run, so
    # it is overwritten (append would duplicate rows on each resume)
    overwrite_lineage(
        spark,
        lineage_edges(
            out["triples"].withColumn(
                "triple_id",
                F.md5(F.concat_ws("\x1f", "subj", "pred", "obj")),
            ),
            "chunk_id",
            "triple_id",
            "chunk_to_triple",
        ),
        ckpt_root,
        "chunk_to_triple",
    )

    out.update({"docs": docs, "chunks": chunks, "records": records})
    return out
