"""Checkpointed, resumable materialization of the KG pipeline.

Stage tables under ``ckpt_root``:

    docs/      (url-keyed)           — extracted text
    chunks/    (chunk_id, url)       — chunked docs
    records/   (content-addressed)   — parsed extraction records
    done_docs/, done_chunk_docs/,    — processed-input manifests
    done_record_chunks/
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

The commit is a small write DAG.  Only the chain docs -> chunks ->
records -> graph blocks the caller: each stage appends, is read back,
and feeds the next stage.  Every write that nothing later in the
commit reads goes to ``OffPathWrites`` and runs beside that chain:

    done_docs, done_record_chunks — each submitted right after its
        stage's append returns (outputs still land before their
        manifest)
    _metrics/<stage>              — from checkpoint_stage
    nodes, edges, triples, coverage — one write each
    lineage doc->chunk, lineage chunk->triple, done_chunk_docs — one
        task, in this order: both lineage writes live under lineage/,
        and writing done_chunk_docs re-caches the persisted new chunks
        (their plan reads that manifest), so it must follow the
        doc->chunk lineage that reads them

No two concurrent writes share a table directory.  The new chunks are
persisted, since both the chunks append and the doc->chunk lineage read
them; no other intermediate is read twice.  Every table is read with
its known schema (no schema-inference job).  ``run_checkpointed``
returns only after every write has finished, and re-raises the first
failure.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphgen_spark.operators.checkpointing import (
    OffPathWrites,
    Write,
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


def _todo(
    spark: SparkSession, df: DataFrame, manifest: str, keys: list[str]
) -> DataFrame:
    """Rows of ``df`` whose ``keys`` are not in the manifest yet."""
    if not os.path.exists(manifest):
        return df
    done = spark.read.schema(df.select(*keys).schema).parquet(manifest)
    return df.join(done, keys, "left_anti")


def _manifest(df: DataFrame, keys: list[str], manifest: str) -> Write:
    """The write that records ``df``'s keys as processed."""
    return (df.select(*keys).distinct().write.mode("append"), manifest)


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

    def path(name: str) -> str:
        return os.path.join(ckpt_root, name)

    new_chunks = None
    try:
        with OffPathWrites(spark) as writes:
            # -- stage 1: docs (extract text); key = url ---------------
            new_pages = _todo(spark, pages, path("done_docs"), ["url"])
            new_docs = with_extracted_text(new_pages, out_col="text").select(
                "url", "text", "warc_ts"
            )
            docs = checkpoint_stage(
                spark, new_docs, ckpt_root, "docs", ["url"]
            )
            writes.submit(_manifest(new_docs, ["url"], path("done_docs")))

            # -- stage 2: chunks; manifest = done_chunk_docs urls ------
            chunk_keys = ["chunk_id", "url"]
            docs_todo = _todo(spark, docs, path("done_chunk_docs"), ["url"])
            # read twice (the append and the doc->chunk lineage): the
            # chunking hop runs once
            new_chunks = chunk_documents(
                docs_todo, chunk_size=chunk_size, chunk_overlap=chunk_overlap
            ).persist(StorageLevel.MEMORY_AND_DISK)
            chunks = checkpoint_stage(
                spark, new_chunks, ckpt_root, "chunks", chunk_keys
            )

            # -- stage 3: records; manifest = processed (chunk_id, url)
            chunks_todo = _todo(
                spark, chunks, path("done_record_chunks"), chunk_keys
            )
            records = checkpoint_stage(
                spark, extract_records(chunks_todo), ckpt_root, "records",
                ["chunk_id", "url", "kind", "f1", "f2", "f3"],
            )
            writes.submit(
                _manifest(chunks_todo, chunk_keys, path("done_record_chunks"))
            )

            # -- final tables: recomputed from the full records table --
            labels = (
                alias_labels(alias_dict).localCheckpoint(eager=True)
                if alias_dict is not None
                else None
            )
            g = records_to_graph(records, labels)
            finals = {
                "nodes": g["nodes"],
                "edges": g["edges"],
                "triples": g["triples"],
                "coverage": coverage_by_url(g["triples"]),
            }
            for name, df in finals.items():
                writes.submit((df.write.mode("overwrite"), path(name)))

            # -- lineage, then the chunk manifest: one task -----------
            # Both lineage writes go under lineage/.  chunk->triple is
            # derived from the FULL triples every run, so it is
            # overwritten (append would duplicate rows on each resume).
            # The chunk manifest comes after the doc->chunk lineage:
            # writing it refreshes every cached plan that reads it, and
            # new_chunks does (through the anti-join), so a lineage
            # read after it would see no new chunks.
            triple_ids = g["triples"].withColumn(
                "triple_id",
                F.md5(F.concat_ws("\x1f", "subj", "pred", "obj")),
            )
            writes.submit(
                append_lineage(
                    lineage_edges(new_chunks, "doc_id", "chunk_id",
                                  "doc_to_chunk"),
                    ckpt_root,
                ),
                overwrite_lineage(
                    lineage_edges(triple_ids, "chunk_id", "triple_id",
                                  "chunk_to_triple"),
                    ckpt_root,
                    "chunk_to_triple",
                ),
                _manifest(docs_todo, ["url"], path("done_chunk_docs")),
            )
    finally:
        if new_chunks is not None:
            new_chunks.unpersist()

    # read only now: a file listing taken before a write finished
    # would miss its files
    out = {
        name: spark.read.schema(df.schema).parquet(path(name))
        for name, df in finals.items()
    }
    out.update({"docs": docs, "chunks": chunks, "records": records})
    return out
