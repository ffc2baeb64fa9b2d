"""Checkpointed, resumable materialization of the KG pipeline.

Stage tables under ``ckpt_root``:

    docs/      (url-keyed)           — extracted text, one row per page
    chunks/    (chunk_id, url)       — chunked docs
    records/   (content-addressed)   — raw (unlinked) extraction records
    done_chunk_docs/ (url)           — the one processed-page manifest
    nodes/ edges/ triples/ coverage/ — final tables (recomputed from
                                       the full records table through
                                       ``records_to_graph``, the one
                                       records -> graph tail every entry
                                       point shares, so the graph is
                                       re-linked on every commit.  Merge
                                       aggregates are cheap relative to
                                       extraction, and union-new+old →
                                       groupBy is the reference's own
                                       merge semantics)
    lineage/op=doc_to_chunk/,        — (src_id, dst_id) per op
    lineage/op=chunk_to_triple/
    _metrics/<stage>/                — observed row counts per commit

One hop.  The pages not yet in ``done_chunk_docs`` go through ONE
fused Python pass (``fused.pages_to_stages``) that emits, per page, its
docs row, then per chunk its chunks row and raw records rows, tagged by
stage.  That output is persisted; the three stage appends are
projections of it, so the Python hop runs once per commit.

Only hop -> records append -> graph blocks the caller.  The records
append runs on the caller thread and its read-back feeds
``records_to_graph``.  Everything else goes to ``OffPathWrites`` and
runs beside that chain:

    alias_labels     — started as soon as the appends are prepared, so
                       it runs beside the hop; the graph tail waits
                       for it
    docs append, chunks append, doc->chunk lineage, done_chunk_docs —
                       one task, in this order, submitted once the
                       records append has returned
    nodes, edges, triples, coverage, chunk->triple lineage — one task
                       each (the two lineage ops own separate partition
                       directories)

Why the manifest goes last: a url in ``done_chunk_docs`` must imply
that its docs, chunks and records rows all landed, so it is written
after all three appends (a crash before it only causes idempotent
reprocessing: every append anti-joins on its content-hash keys).  It
must also follow every reader of the persisted hop output: the hop
reads ``done_chunk_docs`` through its anti-join, and writing that
manifest re-caches every cached plan over it, after which the hop
would recompute as empty.  Roots written before the single manifest
also hold ``done_docs`` / ``done_record_chunks``; they are ignored,
since their ``done_chunk_docs`` was likewise written last.

Stage counts cost no job: each append carries ``observe`` metrics
(rows appended; rows offered and skipped where the anti-join ran),
written under ``_metrics/<stage>`` by a local parquet write once every
write has finished.  No two concurrent writes share a directory; every
table is read with its known schema (no schema-inference job).
``run_checkpointed`` returns only after every write has finished, and
re-raises the first failure.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphgen_spark.operators.checkpointing import (
    OffPathWrites,
    Write,
    checkpoint_stage,
    lineage_edges,
    lineage_write,
    write_metrics,
)
from graphgen_spark.operators.fused import (
    STAGE_COLUMNS,
    pages_to_stages,
    stage_rows,
)
from graphgen_spark.operators.stats import coverage_by_url
from graphgen_spark.pipelines.kg_pipeline import (
    alias_labels,
    records_to_graph,
)

# stage -> the keys its append anti-joins on
STAGE_KEYS = {
    "docs": ["url"],
    "chunks": ["chunk_id", "url"],
    "records": STAGE_COLUMNS["records"],
}


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

    manifest = path("done_chunk_docs")

    hop = None
    try:
        with OffPathWrites(spark) as writes:
            # -- one hop over the new pages; read by every append and
            # the doc->chunk lineage, so it is persisted
            new_pages = _todo(spark, pages, manifest, ["url"])
            hop = pages_to_stages(
                new_pages, chunk_size=chunk_size, chunk_overlap=chunk_overlap
            ).persist(StorageLevel.MEMORY_AND_DISK)
            stages = {
                stage: checkpoint_stage(
                    spark, stage_rows(hop, stage), ckpt_root, stage, keys
                )
                for stage, keys in STAGE_KEYS.items()
            }

            # -- labels, beside the hop.  Started once the appends are
            # prepared: until the graph tail waits for them, the caller
            # calls no layer function (perfbench's spans nest on one
            # stack and would interleave with the labels' own)
            labels = (
                writes.run(
                    lambda: alias_labels(alias_dict).localCheckpoint(
                        eager=True
                    )
                )
                if alias_dict is not None
                else None
            )

            # -- records: appended on the caller, read back for the graph
            writer, records_path = stages["records"].write
            writer.parquet(records_path)
            records = stages["records"].read(spark)

            # -- docs, chunks, doc->chunk lineage, then the manifest
            writes.submit(
                stages["docs"].write,
                stages["chunks"].write,
                lineage_write(
                    lineage_edges(stage_rows(hop, "chunks"), "doc_id",
                                  "chunk_id", "doc_to_chunk"),
                    ckpt_root, "doc_to_chunk", "append",
                ),
                _manifest(stage_rows(hop, "docs"), ["url"], manifest),
            )

            # -- final tables: recomputed from the full records table --
            g = records_to_graph(
                records, labels.result() if labels is not None else None
            )
            finals = {
                "nodes": g["nodes"],
                "edges": g["edges"],
                "triples": g["triples"],
                "coverage": coverage_by_url(g["triples"]),
            }
            for name, df in finals.items():
                writes.submit((df.write.mode("overwrite"), path(name)))
            triple_ids = g["triples"].withColumn(
                "triple_id",
                F.md5(F.concat_ws("\x1f", "subj", "pred", "obj")),
            )
            writes.submit(
                lineage_write(
                    lineage_edges(triple_ids, "chunk_id", "triple_id",
                                  "chunk_to_triple"),
                    ckpt_root, "chunk_to_triple", "overwrite",
                )
            )
    finally:
        if hop is not None:
            hop.unpersist()
    write_metrics(ckpt_root, list(stages.values()))

    # read only now: a file listing taken before a write finished
    # would miss its files
    out = {
        name: spark.read.schema(df.schema).parquet(path(name))
        for name, df in finals.items()
    }
    out.update({stage: a.read(spark) for stage, a in stages.items()})
    return out
