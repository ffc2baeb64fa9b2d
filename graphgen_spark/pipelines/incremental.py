"""Incremental KG maintenance: fold new page batches into an existing
graph WITHOUT recomputing it from scratch.

The reference rebuilds the graph store per run (the KV checkpoint only
skips already-processed chunks inside one run,
``bases/base_operator.py:120-145``); at 10^12 documents a daily crawl
delta must instead merge into the standing nodes/edges tables.  The
node/edge merge state is a commutative monoid (operators/merge.py
``_capped_aggs``):

- ``n_mentions``                       — additive
- ``descs`` / ``srcs`` capped sets     — K-smallest-of-union composes
- ``node_types(entity_name, type, cnt)`` — additive (majority type is
  derived at finalize time, never stored)

so ``finalize(state(A) ⊕ state(B)) == finalize(state(A ∪ B))`` exactly
— asserted bit-for-bit in tests/test_incremental.py.  State tables are
persisted as snapshot tables (catalog.py) for atomic commits, time
travel, and rollback of a bad crawl batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphgen_spark.operators.merge import (
    _capped_aggs,
    _merge_capped,
    finalize_edges,
    finalize_nodes,
    node_type_counts,
)

STATE_TABLES = ("node_aggs", "node_types", "edge_aggs")


def kg_state_from_records(
    records: DataFrame, labels: DataFrame | None = None
) -> dict[str, DataFrame]:
    """records (long format, operators/kg_extract.py) -> the mergeable
    per-batch state dict, over the canonicalized entities / relations
    of the shared records -> graph tail."""
    from graphgen_spark.pipelines.kg_pipeline import records_to_graph

    g = records_to_graph(records, labels)
    entities, relations = g["entities"], g["relations"]
    return {
        "node_aggs": _capped_aggs(entities, ["entity_name"]),
        "node_types": node_type_counts(entities),
        "edge_aggs": _capped_aggs(relations, ["src_id", "tgt_id"]),
    }


def merge_kg_state(
    a: dict[str, DataFrame], b: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """state(A) ⊕ state(B): one hash-aggregate shuffle per table (the
    union sides are already reduced to one row per key, so the combine
    is linear in distinct keys, never in raw mentions)."""
    node_aggs = (
        a["node_aggs"].unionByName(b["node_aggs"])
        .groupBy("entity_name")
        .agg(
            _merge_capped("descs").alias("descs"),
            _merge_capped("srcs").alias("srcs"),
            F.sum("n_mentions").alias("n_mentions"),
        )
    )
    node_types = (
        a["node_types"].unionByName(b["node_types"])
        .groupBy("entity_name", "entity_type")
        .agg(F.sum("cnt").alias("cnt"))
    )
    edge_aggs = (
        a["edge_aggs"].unionByName(b["edge_aggs"])
        .groupBy("src_id", "tgt_id")
        .agg(
            _merge_capped("descs").alias("descs"),
            _merge_capped("srcs").alias("srcs"),
            F.sum("n_mentions").alias("n_mentions"),
        )
    )
    return {
        "node_aggs": node_aggs,
        "node_types": node_types,
        "edge_aggs": edge_aggs,
    }


def finalize_kg_state(
    state: dict[str, DataFrame],
) -> dict[str, DataFrame]:
    """Mergeable state -> final nodes/edges tables (summary gate,
    token length, majority type, endpoint semi-join) — identical
    output to merge_nodes/merge_edges over the union of all batches.
    Edge endpoints are checked against the node state's names (one
    row per node), the same rule records_to_graph applies to the
    entities."""
    nodes = finalize_nodes(state["node_aggs"], state["node_types"])
    edges = finalize_edges(state["edge_aggs"], state["node_aggs"])
    return {"nodes": nodes, "edges": edges}


def commit_kg_state(
    spark: SparkSession,
    state: dict[str, DataFrame],
    location: str,
) -> dict[str, int]:
    """Persist the state dict as snapshot tables (atomic pointer swap
    per table; a bad crawl batch rolls back with snapshot_rollback).
    Each snapshot overwrites: the state is already merged in full, so
    an append would double every row."""
    from graphgen_spark.catalog import snapshot_write

    return {
        name: snapshot_write(
            spark, state[name], location, name, mode="overwrite",
        )
        for name in STATE_TABLES
    }


def load_kg_state(
    spark: SparkSession, location: str
) -> dict[str, DataFrame]:
    from graphgen_spark.catalog import snapshot_read

    return {
        name: snapshot_read(spark, location, name) for name in STATE_TABLES
    }


def ingest_batch(
    spark: SparkSession,
    records: DataFrame,
    location: str,
    labels: DataFrame | None = None,
) -> dict[str, int]:
    """The per-crawl-batch entry point: extract-state from the new
    records, merge with the standing state (if any), commit a new
    snapshot of each state table."""
    new_state = kg_state_from_records(records, labels)
    from graphgen_spark.catalog import current_snapshot_id

    if current_snapshot_id(location, STATE_TABLES[0]) is not None:
        new_state = merge_kg_state(load_kg_state(spark, location), new_state)
    return commit_kg_state(spark, new_state, location)
