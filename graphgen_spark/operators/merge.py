"""Node/edge merge & canonicalization aggregations.

Reference semantics (``graphgen/models/kg_builder/light_rag_kg_builder.py``):

- nodes: group by entity_name; majority entity_type (:119-123) —
  reference tie-break is Counter insertion order (data-order-dependent,
  nondeterministic under ray); we use the deterministic (count DESC,
  type ASC).  Descriptions: dedupe+sort+join '<SEP>' (:125-127);
  source_ids: set union (:130-132, kept sorted here for determinism);
  over-long descriptions pass the summary gate (:201-235) — our
  deterministic no-LLM stand-in truncates at max_summary_tokens.
- edges: group by the sorted (src,tgt) pair (``build_text_kg.py:41``);
  same desc/source merge (:171-176); edges whose endpoints are not
  nodes are dropped (:178-180) — here two left-semi joins.

All merges are single hash-aggregate shuffles with map-side partial
aggregation; no central graph store exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

SEP = "<SEP>"
MAX_SUMMARY_TOKENS = 200
# Zipf-hot entities collect 10^5+ distinct descriptions/source ids at
# scale; the merged description is truncated to MAX_SUMMARY_TOKENS
# anyway (reference summary gate), so keeping only the K
# lexicographically-smallest distinct values is a deterministic,
# semantics-bounded cap that turns an unbounded skewed reduce into a
# bounded one.  Full mention counts are preserved separately.
#
# K is DERIVED from the gate: joining k non-empty descriptions yields
# >= k + 3*(k-1) tokens under the token regex (each description >= 1
# token, each '<SEP>' junction adds 3), so the K = MAX_SUMMARY_TOKENS
# smallest distinct values always cover the gate's truncation prefix
# — the capped merge is therefore bit-identical to joining ALL sorted
# distinct descriptions and then truncating (the reference order of
# operations).  Parity-tested at the cap boundary in
# test_kg_pipeline_spark.py.
MAX_MERGED_VALUES = MAX_SUMMARY_TOKENS
N_SALTS = 16


def _capped_sorted_set(col: str, cap: int = MAX_MERGED_VALUES):
    """Aggregate: K smallest distinct values of ``col`` (deterministic
    under any partitioning)."""
    return F.slice(F.array_sort(F.collect_set(col)), 1, cap)


def _merge_capped(partials_col: str, cap: int = MAX_MERGED_VALUES):
    """Combine per-salt partial capped sets into the global K smallest."""
    return F.slice(
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list(partials_col)))
        ),
        1,
        cap,
    )


# Native (whole-stage-codegen) summary gate.  The textkit token regex
# is Java-compatible; (?U) makes Java's \s match unicode whitespace
# like Python's.  Truncation to the first K tokens = the prefix ending
# at the K-th token's end; between tokens only whitespace can occur
# (any non-ws char IS a token), so a possessive {K} repetition of
# (\s* token) reproduces text[:spans[K-1][1]] exactly.  Replacing the
# two chained pandas UDFs (summarize + count) with these expressions
# removed a ~19 s ArrowEvalPython hop from the sf0.1 edge finalize.
# TestMergeCapParity pins them against textkit.count_tokens/
# truncate_tokens, the Python definition of the gate.
_TOK_JAVA = r"(?U)[A-Za-z0-9_]+|[一-鿿]|[^\sA-Za-z0-9_一-鿿]"
_TRUNC_JAVA = (
    r"(?U)^(?:\s*+(?:[A-Za-z0-9_]++|[一-鿿]|[^\sA-Za-z0-9_一-鿿]))"
    + "{%d}" % MAX_SUMMARY_TOKENS
)


def _gated_description(joined):
    """(description, length) native expressions for a joined-desc col."""
    n_tok = F.size(F.regexp_extract_all(joined, F.lit(_TOK_JAVA), 0))
    desc = F.when(n_tok < MAX_SUMMARY_TOKENS, joined).otherwise(
        F.regexp_extract(joined, _TRUNC_JAVA, 0)
    )
    length = F.least(n_tok, F.lit(MAX_SUMMARY_TOKENS)).cast("int")
    return desc, length


def _capped_aggs(df: DataFrame, keys: list[str]) -> DataFrame:
    """Two-phase salted aggregation to the MERGEABLE per-key state:
    (keys..., descs array, srcs array, n_mentions).  Phase 1 reduces
    each hot key on N_SALTS reducers to capped partial sets + partial
    counts; phase 2 merges the tiny partials.  No single reducer ever
    sees an unbounded value list for a hot entity.

    The state is a commutative monoid (capped sorted sets compose:
    the K smallest of two K-smallest sets IS the global K smallest;
    counts are additive).  Phase 2 relies on it to merge the salted
    partials, and a fold of new batches into standing state would
    merge whole states the same way."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64("source_id", "description"), F.lit(N_SALTS))
    )
    partial = salted.groupBy(*keys, "_salt").agg(
        _capped_sorted_set("description").alias("_descs"),
        _capped_sorted_set("source_id").alias("_srcs"),
        F.count(F.lit(1)).alias("_cnt"),
    )
    return partial.groupBy(*keys).agg(
        _merge_capped("_descs").alias("descs"),
        _merge_capped("_srcs").alias("srcs"),
        F.sum("_cnt").alias("n_mentions"),
    )


def node_type_counts(entities: DataFrame) -> DataFrame:
    """(entity_name, entity_type, cnt) — the additive half of the node
    state (majority is derived at finalize time, so counts merge)."""
    return entities.groupBy("entity_name", "entity_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def majority_type(type_counts: DataFrame) -> DataFrame:
    """(entity_name, entity_type): top by (cnt desc, type asc) — the
    deterministic replacement for the reference's Counter-order tie."""
    w = Window.partitionBy("entity_name").orderBy(
        F.desc("cnt"), F.asc("entity_type")
    )
    return (
        type_counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("entity_name", "entity_type")
    )


def finalize_nodes(
    node_aggs: DataFrame, type_counts: DataFrame
) -> DataFrame:
    """Mergeable node state -> final nodes table (summary gate +
    token length + majority type)."""
    desc, length = _gated_description(F.array_join("descs", SEP))
    return (
        node_aggs.join(majority_type(type_counts), "entity_name")
        .withColumn("description", desc)
        .withColumn("length", length)
        .select(
            "entity_name", "entity_type", "description",
            F.col("srcs").alias("source_ids"), "length", "n_mentions",
        )
    )


def finalize_edges(edge_aggs: DataFrame, nodes: DataFrame) -> DataFrame:
    """Mergeable edge state -> final edges table; endpoints must both
    be an ``entity_name`` of ``nodes`` (left-semi joins, broadcast by
    AQE when that side is small).  Only that column is read, so any
    frame with the node names works: the nodes table, the node state,
    or the entities the nodes are merged from."""
    node_names = nodes.select(F.col("entity_name").alias("_nn"))
    desc, length = _gated_description(F.array_join("descs", SEP))
    return (
        edge_aggs.join(
            node_names, edge_aggs.src_id == node_names._nn, "left_semi"
        )
        .join(node_names, edge_aggs.tgt_id == node_names._nn, "left_semi")
        .withColumn("description", desc)
        .withColumn("length", length)
        .select(
            "src_id", "tgt_id", "description",
            F.col("srcs").alias("source_ids"), "length", "n_mentions",
        )
    )


def merge_nodes(entities: DataFrame) -> DataFrame:
    """entities(entity_name, entity_type, description, source_id) ->
    nodes(entity_name, entity_type, description, source_ids, length).
    """
    return finalize_nodes(
        _capped_aggs(entities, ["entity_name"]),
        node_type_counts(entities),
    )


def merge_edges(relations: DataFrame, nodes: DataFrame) -> DataFrame:
    """relations(src_id, tgt_id, description, source_id) + nodes ->
    edges(src_id, tgt_id, description, source_ids, length).

    ``nodes`` may be any frame with an ``entity_name`` column: edges
    keep the relations whose endpoints both appear there.  merge_nodes
    emits exactly one node per distinct entity_name, so passing the
    entities gives the same edges as passing their merged nodes,
    without building the node aggregation."""
    return finalize_edges(
        _capped_aggs(relations, ["src_id", "tgt_id"]), nodes
    )
