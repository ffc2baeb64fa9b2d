"""Graph structure metrics + coverage statistics as grouped aggregations.

Reference: StructureEvaluator
(``graphgen/models/evaluator/kg/structure_evaluator.py:25-106``) — total
nodes/edges, noise (isolated-node) ratio, largest-CC ratio, average
degree, power-law R² of the degree distribution.  R² of the log-log
linear fit equals corr(log d, log f)², so it is a single native
aggregate — no scipy, no driver-side loops.

Coverage statistics (north_rule "comprehension-loss-style coverage"):
per-url grouped aggregates over the triples table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphgen_spark.operators.components import connected_components


def degree_table(edges: DataFrame) -> DataFrame:
    """edges(src_id, tgt_id) -> (entity_name, degree); each undirected
    edge contributes 1 to both endpoints."""
    return (
        edges.select(
            F.explode(F.array("src_id", "tgt_id")).alias("entity_name")
        )
        .groupBy("entity_name")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def structure_metrics(
    nodes: DataFrame, edges: DataFrame, cc_labels: DataFrame | None = None
) -> dict:
    """Whole-graph structural robustness metrics (driver-side scalars,
    computed with three aggregate jobs)."""
    total_nodes = nodes.count()
    total_edges = edges.count()
    if total_nodes == 0:
        return {
            "total_nodes": 0, "total_edges": 0, "noise_ratio": 0.0,
            "largest_cc_ratio": 0.0, "avg_degree": 0.0, "powerlaw_r2": None,
            "is_robust": False,
        }

    deg = degree_table(edges)
    with_deg = nodes.join(
        deg, nodes.entity_name == deg.entity_name, "left"
    ).select(F.coalesce(deg.degree, F.lit(0)).alias("degree"))
    isolated = with_deg.where(F.col("degree") == 0).count()
    sum_degree = with_deg.agg(F.sum("degree")).collect()[0][0] or 0

    # power-law R²: corr(log degree, log freq)² over the degree histogram
    hist = (
        with_deg.where(F.col("degree") > 0)
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    n_pos = with_deg.where(F.col("degree") > 0).count()
    r2 = None
    if n_pos >= 10:
        row = hist.agg(
            F.corr(F.log("degree"), F.log("freq")).alias("c"),
            F.count(F.lit(1)).alias("k"),
        ).collect()[0]
        if row["k"] >= 3 and row["c"] is not None:
            r2 = float(row["c"]) ** 2

    if cc_labels is None:
        cc_labels = connected_components(edges)
    largest_cc = (
        cc_labels.groupBy("component")
        .agg(F.count(F.lit(1)).alias("sz"))
        .agg(F.max("sz"))
        .collect()[0][0]
        or 0
    )

    noise_ratio = isolated / total_nodes
    largest_cc_ratio = largest_cc / total_nodes
    avg_degree = sum_degree / total_nodes
    return {
        "total_nodes": total_nodes,
        "total_edges": total_edges,
        "noise_ratio": noise_ratio,
        "largest_cc_ratio": largest_cc_ratio,
        "avg_degree": avg_degree,
        "powerlaw_r2": r2,
        "is_robust": (
            noise_ratio < 0.15
            and largest_cc_ratio > 0.90
            and 2.0 <= avg_degree <= 5.0
            and (r2 is not None and r2 > 0.75)
        ),
    }


def _n_distinct(col: str):
    """countDistinct without its Expand.  Spark plans distinct
    aggregates as an Expand feeding a second aggregate whose generated
    code varies from plan to plan (split-function parameter order), so
    repeated calls kept compiling new classes.  Both forms skip nulls;
    the cast keeps countDistinct's bigint."""
    return F.size(F.collect_set(col)).cast("long")


def coverage_by_url(triples: DataFrame) -> DataFrame:
    """Per-url coverage: triple count, distinct subjects/objects/
    predicates, distinct source chunks — one hash-aggregate shuffle."""
    return triples.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_triples"),
        _n_distinct("subj").alias("n_subjects"),
        _n_distinct("obj").alias("n_objects"),
        _n_distinct("pred").alias("n_predicates"),
        _n_distinct("chunk_id").alias("n_chunks"),
    )
