"""Spark-native operators mirroring the reference operator registry
(``graphgen/operators/__init__.py:14-27``): read, chunk, build_kg,
quiz, judge, partition, generate, evaluate, filter — re-expressed as
DataFrame transforms + Arrow-vectorized pandas UDFs."""

from graphgen_spark.operators.text import html_to_text, with_extracted_text
from graphgen_spark.operators.chunking import chunk_documents
from graphgen_spark.operators.kg_extract import (
    extract_records,
    entities_from_records,
    relations_from_records,
)
from graphgen_spark.operators.merge import merge_nodes, merge_edges
from graphgen_spark.operators.components import connected_components

__all__ = [
    "html_to_text",
    "with_extracted_text",
    "chunk_documents",
    "extract_records",
    "entities_from_records",
    "relations_from_records",
    "merge_nodes",
    "merge_edges",
    "connected_components",
]
