"""Fused extraction fast path: pages -> records in ONE Python hop.

The composable operators (text -> chunking -> kg_extract) chain three
Arrow boundary crossings; Spark fuses them into one stage but each
pandas-UDF eval is its own Python worker process, so a 16-task stage
runs ~3x16 Python workers — serialization and scheduler pressure that
caps scaling well below core count.  This module runs the identical
kernels (page_text -> detect_main_language -> split_text ->
mock_llm_response -> parse) inside a single ``mapInPandas`` function:
one Python worker per task, one Arrow hop in, one out.

``_pages`` is the one per-page kernel loop.  Two hops drive it:

- ``pages_to_records``: records only (optionally linked map-side) —
  the in-memory build path;
- ``pages_to_stages``: every row the checkpointed commit lands — one
  docs row per page, then per chunk its chunks row and its raw records
  — tagged by ``stage``; ``stage_rows`` projects one stage back out.

Output is bit-identical to the composed path (verified by test) —
this is plan-level fusion, not a semantic variant.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphgen_spark.operators.chunking import CHUNKS_SCHEMA
from graphgen_spark.operators.kg_extract import RECORDS_SCHEMA

# stage -> its columns in the tagged pages_to_stages output
STAGE_COLUMNS = {
    "docs": ["url", "text", "warc_ts"],
    "chunks": CHUNKS_SCHEMA.names,
    "records": RECORDS_SCHEMA.names,
}


def _pages(
    urls, htmls, chunk_size: int, chunk_overlap: int,
    respond: Callable[[str], str],
) -> Iterator[tuple]:
    """The per-page kernel loop, run inside a Python worker.

    Yields ``(url, text, language, chunks)`` per page, where ``chunks``
    lists ``(piece, chunk_id, entities, relations)`` in split order.  A
    page with blank text (null html included) has no language and no
    chunks; a chunk whose response is empty has no entities or
    relations.
    """
    from graphgen_spark.extraction import parse_extraction_response
    from graphgen_spark.operators.text import page_text
    from graphgen_spark.splitter import split_text
    from graphgen_spark.textkit import (
        count_tokens,
        detect_main_language,
        md5_hex,
    )

    for url, html in zip(urls, htmls):
        text = page_text(html)
        if not text.strip():
            yield url, text, None, []
            continue
        language = detect_main_language(text)
        chunks = []
        for piece in split_text(
            text, language=language, chunk_size=chunk_size,
            chunk_overlap=chunk_overlap, length_fn=count_tokens,
        ):
            chunk_id = "chunk-" + md5_hex(piece)
            response = respond(piece)
            entities, relations = (
                parse_extraction_response(response, chunk_id)
                if response else ([], [])
            )
            chunks.append((piece, chunk_id, entities, relations))
        yield url, text, language, chunks


def _record_rows(chunk_id, url, entities, relations, label_map):
    """One chunk's records rows; linked (canonical names, endpoints
    sorted, self-loops dropped) when ``label_map`` is given."""
    if label_map is None:
        for e in entities:
            yield (chunk_id, url, "entity", e["entity_name"],
                   e["entity_type"], e["description"])
        for r in relations:
            yield (chunk_id, url, "relationship", r["src_id"],
                   r["tgt_id"], r["description"])
        return
    get = label_map.get
    for e in entities:
        name = e["entity_name"]
        yield (chunk_id, url, "entity", get(name, name), e["entity_type"],
               e["description"])
    for r in relations:
        s = get(r["src_id"], r["src_id"])
        t = get(r["tgt_id"], r["tgt_id"])
        if s == t:
            continue
        if s > t:
            s, t = t, s
        yield (chunk_id, url, "relationship", s, t, r["description"])


def pages_to_records(
    pages: DataFrame,
    chunk_size: int = 1024,
    chunk_overlap: int = 100,
    responder: Callable[[str], str] | None = None,
    label_map_bc=None,
) -> DataFrame:
    """pages(url, html) -> records(chunk_id, url, kind, f1,f2,f3).

    ``label_map_bc``: optional ``sc.broadcast({alias_norm:
    canonical_key})`` — entity linking runs map-side inside this same
    Python hop (the broadcast-hash join executed in the worker; right
    whenever the dictionary fits in executor memory).  Emitted entity
    names and relation endpoints are then canonical, endpoints sorted,
    self-loops dropped — equivalent to the JVM canonicalize stage.
    """
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from graphgen_spark.extraction import mock_llm_response

        respond = responder or mock_llm_response
        label_map = label_map_bc.value if label_map_bc is not None else None
        for pdf in batches:
            rows = []
            for url, _, _, chunks in _pages(
                pdf["url"], pdf["html"], chunk_size, chunk_overlap, respond
            ):
                for _, chunk_id, entities, relations in chunks:
                    rows.extend(_record_rows(
                        chunk_id, url, entities, relations, label_map
                    ))
            yield pd.DataFrame(rows, columns=RECORDS_SCHEMA.names)

    return pages.select("url", "html").mapInPandas(
        gen, schema=RECORDS_SCHEMA
    )


def pages_to_stages(
    pages: DataFrame,
    chunk_size: int = 1024,
    chunk_overlap: int = 100,
) -> DataFrame:
    """pages(url, warc_ts, html) -> every docs, chunks and records row of
    those pages, in one Python hop, tagged by ``stage``.

    Per page: one docs row ``(url, text, warc_ts)`` (blank text
    included), then per chunk one chunks row (``CHUNKS_SCHEMA``) and
    that chunk's raw, unlinked records rows (``RECORDS_SCHEMA``).  The
    rows equal ``with_extracted_text`` -> ``chunk_documents`` ->
    ``extract_records`` on the same pages.  Columns a stage does not
    use are null; ``stage_rows`` projects one stage out.
    """
    fields = {f.name: f for f in (*CHUNKS_SCHEMA, *RECORDS_SCHEMA)}
    fields["text"] = T.StructField("text", T.StringType())
    fields["warc_ts"] = pages.schema["warc_ts"]
    schema = T.StructType(
        [T.StructField("stage", T.StringType(), False)]
        + [T.StructField(name, f.dataType, True)
           for name, f in fields.items()]
    )
    columns = schema.names

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from graphgen_spark.extraction import mock_llm_response
        from graphgen_spark.textkit import count_tokens, md5_hex

        for pdf in batches:
            out = {name: [] for name in columns}

            def emit(**values):
                for name, col in out.items():
                    col.append(values.get(name))

            pages_out = _pages(
                pdf["url"], pdf["html"], chunk_size, chunk_overlap,
                mock_llm_response,
            )
            for ts, (url, text, language, chunks) in zip(
                pdf["warc_ts"], pages_out
            ):
                emit(stage="docs", url=url, text=text, warc_ts=ts)
                doc_id = "doc-" + md5_hex(text) if chunks else None
                for idx, (piece, chunk_id, entities, relations) in (
                    enumerate(chunks)
                ):
                    emit(stage="chunks", chunk_id=chunk_id, url=url,
                         doc_id=doc_id, content=piece, language=language,
                         n_tokens=count_tokens(piece), chunk_index=idx)
                    for _, _, kind, f1, f2, f3 in _record_rows(
                        chunk_id, url, entities, relations, None
                    ):
                        emit(stage="records", chunk_id=chunk_id, url=url,
                             kind=kind, f1=f1, f2=f2, f3=f3)
            frame = pd.DataFrame(out)
            for name in ("n_tokens", "chunk_index"):
                frame[name] = frame[name].astype("Int32")
            yield frame

    return pages.select("url", "warc_ts", "html").mapInPandas(gen, schema)


def stage_rows(stages: DataFrame, stage: str) -> DataFrame:
    """One stage's rows of a ``pages_to_stages`` output, in its own
    columns (``STAGE_COLUMNS``)."""
    return stages.where(F.col("stage") == stage).select(
        *STAGE_COLUMNS[stage]
    )
