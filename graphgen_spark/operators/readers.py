"""Unified multi-format document readers (reference ``operators/read/
read.py:152-229`` + ``models/reader/*``).

The reference groups input files by suffix, reads each format with a
dedicated reader, validates rows (``bases/base_reader.py:32-68``:
``type`` column required; text rows with blank ``content`` dropped),
assigns md5 trace ids, unions the per-format datasets, and applies an
optional row limit.

Spark mapping: ``spark.read.{json,csv,parquet,text,binaryFile}`` per
suffix group; validation is a filter; trace ids are native md5
expressions; the union is ``unionByName(allowMissingColumns=True)``.
Directory listing/pruning is Spark's InMemoryFileIndex — the
reference's threaded ``ParallelFileScanner`` with its mtime KV cache
is unnecessary.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TEXT_SUFFIXES = {".txt", ".md"}
JSON_SUFFIXES = {".json", ".jsonl"}
CSV_SUFFIXES = {".csv"}
PARQUET_SUFFIXES = {".parquet"}
RDF_SUFFIXES = {".nt"}
TURTLE_SUFFIXES = {".ttl"}
PICKLE_SUFFIXES = {".pkl", ".pickle"}


def _suffix(path: str) -> str:
    return os.path.splitext(path)[1].lower()


def read_json_docs(
    spark: SparkSession, paths: list[str], multiline: bool | None = None
) -> DataFrame:
    """json/jsonl -> docs; nested dict ``content`` is re-serialized to
    a string (reference JSONReader schema unify,
    ``models/reader/json_reader.py:19-59``).

    The reference's canonical ``.json`` format is a pretty-printed
    whole-file array (``json.load``, see
    ``examples/input_examples/json_demo.json``), which line-oriented
    parsing silently shreds into ``_corrupt_record`` rows — so ``.json``
    defaults to ``multiLine=true`` and ``.jsonl`` to line mode, and a
    parse that yields ONLY ``_corrupt_record`` fails loudly instead of
    dropping every row downstream."""
    if multiline is None:
        # a single multiLine setting applied to a mixed .json/.jsonl
        # list silently shreds the .jsonl side: read each suffix group
        # with its own mode and unify
        json_paths = [p for p in paths if _suffix(p) == ".json"]
        other_paths = [p for p in paths if _suffix(p) != ".json"]
        if json_paths and other_paths:
            a = read_json_docs(spark, json_paths, multiline=True)
            b = read_json_docs(spark, other_paths, multiline=False)
            return a.unionByName(b, allowMissingColumns=True)
        multiline = bool(json_paths)
    df = spark.read.option(
        "multiLine", "true" if multiline else "false"
    ).json(paths)
    if set(df.columns) <= {"_corrupt_record"}:
        raise ValueError(
            f"JSON read produced no parseable columns for {paths}: "
            f"schema={df.columns}. A whole-file array needs "
            "multiline=True; one-object-per-line needs multiline=False."
        )
    if "type" not in df.columns:
        df = df.withColumn("type", F.lit("text"))
    if (
        "content" in df.columns
        and df.schema["content"].dataType.typeName() != "string"
    ):
        df = df.withColumn("content", F.to_json("content"))
    return df


def read_csv_docs(spark: SparkSession, paths: list[str]) -> DataFrame:
    return spark.read.option("header", "true").csv(paths)


def read_parquet_docs(spark: SparkSession, paths: list[str]) -> DataFrame:
    return spark.read.parquet(*paths)


def read_text_docs(spark: SparkSession, paths: list[str]) -> DataFrame:
    """one doc per file: binaryFile scan + utf-8 decode (reference
    TXTReader, ``models/reader/txt_reader.py:11-36``)."""
    df = spark.read.format("binaryFile").load(paths)
    return df.select(
        F.lit("text").alias("type"),
        F.decode(F.col("content"), "UTF-8").alias("content"),
        F.col("path").alias("source_path"),
    )


def read_pickle_docs(spark: SparkSession, paths: list[str]) -> DataFrame:
    """pickle -> docs (reference PickleReader,
    ``models/reader/pickle_reader.py:12-80``: each file holds a
    ``list[dict]`` with at least ``type`` (+ ``content`` for text);
    non-list / non-dict payloads are dropped with the same leniency).

    Spark mapping: ``binaryFile`` scan + an Arrow-batched unpickle.
    The reference flattens arbitrary keys; here the schema is stable —
    ``type``/``content``/``source_path`` columns plus the remaining
    keys re-serialized into a ``meta`` JSON string."""
    import json
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("type", T.StringType(), True),
            T.StructField("content", T.StringType(), True),
            T.StructField("meta", T.StringType(), True),
            T.StructField("source_path", T.StringType(), True),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pickle

        for pdf in batches:
            rows = []
            for path, blob in zip(pdf["path"], pdf["content"]):
                try:
                    data = pickle.loads(bytes(blob))
                except Exception:
                    continue
                if not isinstance(data, list):
                    continue
                for item in data:
                    if not isinstance(item, dict):
                        continue
                    extra = {
                        k: v for k, v in item.items()
                        if k not in ("type", "content")
                    }
                    # default=str: the reference PickleReader tolerates
                    # arbitrary values (datetime/bytes/numpy); one bad
                    # value must not fail the whole Spark task
                    rows.append(
                        (
                            item.get("type"),
                            item.get("content"),
                            json.dumps(extra, sort_keys=True, default=str)
                            if extra else None,
                            path,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["type", "content", "meta", "source_path"],
            )

    df = spark.read.format("binaryFile").load(paths)
    return df.select("path", "content").mapInPandas(gen, schema=out_schema)


def validate_docs(df: DataFrame) -> DataFrame:
    """Reader validation (``base_reader.py:54-68``): require ``type``;
    drop text rows whose content is blank."""
    if "type" not in df.columns:
        raise ValueError("missing required column: type")
    if "content" not in df.columns:
        df = df.withColumn("content", F.lit(None).cast("string"))
    return df.where(
        (F.col("type") != "text")
        | (
            F.col("content").isNotNull()
            & (F.trim(F.col("content")) != "")
        )
    )


# Groups: 1=subj iri, 2=subj bnode, 3=pred,
#         4=obj iri, 5=obj bnode, 6=obj literal body.
# The literal tail is an EXPLICIT datatype/lang-tag alternative —
# a lazy [^.]* cannot cross the dots inside XSD datatype IRIs
# ("5"^^<http://www.w3.org/2001/XMLSchema#integer>) and would drop
# every typed literal.
_NT_LINE = (
    r'^\s*(?:<([^>]*)>|(_:\S+))\s+'                  # subject
    r'<([^>]*)>\s+'                                  # predicate
    r'(?:<([^>]*)>|(_:\S+)|"((?:[^"\\]|\\.)*)"'      # object
    r'(?:\^\^<[^>]*>|@[A-Za-z0-9-]+)?)'              # ^^<dtype> | @lang
    r'\s*\.\s*$'
)


def _unescape_nt_literal(col):
    """N-Triples literal escapes (\\" \\n \\t \\\\ \\uXXXX) are a
    subset of JSON string escapes -> unescape JVM-side via from_json;
    fall back to the raw body for sequences JSON lacks (\\UXXXXXXXX)."""
    unescaped = F.from_json(
        F.concat(F.lit('["'), col, F.lit('"]')), "array<string>"
    )[0]
    return F.coalesce(unescaped, col)


def read_rdf_docs(spark: SparkSession, paths: list[str]) -> DataFrame:
    """N-Triples -> one doc per subject (reference RDFReader,
    ``models/reader/rdf_reader.py:71-134``: content = joined literal
    objects, ``properties`` = predicate -> objects map).

    Spark mapping: line-oriented N-Triples is the one RDF syntax that
    scans distributed — ``spark.read.text`` + JVM regex parse +
    groupBy(subject); no rdflib, no per-row Python.  (Turtle/OWL need
    a stateful parser and a whole-file read; out of scope like the
    reference's other external-tool readers.)
    """
    lines = spark.read.text(paths).select(
        F.col("value"),
        F.input_file_name().alias("source_path"),
    )
    parsed = lines.select(
        F.concat(
            F.regexp_extract("value", _NT_LINE, 1),
            F.regexp_extract("value", _NT_LINE, 2),
        ).alias("subj"),
        F.regexp_extract("value", _NT_LINE, 3).alias("pred"),
        F.concat(
            F.regexp_extract("value", _NT_LINE, 4),
            F.regexp_extract("value", _NT_LINE, 5),
        ).alias("obj_res"),
        F.regexp_extract("value", _NT_LINE, 6).alias("obj_lit"),
        "source_path",
    ).where((F.col("subj") != "") & (F.col("pred") != ""))
    triples = parsed.select(
        "subj",
        "pred",
        F.when(F.col("obj_res") != "", F.col("obj_res"))
        .otherwise(_unescape_nt_literal(F.col("obj_lit")))
        .alias("obj"),
        (F.col("obj_res") == "").alias("is_literal"),
        "source_path",
    )
    return _rdf_docs_from_triples(triples)


def _rdf_docs_from_triples(triples: DataFrame) -> DataFrame:
    """triples(subj, pred, obj, is_literal, source_path) -> one doc per
    subject (shared tail of the N-Triples and Turtle readers)."""
    # two-level agg: pred-level object lists first (reference props
    # are pred -> list), then subject-level map + joined literals;
    # everything sorted for cross-parallelism determinism
    per_pred = triples.groupBy("subj", "source_path", "pred").agg(
        F.array_sort(F.collect_list("obj")).alias("objs"),
        F.array_sort(
            F.collect_list(F.when(F.col("is_literal"), F.col("obj")))
        ).alias("lits"),
    )
    return (
        per_pred.groupBy("subj", "source_path")
        .agg(
            F.array_join(
                F.flatten(F.array_sort(F.collect_list("lits"))), " "
            ).alias("content"),
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("pred", "objs")))
            ).alias("properties"),
        )
        .select(
            F.lit("text").alias("type"),
            F.col("subj").alias("id"),
            F.trim("content").alias("content"),
            "properties",
            "source_path",
        )
    )


_TTL_TOKEN = re.compile(
    r"""
      <[^>]*>                                   # IRI
    | "(?:[^"\\]|\\.)*"(?:\^\^<[^>]*>|\^\^(?:[A-Za-z_][\w.-]*)?:[\w.-]+
                          |@[A-Za-z0-9-]+)?     # literal (+dtype|lang)
    | (?:[A-Za-z_][\w.-]*)?:[\w.-]*             # prefixed name ('' pfx ok)
    | \ba\b                                     # rdf:type keyword
    | [;,.\[\]()]                               # punctuation
    """,
    re.VERBOSE,
)


def _parse_turtle(text: str) -> list[tuple[str, str, str, bool]]:
    """Minimal Turtle subset parser -> (subj, pred, obj, is_literal).

    Covers the common profile: ``@prefix`` / ``PREFIX`` declarations,
    IRIs, prefixed names, ``a``, literals with datatype/lang tags,
    ``;`` predicate lists and ``,`` object lists, ``#`` comments.
    (Blank-node property lists / collections / multi-line literals are
    out of this subset — the reference delegates those to rdflib, an
    external-library boundary documented like the other n/a readers.)
    """
    # strip comments line by line — a '#' inside a quoted literal OR
    # inside an <IRI> (e.g. the XMLSchema# namespace) is NOT a comment
    lines = []
    for line in text.splitlines():
        out, in_q, in_iri = [], False, False
        i = 0
        while i < len(line):
            ch = line[i]
            if ch == '"' and not in_iri and (
                i == 0 or line[i - 1] != "\\"
            ):
                in_q = not in_q
            elif ch == "<" and not in_q:
                in_iri = True
            elif ch == ">" and not in_q:
                in_iri = False
            if ch == "#" and not in_q and not in_iri:
                break
            out.append(ch)
            i += 1
        lines.append("".join(out))
    body = "\n".join(lines)

    prefixes: dict[str, str] = {}
    for m in re.finditer(
        r"(?:@prefix|PREFIX)\s+([\w.-]*):\s*<([^>]*)>\s*\.?",
        body, re.IGNORECASE,
    ):
        prefixes[m.group(1)] = m.group(2)
    body = re.sub(
        r"(?:@prefix|PREFIX)\s+[\w.-]*:\s*<[^>]*>\s*\.?", "", body,
        flags=re.IGNORECASE,
    )
    body = re.sub(r"(?:@base|BASE)\s+<[^>]*>\s*\.?", "", body,
                  flags=re.IGNORECASE)

    def resolve(tok: str) -> tuple[str, bool]:
        """-> (value, is_literal)"""
        if tok.startswith("<"):
            return tok[1:-1], False
        if tok.startswith('"'):
            end = tok.rindex('"')
            lit = tok[1:end]
            lit = (
                lit.replace('\\"', '"').replace("\\n", "\n")
                .replace("\\t", "\t").replace("\\r", "\r")
                .replace("\\\\", "\\")
            )
            return lit, True
        if tok == "a":
            return "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", False
        if ":" in tok:
            pfx, local = tok.split(":", 1)
            if pfx in prefixes:
                return prefixes[pfx] + local, False
        return tok, False

    triples: list[tuple[str, str, str, bool]] = []
    # statements terminated by '.'
    tokens = _TTL_TOKEN.findall(body)
    stmt: list[str] = []
    for tok in tokens:
        if tok == ".":
            if len(stmt) >= 3:
                subj = stmt[0]
                pred = None
                i = 1
                while i < len(stmt):
                    t = stmt[i]
                    if t == ";":
                        pred = None
                        i += 1
                        continue
                    if t == ",":
                        i += 1
                        continue
                    if pred is None:
                        pred = t
                    elif not pred.startswith('"'):
                        # a literal in predicate position is malformed
                        # Turtle — drop the group, never emit it
                        s, _ = resolve(subj)
                        p, _ = resolve(pred)
                        o, is_lit = resolve(t)
                        triples.append((s, p, o, is_lit))
                    i += 1
            stmt = []
        else:
            stmt.append(tok)
    return triples


def read_turtle_docs(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Turtle (.ttl) -> one doc per subject, same contract as
    ``read_rdf_docs`` (content = joined literal objects, ``properties``
    = pred -> sorted objects map).  Turtle is not line-splittable, so
    the distributed unit is the FILE (binaryFile scan + per-file
    subset parser) — matching the reference's rdflib whole-file
    semantics (``models/reader/rdf_reader.py:30-70``)."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    triple_schema = T.StructType(
        [
            T.StructField("subj", T.StringType(), False),
            T.StructField("pred", T.StringType(), False),
            T.StructField("obj", T.StringType(), True),
            T.StructField("is_literal", T.BooleanType(), False),
            T.StructField("source_path", T.StringType(), False),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, blob in zip(pdf["path"], pdf["content"]):
                try:
                    text = bytes(blob).decode("utf-8")
                except UnicodeDecodeError:
                    continue
                for s, p, o, lit in _parse_turtle(text):
                    rows.append((s, p, o, lit, path))
            yield pd.DataFrame(
                rows,
                columns=["subj", "pred", "obj", "is_literal",
                         "source_path"],
            )

    raw = spark.read.format("binaryFile").load(paths)
    triples = raw.select("path", "content").mapInPandas(
        gen, schema=triple_schema
    )
    return _rdf_docs_from_triples(triples)


def with_trace_id(df: DataFrame, op: str = "read") -> DataFrame:
    """Deterministic md5 trace id over the sorted row content
    (reference ``utils/hash.py:12-14`` + ``read.py:132-142``)."""
    cols = sorted(c for c in df.columns if not c.startswith("_"))
    # coalesce each column to a NULL sentinel: concat_ws SKIPS nulls,
    # so (a, NULL, b) and (a, b, NULL) would otherwise collide and the
    # checkpoint anti-join would silently drop one of them
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
        for c in cols
    ]
    return df.withColumn(
        "_trace_id",
        F.concat(F.lit(f"{op}-"), F.md5(F.concat_ws("\x1f", *parts))),
    )


def read_documents(
    spark: SparkSession,
    input_paths: list[str],
    read_nums: int | None = None,
) -> DataFrame:
    """Multi-format unified read: group by suffix, per-format read,
    validate, trace-id, union, optional limit (reference
    ``read.py:152-229``)."""
    groups: dict[str, list[str]] = {}
    for p in input_paths:
        groups.setdefault(_suffix(p), []).append(p)

    parts: list[DataFrame] = []
    for suffix, paths in sorted(groups.items()):
        if suffix in JSON_SUFFIXES:
            df = read_json_docs(spark, paths)
        elif suffix in CSV_SUFFIXES:
            df = read_csv_docs(spark, paths)
        elif suffix in PARQUET_SUFFIXES:
            df = read_parquet_docs(spark, paths)
        elif suffix in TEXT_SUFFIXES:
            df = read_text_docs(spark, paths)
        elif suffix in RDF_SUFFIXES:
            df = read_rdf_docs(spark, paths).drop("properties")
        elif suffix in TURTLE_SUFFIXES:
            df = read_turtle_docs(spark, paths).drop("properties")
        elif suffix in PICKLE_SUFFIXES:
            df = read_pickle_docs(spark, paths)
        else:
            raise ValueError(f"unsupported suffix: {suffix}")
        if "type" not in df.columns:
            df = df.withColumn("type", F.lit("text"))
        parts.append(with_trace_id(validate_docs(df)))

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    if read_nums is not None:
        out = out.limit(read_nums)
    return out
