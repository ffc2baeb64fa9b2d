"""The flagship end-to-end KG construction pipeline.

pages(url, warc_ts, html, text, lang)
  -> extract_text (Arrow UDF, byte-identical per url)
  -> chunk (mapInPandas, splitter parity)            [repartition url-hash]
  -> extract records (mock-LLM grammar + parser)
  -> records_to_graph, the one records -> graph tail every entry point
     shares (this module, the checkpointed materializer, the config
     runner's build_kg node, incremental state):
       entities / relations (projections)
       -> canonicalize (alias-dict broadcast link + CC labels; drops
          self-loops on every path, with or without a dictionary)
       -> triples, and lazily merge_nodes / merge_edges
                                                     [shuffle by entity]

``fused=True`` replaces the first three hops with one Python hop
(operators.fused) that can also link map-side; the tail is the same.

Mirrors the reference flagship config
(``examples/generate/generate_aggregated_qa/aggregated_config.yaml``)
but with the graph in the dataflow instead of a storage actor.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphgen_spark.operators.chunking import chunk_documents
from graphgen_spark.operators.components import connected_components
from graphgen_spark.operators.kg_extract import (
    entities_from_records,
    extract_records,
    relations_from_records,
)
from graphgen_spark.operators.merge import merge_edges, merge_nodes
from graphgen_spark.operators.text import with_extracted_text

# Map-side linking collects the label table to the driver for a Python
# broadcast — a driver OOM with a multi-GB alias dictionary.  Past this
# many label rows the fused UDF extracts WITHOUT linking and
# canonicalize() does the same rewrite as a JVM broadcast join
# (identical records; one extra shuffle-free stage).
LABEL_MAP_MAX_ROWS = 2_000_000

# labels frame -> (row count, label-map broadcast or None if not yet
# built).  Keyed on the frame object itself (DataFrames hash by
# identity), so an entry lives exactly as long as the caller's frame;
# the guard compares the kept count with LABEL_MAP_MAX_ROWS on every
# call, so changing the threshold takes effect for frames already seen.
_LABEL_MAP_BC: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def alias_labels(alias_dict: DataFrame) -> DataFrame:
    """Alias dictionary -> (name, canon) label table via connected
    components over the alias↔canonical bipartite graph (the CC merge
    dedupes alias clusters; ambiguous aliases shared by two entities
    merge those entities' clusters — the deterministic min-name rule).

    Returns (alias_norm, canonical_key).
    """
    cc_edges = alias_dict.select(
        F.col("alias_norm").alias("src_id"),
        F.concat(F.lit("\x01CANON\x01"), F.col("canonical_name")).alias(
            "tgt_id"
        ),
    ).localCheckpoint(eager=True)  # CC references its input repeatedly
    labels = connected_components(cc_edges, assume_materialized=True)
    # representative = min canonical_name inside the component (the
    # \x01 prefix sorts canonical sentinels first, and among them the
    # lexicographically-min canonical name wins -> deterministic)
    return (
        labels.where(~F.col("name").startswith("\x01CANON\x01"))
        .select(
            F.col("name").alias("alias_norm"),
            F.regexp_replace(
                "component_name", "^\x01CANON\x01", ""
            ).alias("canonical_key"),
        )
    )


def canonicalize(
    entities: DataFrame,
    relations: DataFrame,
    labels: DataFrame | None,
) -> tuple[DataFrame, DataFrame]:
    """Rewrite mention surface forms to canonical keys (broadcast map
    join); unlinked names stay themselves.  Self-loops are never valid
    triples (a mention like "X acquired X", or aliases collapsing both
    endpoints to one canonical key) and are dropped here on every
    path, ``labels is None`` included."""
    if labels is not None:
        lab = F.broadcast(labels)
        entities = (
            entities.join(
                lab, entities.entity_name == lab.alias_norm, "left"
            )
            .withColumn(
                "entity_name",
                F.coalesce("canonical_key", "entity_name"),
            )
            .drop("alias_norm", "canonical_key")
        )

        lab_s = lab.select(
            F.col("alias_norm").alias("_src_alias"),
            F.col("canonical_key").alias("_src_canon"),
        )
        lab_t = lab.select(
            F.col("alias_norm").alias("_tgt_alias"),
            F.col("canonical_key").alias("_tgt_canon"),
        )
        relations = (
            relations.join(
                lab_s, relations.src_id == lab_s._src_alias, "left"
            )
            .join(lab_t, relations.tgt_id == lab_t._tgt_alias, "left")
            .withColumn("_s", F.coalesce("_src_canon", "src_id"))
            .withColumn("_t", F.coalesce("_tgt_canon", "tgt_id"))
            .select(
                F.least("_s", "_t").alias("src_id"),
                F.greatest("_s", "_t").alias("tgt_id"),
                "description",
                "source_id",
                "url",
            )
        )
    return entities, relations.where(F.col("src_id") != F.col("tgt_id"))


class _LazyFrames(dict):
    """dict of named DataFrames where some entries are constructed on
    first access.  Building the merge_nodes/merge_edges plans costs
    ~0.4 s of py4j round trips per run_kg_pipeline call (measured r7,
    half the driver-side build), and the most common consumers (the
    bench headline, triples-only batch callers) never touch them.
    Any holistic access (iteration, keys/values/items) forces every
    pending entry first, so dict-like consumers — e.g.
    the config runner's save_output loop — see exactly the eager
    dict.  Storing, deleting or clearing a key drops its pending
    thunk, so an assigned value is never replaced by a later build.
    (Only raw C-level copies — ``dict(out)``, ``out.copy()`` — and
    ``popitem`` bypass the overrides; no caller uses them.)"""

    def __init__(self, base: dict):
        super().__init__(base)
        self._thunks: dict = {}

    def defer(self, **thunks) -> None:
        """Add entries built by calling their thunk on first access."""
        self._thunks.update(thunks)

    def _force(self, k) -> None:
        th = self._thunks.pop(k, None)
        if th is not None:
            super().__setitem__(k, th())

    def _force_all(self) -> None:
        for k in list(self._thunks):
            self._force(k)

    def __getitem__(self, k):
        self._force(k)
        return super().__getitem__(k)

    def __contains__(self, k) -> bool:
        return super().__contains__(k) or k in self._thunks

    def get(self, k, default=None):
        return self[k] if k in self else default

    def __iter__(self):
        self._force_all()
        return super().__iter__()

    def __len__(self) -> int:
        return super().__len__() + len(self._thunks)

    def keys(self):
        self._force_all()
        return super().keys()

    def values(self):
        self._force_all()
        return super().values()

    def items(self):
        self._force_all()
        return super().items()

    def __setitem__(self, k, v) -> None:
        self._thunks.pop(k, None)
        super().__setitem__(k, v)

    def __delitem__(self, k) -> None:
        if self._thunks.pop(k, None) is None:
            super().__delitem__(k)

    def pop(self, k, *default):
        self._force(k)
        return super().pop(k, *default)

    def setdefault(self, k, default=None):
        self._force(k)
        return super().setdefault(k, default)

    def update(self, *args, **kw) -> None:
        for k, v in dict(*args, **kw).items():
            self[k] = v

    def clear(self) -> None:
        self._thunks.clear()
        super().clear()


def records_to_graph(
    records: DataFrame, labels: DataFrame | None = None
) -> _LazyFrames:
    """The one records -> graph tail: records long format ->
    canonicalized entities / relations (self-loops dropped) -> triples,
    plus merged nodes / edges built on first access.  ``labels=None``
    when there is no dictionary or the records are already linked."""
    entities, relations = canonicalize(
        entities_from_records(records),
        relations_from_records(records),
        labels,
    )
    triples = relations.select(
        F.col("src_id").alias("subj"),
        F.col("description").alias("pred"),
        F.col("tgt_id").alias("obj"),
        F.col("source_id").alias("chunk_id"),
        "url",
    )
    out = _LazyFrames({
        "records": records,
        "entities": entities,
        "relations": relations,
        "triples": triples,
    })
    out.defer(
        nodes=lambda: merge_nodes(entities),
        edges=lambda: merge_edges(relations, out["nodes"]),
    )
    return out


def _label_map_broadcast(spark: SparkSession, labels: DataFrame):
    """``sc.broadcast({alias_norm: canonical_key})`` for map-side
    linking in the fused UDF, or None when ``labels`` has more than
    LABEL_MAP_MAX_ROWS rows.  The label table is a static per-release
    asset, so the count + collect + broadcast is computed once per
    frame (batch callers pass the same checkpointed frame per batch;
    re-running it per call cost ~0.2 s/batch)."""
    n_rows, bc = _LABEL_MAP_BC.get(labels, (None, None))
    if n_rows is None:
        n_rows = labels.count()
    if bc is None and n_rows <= LABEL_MAP_MAX_ROWS:
        lp = labels.select("alias_norm", "canonical_key").toPandas()
        bc = spark.sparkContext.broadcast(
            dict(zip(lp["alias_norm"].tolist(),
                     lp["canonical_key"].tolist()))
        )
    _LABEL_MAP_BC[labels] = (n_rows, bc)
    return bc if n_rows <= LABEL_MAP_MAX_ROWS else None


def run_mixed_kg_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    alias_dict: DataFrame | None = None,
    chunk_size: int = 1024,
    chunk_overlap: int = 100,
) -> dict[str, DataFrame]:
    """Mixed text + multimodal docs(url, type, content) -> one KG.

    Text docs go through chunk -> extract; image/table docs go through
    the MM mini-graph extraction (reference ``build_mm_kg.py:11-52``);
    both emit the shared records format and merge in the same
    aggregates — the MM path adds no new shuffle shape.
    """
    from graphgen_spark.operators.mm_kg import (
        extract_mm_records,
        mm_chunks_from_docs,
    )

    text_docs = docs.where(F.col("type") == "text").select(
        "url", F.col("content").alias("text")
    )
    chunks = chunk_documents(
        text_docs, chunk_size=chunk_size, chunk_overlap=chunk_overlap
    )
    text_records = extract_records(chunks)
    mm_records = extract_mm_records(mm_chunks_from_docs(docs))
    records = text_records.unionByName(mm_records)
    labels = (
        alias_labels(alias_dict).localCheckpoint(eager=True)
        if alias_dict is not None
        else None
    )
    out = records_to_graph(records, labels)
    out["chunks"] = chunks
    return out


def run_kg_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    alias_dict: DataFrame | None = None,
    chunk_size: int = 1024,
    chunk_overlap: int = 100,
    precomputed_labels: DataFrame | None = None,
    fused: bool = False,
    persist_records: bool = False,
) -> dict[str, DataFrame]:
    """Run the full spine; returns the named intermediate + final
    DataFrames (all lazy except the CC fixpoint inside alias_labels).

    ``fused=True`` produces the records table in one Python hop
    (operators.fused) — identical output, one worker per task instead
    of three chained pandas-UDF evals; the per-stage docs/chunks
    frames are still returned (built lazily from the composable ops)
    but the triples/nodes/edges path does not execute them.

    ``persist_records=True`` caches the records table
    (MEMORY_AND_DISK). The nodes and edges plans each reference
    records on several DAG branches (entity agg + salt-count,
    relation agg + two endpoint semi-joins), so a caller that
    materializes more than one output would otherwise re-run the
    Python extraction per branch — ~6 scans in the edges plan alone.
    Single-output callers (triples only) should leave it off; the
    checkpointed production pipeline gets the same effect by landing
    records as a stage table.
    """
    # repartition by url hash: extraction cost is ~uniform per doc and
    # this keeps hot-host pages from skewing a single input split.  A
    # small parquet input arrives as ONE split (a 5k-page suite dir is
    # a single row group), which would run the whole Python extraction
    # in one task — widen to the session's parallelism.  Inputs already
    # wider than the core count (any real crawl dump) are left alone:
    # no shuffle of raw html at scale.
    par = spark.sparkContext.defaultParallelism
    widen = pages.rdd.getNumPartitions() < par
    pages_in = pages  # pre-repartition input, for the docs plan below
    if widen:
        pages = pages.repartition(par, F.crc32("url"))

    def _build_docs() -> DataFrame:
        d = with_extracted_text(
            pages_in, out_col="extracted_text"
        ).select(
            "url",
            F.col("extracted_text").alias("text"),
            "warc_ts",
        )
        return d.repartition(par, F.crc32("url")) if widen else d

    def _build_chunks(d: DataFrame) -> DataFrame:
        return chunk_documents(
            d, chunk_size=chunk_size, chunk_overlap=chunk_overlap
        )

    # The label table is a static asset of the candidate dictionary
    # (built once per release) — batch callers pass precomputed_labels.
    if precomputed_labels is not None:
        labels = precomputed_labels
    elif alias_dict is not None:
        labels = alias_labels(alias_dict).localCheckpoint(eager=True)
    else:
        labels = None

    if fused:
        from graphgen_spark.operators.fused import pages_to_records

        # Entity linking: map-side inside the fused UDF when the label
        # map fits the size guard, else the JVM broadcast join in
        # canonicalize.
        label_map_bc = (
            _label_map_broadcast(spark, labels)
            if labels is not None
            else None
        )
        records = pages_to_records(
            pages, chunk_size=chunk_size, chunk_overlap=chunk_overlap,
            label_map_bc=label_map_bc,
        )
        if label_map_bc is not None:
            labels = None  # records are already canonical
    else:
        docs = _build_docs()
        chunks = _build_chunks(docs)
        records = extract_records(chunks)
    if persist_records:
        from pyspark.storagelevel import StorageLevel

        records = records.persist(StorageLevel.MEMORY_AND_DISK)
    out = records_to_graph(records, labels)

    # on the fused path docs/chunks plan construction is deferred to
    # first access (r7): pure driver-side py4j latency that the
    # triples/nodes/edges path never needs.  The composed path has
    # already built them (records derive from them).
    if fused:
        out.defer(
            docs=_build_docs,
            chunks=lambda: _build_chunks(out["docs"]),
        )
    else:
        out.update({"docs": docs, "chunks": chunks})
    return out
