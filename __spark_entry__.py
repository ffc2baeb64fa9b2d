"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction pipeline end to end
on pages deterministically synthesized from the sf0.001 documents table
(no external data).  ``queries()``/``oracle_sql()`` expose each
implemented operator from SURVEY.md §2 with a DuckDB-checkable oracle
where SQL-expressible; KG extraction itself is covered by the pytest
P/R harness plus rows-only checks here.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

N_SYNTH_ENTITIES = 2000

_PAGES_CACHE: dict = {}


# ~docs per synthesis partition when widening the pages asset for the
# extraction path (scale-expressed: a Python-worker batch worth of
# synthesis per task; at real corpus sizes the byte-adaptive input
# split count exceeds the session parallelism and no widening fires).
# NOTE (r7 final session, measured): at sf0.1 this leaves the asset
# at 4 partitions and the pipeline re-shuffles the html 4->32 inside
# the timed batch — but dropping the floor to reach 32 asset
# partitions was tried and REVERTED: the 8 MB exchange costs ~0.02 s
# (records noop 0.57 -> 0.55; Python-task dispatch, not the shuffle,
# is the stage floor at this scale) while the 32-block asset took
# pages_host_cap's narrow view from 0.11 to 0.30 s.  4 blocks + one
# cheap exchange is the measured optimum at suite scale; at the
# driver's sf1.0 both rules already agree on 32 and no exchange
# fires.
_PAGES_DOCS_PER_PARTITION = 1500


def _pages_views(spark: SparkSession, sf_dir: str):
    """Build the session-cached pages asset ONCE, in two layouts:

    - wide: id list widened toward session parallelism (capped by a
      per-doc floor) BEFORE the synthesis hop, so the extraction
      path's adaptive html repartition never fires inside a timed
      batch — the heavy consumer's layout, chosen at build time
      (guide §6).
    - narrow: a coalesce back to the natural split count — a narrow
      dependency (no shuffle, no second materialization) for small
      diagnostic scans (pages_host_cap), where 32 shuffle-map tasks
      over a few thousand rows cost ~0.5 s of fixed overhead
      (measured r7; the earlier wide-only layout shipped that cost to
      every non-extraction consumer).

    Values are per-id deterministic, partitioning-invariant (contract
    + cross-parallelism determinism probes green on both layouts)."""
    from graphgen_spark.synth import pages_from_doc_ids

    key = (id(spark), sf_dir)
    if key not in _PAGES_CACHE:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        cur = docs.rdd.getNumPartitions()
        par = spark.sparkContext.defaultParallelism
        # row count from the parquet footer — free on the driver, no
        # Spark job (the same no-extra-action discipline as the CC
        # driver gate's size statistic, components._stats_prove_small)
        import pyarrow.parquet as _pq

        try:
            n = _pq.read_metadata(
                f"{sf_dir}/documents.parquet"
            ).num_rows
        except Exception:  # multi-file layout etc.: one cheap job
            n = docs.count()
        want = max(cur, min(par, -(-n // _PAGES_DOCS_PER_PARTITION)))
        src = docs
        if want > cur:
            src = docs.repartition(
                want, F.crc32(F.col("doc_id").cast("string"))
            )
        wide = pages_from_doc_ids(
            src, n_entities=N_SYNTH_ENTITIES
        ).localCheckpoint(eager=True)
        narrow = wide.coalesce(cur) if want > cur else wide
        _PAGES_CACHE[key] = (wide, narrow)
    return _PAGES_CACHE[key]


def _pages_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic pages for a sf dir, session-cached: seven queries
    scan them, and the synthesis is a Python hop worth running once
    (the pages table is a static derived asset of the corpus).
    Returns the extraction-friendly wide layout."""
    return _pages_views(spark, sf_dir)[0]


def _pages_narrow_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same cached pages asset, natural (narrow) layout — for
    small diagnostic scans where shuffle-map task count dominates."""
    return _pages_views(spark, sf_dir)[1]


def _alias_dict(spark: SparkSession) -> DataFrame:
    from graphgen_spark.synth import alias_dictionary_df

    return alias_dictionary_df(spark, N_SYNTH_ENTITIES)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG spine on sf0.001 -> canonical triples."""
    from graphgen_spark.pipelines import run_kg_pipeline

    pages = _pages_for(spark, "/root/testdata/sf0.001")
    result = run_kg_pipeline(
        spark, pages, alias_dict=_alias_dict(spark),
        chunk_size=512, chunk_overlap=64,
    )
    return result["triples"]


# --------------------------------------------------------------- queries


def _q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style grouped aggregation (scan+filter+agg+sort)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("sum_disc_price"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join(customer, orders, nation) + agg + top-k."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    # r7: aggregate BEFORE the join (guide §2.3) — the per-customer
    # sum/count runs with map-side partial aggregation over the narrow
    # (o_custkey, o_totalprice) projection, and the joins attach
    # name/nation to ~|customers| aggregated rows instead of widening
    # every order row first.  c_custkey is the customer PK (name and
    # nation are functionally dependent), and an order with no
    # matching customer is dropped by the inner join in BOTH
    # formulations — rows identical.
    per_cust = (
        orders.groupBy(F.col("o_custkey"))
        .agg(
            F.sum("o_totalprice").alias("total_spent"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    return (
        per_cust.join(cust, per_cust.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            "c_custkey", "c_name", "n_name", "total_spent", "n_orders"
        )
        .orderBy(F.desc("total_spent"), F.asc("c_custkey"))
        .limit(20)
    )


def _q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting over documents (whitespace tokenizer), per lang."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return (
        docs.withColumn("n_tokens", toks)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            # avg as exact integer micros (floor), never a float: float
            # cells hashed differently across engines two rounds running
            F.expr(
                "(1000000 * sum(n_tokens)) div count(*)"
            ).alias("avg_tokens_micro"),
        )
        .orderBy("lang")
    )


def _q_doc_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang token budgets under BOTH tokenizers (whitespace + the
    BPE-ish pretokenizer a byte-pair vocab would merge within) — the
    corpus-budget audit table, all bigints, oracle-checked."""
    from graphgen_spark.datapipe.textstats import (
        bpe_ish_token_count,
        whitespace_token_count,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.withColumn("ws", whitespace_token_count(F.col("text")))
        .withColumn("bpe", bpe_ish_token_count(F.col("text")))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws").alias("ws_tokens"),
            F.sum("bpe").alias("bpe_tokens"),
            F.max("bpe").alias("max_doc_bpe"),
        )
        .orderBy("lang")
    )


def _q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content hash: groups with >1 copy.  The corpus
    has no exact dups, so dedup runs over a derived frame that provably
    contains them (every 50th doc re-appended under a shifted id) —
    non-vacuous by construction."""
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    dups = base.where(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    docs = base.unionByName(dups)
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .where(F.col("n_copies") > 1)
        .orderBy("keep_doc_id")
    )


def _q_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full KG pipeline -> canonical triples (rows-only check; value
    correctness is covered by the pytest P/R harness)."""
    from graphgen_spark.pipelines import run_kg_pipeline

    pages = _pages_for(spark, sf_dir)
    result = run_kg_pipeline(
        spark, pages, precomputed_labels=_labels_for(spark),
        chunk_size=512, chunk_overlap=64,
    )
    return result["triples"].orderBy("url", "subj", "obj", "pred")


def _q_rephrase_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Style-controlled rephrase operator (reference rephrase_service,
    8 named templates) over documents — all 8 styles oracle-checked
    because every stand-in transform is a native string expression."""
    from graphgen_spark.operators.structured import (
        REPHRASE_STYLES,
        rephrase,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.col("text").alias("answer"))
    )
    out = None
    for style in REPHRASE_STYLES:
        part = rephrase(docs, style=style)
        out = part if out is None else out.unionByName(part)
    return (
        out.select("doc_id", "style", "rephrased")
        .orderBy("doc_id", "style")
    )


def _q_kg_triple_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triple-accuracy evaluate operator (rows-only: the judge scores
    come from the deterministic LLM stand-in): per-chunk entity /
    relation extraction quality via the lineage join
    (reference operators/evaluate/evaluate_triple.py)."""
    from graphgen_spark.operators.chunking import chunk_documents
    from graphgen_spark.operators.evaluate import evaluate_triples
    from graphgen_spark.operators.kg_extract import extract_records

    pages = _pages_for(spark, sf_dir)
    chunks = chunk_documents(pages, chunk_size=512, chunk_overlap=64)
    records = extract_records(chunks)
    scored = evaluate_triples(chunks, records)
    return scored.select(
        "chunk_id",
        "url",
        "n_entities",
        "n_relations",
        F.round("entity_accuracy.overall_score", 4).alias("entity_score"),
        F.round("relation_accuracy.overall_score", 4).alias(
            "relation_score"
        ),
    ).orderBy("chunk_id")


def _q_kg_triple_eval_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triple-accuracy evaluate operator, ORACLE-CHECKED (VERDICT r4
    #3): with whole-doc chunks the chunk->unit lineage join and the
    deterministic judge arithmetic are pure functions of pages.text,
    so DuckDB re-derives the per-chunk unit counts from the mention
    regex and replays the judge formula exactly (integer micros; the
    predicted accuracy of exactly 1.0 is itself a real assertion that
    every extracted unit has literal mention support in its chunk).
    The chunked 512/64 configuration of the same operator stays
    rows-only (kg_triple_eval).  Reference:
    operators/evaluate/evaluate_triple.py:13-28 +
    models/evaluator/triple/accuracy_evaluator.py:24-94."""
    from graphgen_spark.operators.chunking import chunk_documents
    from graphgen_spark.operators.evaluate import evaluate_triples
    from graphgen_spark.operators.kg_extract import extract_records

    pages = _pages_for(spark, sf_dir)
    chunks = chunk_documents(
        pages, chunk_size=1_000_000_000, chunk_overlap=0
    )
    records = extract_records(chunks)
    scored = evaluate_triples(chunks, records)
    micro = lambda c: F.round(F.col(c) * 1_000_000).cast("long")  # noqa: E731
    return scored.select(
        "url",
        "n_entities",
        "n_relations",
        micro("entity_accuracy.accuracy").alias("entity_accuracy_micro"),
        micro("entity_accuracy.completeness").alias(
            "entity_completeness_micro"
        ),
        micro("entity_accuracy.overall_score").alias(
            "entity_overall_micro"
        ),
        micro("relation_accuracy.overall_score").alias(
            "relation_overall_micro"
        ),
    ).orderBy("url")


def _labels_for(spark: SparkSession) -> DataFrame:
    """Session-cached alias-CC label table: a static per-release asset
    shared by every linked KG query in one driver/bench session (the
    CC fixpoint is the expensive part of each query otherwise)."""
    key = (id(spark), "labels")
    if key not in _KG_CACHE:
        from graphgen_spark.pipelines import alias_labels

        _KG_CACHE[key] = alias_labels(_alias_dict(spark)).localCheckpoint(
            eager=True
        )
    return _KG_CACHE[key]


def _kg_wholedoc(spark: SparkSession, sf_dir: str, linked: bool) -> dict:
    """KG spine with whole-doc chunks (no boundary/overlap effects), so
    the result tables are pure functions of pages.text — the
    configuration the DuckDB regex oracle re-derives independently.
    ``linked=True`` runs the alias-dict broadcast linking + CC
    canonicalization too.

    Session-cached with pinned nodes/edges/triples: ~15 oracle-checked
    kg_* queries consume these frames, and each would otherwise re-run
    the whole extraction pipeline."""
    from graphgen_spark.pipelines import run_kg_pipeline

    key = (id(spark), sf_dir, "wholedoc", linked)
    if key not in _KG_CACHE:
        pages = _pages_for(spark, sf_dir)
        out = run_kg_pipeline(
            spark, pages,
            precomputed_labels=_labels_for(spark) if linked else None,
            chunk_size=1_000_000_000, chunk_overlap=0,
            persist_records=True,
        )
        cached = {
            "triples": out["triples"].localCheckpoint(eager=True),
            "nodes": out["nodes"].localCheckpoint(eager=True),
            "edges": out["edges"].localCheckpoint(eager=True),
        }
        out["records"].unpersist()
        _KG_CACHE[key] = cached
    return _KG_CACHE[key]


def _kg_triples_wholedoc(
    spark: SparkSession, sf_dir: str, linked: bool
) -> DataFrame:
    return _kg_wholedoc(spark, sf_dir, linked)["triples"]


def _q_kg_triples_nodict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-dictionary whole-doc path: extraction grammar -> parser ->
    upper/clean -> sorted pair -> self-loop drop.  Oracle-checked: the
    DuckDB side re-derives the same multiset via regexp_extract_all
    over the (plain-pyarrow-materialized) pages table."""
    return (
        _kg_triples_wholedoc(spark, sf_dir, linked=False)
        .groupBy("url", "subj", "pred", "obj")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .orderBy("url", "subj", "pred", "obj")
    )


def _q_kg_triples_linked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full canonical path: extraction + alias-dict linking + CC
    canonicalization.  Oracle-checked: DuckDB joins the regex-derived
    mentions against an INDEPENDENTLY computed label table (driver-side
    union-find, not the Spark large/small-star CC)."""
    return (
        _kg_triples_wholedoc(spark, sf_dir, linked=True)
        .groupBy("url", "subj", "pred", "obj")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .orderBy("url", "subj", "pred", "obj")
    )


def _q_kg_edges_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """merge_edges semantics, oracle-checked END TO END: canonical-pair
    mention counts, capped distinct-source counts, and the FULL
    summary-gated merged description + token length (DuckDB's RE2
    reproduces the 200-token truncation with a bounded-repetition
    regexp, so the gate itself is hash-checked, not just the head)."""
    result = _kg_wholedoc(spark, sf_dir, linked=True)
    return (
        result["edges"].select(
            "src_id", "tgt_id", "n_mentions",
            F.size("source_ids").alias("n_sources_capped"),
            "description", "length",
        )
        .orderBy("src_id", "tgt_id")
    )


def _q_kg_nodes_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """merge_nodes semantics, oracle-checked end to end: per-canonical-
    entity mention counts (one entity record per first in-chunk
    occurrence of each alias — reference seen-set semantics), capped
    source counts, and the full summary-gated description + length."""
    result = _kg_wholedoc(spark, sf_dir, linked=True)
    return (
        result["nodes"].select(
            "entity_name", "n_mentions",
            F.size("source_ids").alias("n_sources_capped"),
            "description", "length",
        )
        .orderBy("entity_name")
    )


def _kg_triple_batches(spark: SparkSession, sf_dir: str):
    """Triple-partitioner batches over ALL merged edges (gated
    descriptions included — the oracle reproduces the gate), shared by
    the oracle-checked generation-mode queries."""
    from graphgen_spark.operators.partitioners import (
        community_to_batches,
        triple_partition,
    )

    result = _kg_wholedoc(spark, sf_dir, linked=True)
    nodes, edges = result["nodes"], result["edges"]
    comms = triple_partition(edges)
    return community_to_batches(comms, nodes, edges)


def _mk_kg_qa_triple(mode: str):
    """Oracle-checked generate-over-KG query factory: merged edges ->
    triple partitioner (pure SQL op) -> community_to_batches ->
    generate_qa(mode), over ALL edges (the DuckDB side replays the
    summary gate with a bounded-repetition RE2 truncation)."""

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from graphgen_spark.operators.generate import generate_qa

        batches = _kg_triple_batches(spark, sf_dir)
        qa = generate_qa(batches, mode=mode)
        return qa.select("community_id", "question", "answer").orderBy(
            "community_id", "question"
        )

    return q


_q_kg_qa_true_false = _mk_kg_qa_triple("true_false")


def _kg_qa_true_false_oracle() -> str:
    desc, _ = _gate_sql("descr")
    return f"""{_kg_oracle_ctes(linked=True)},
        merged AS (
            SELECT subj, obj,
                   {_MERGED_DESCR.format(v='pred')} AS descr
            FROM triples
            GROUP BY subj, obj
        )
        SELECT subj || '::' || obj AS community_id,
               'True or false: ' || {desc} AS question,
               'True' AS answer
        FROM merged
        ORDER BY community_id, question
    """


def _kg_qa_aggregated_oracle() -> str:
    desc, _ = _gate_sql("descr")
    return f"""{_kg_oracle_ctes(linked=True)},
        merged AS (
            SELECT subj, obj,
                   {_MERGED_DESCR.format(v='pred')} AS descr
            FROM triples
            GROUP BY subj, obj
        )
        SELECT subj || '::' || obj AS community_id,
               'Summarize the relationships among: '
                   || subj || ', ' || obj || '.' AS question,
               {desc} AS answer
        FROM merged
        ORDER BY community_id, question
    """


def _kg_qa_cot_oracle() -> str:
    desc, _ = _gate_sql("descr")
    return f"""{_kg_oracle_ctes(linked=True)},
        merged AS (
            SELECT subj, obj,
                   {_MERGED_DESCR.format(v='pred')} AS descr
            FROM triples
            GROUP BY subj, obj
        )
        SELECT subj || '::' || obj AS community_id,
               'What can be concluded about ' || subj || ', ' || obj
                   || '?' AS question,
               'Following the reasoning path: ' || {desc}
                   || ' Therefore these entities form one connected'
                   || ' context.' AS answer
        FROM merged
        ORDER BY community_id, question
    """


def _kg_qa_fib_oracle() -> str:
    """fill_in_blank over triple communities: first case-insensitive
    occurrence of the canonical target name in the gated edge
    description is masked; rows with no occurrence are skipped.  Names
    are RE2-escaped (``_re_escape_sql``) exactly like the engine's
    ``re.escape``'d search, so a name containing regex metacharacters
    can never silently diverge (ADVICE r5)."""
    desc, _ = _gate_sql("descr")
    return f"""{_kg_oracle_ctes(linked=True)},
        merged AS (
            SELECT subj, obj,
                   {_MERGED_DESCR.format(v='pred')} AS descr
            FROM triples
            GROUP BY subj, obj
        ),
        gated AS (
            SELECT subj, obj, {_re_escape_sql('obj')} AS obj_re,
                   {desc} AS g
            FROM merged
        )
        SELECT subj || '::' || obj AS community_id,
               regexp_replace(g, '(?i)' || obj_re, '____') AS question,
               regexp_extract(g, '(?i)(' || obj_re || ')', 1) AS answer
        FROM gated
        WHERE regexp_matches(g, '(?i)' || obj_re)
        ORDER BY community_id, question
    """


def _kg_qa_masked_fib_oracle() -> str:
    """masked_fill_in_blank over triple communities: the masked node is
    picked by the engine-portable md5-prefix hash of the community id
    (generate.py — r5 swapped the one crc32 pick for the md5 idiom
    every other kernel uses, which is exactly what makes this mode
    oracle-checkable), EVERY case-insensitive occurrence in the gated
    edge description is masked with '{ }', the answer is the FIRST
    occurrence's surface form, and no-occurrence rows are skipped
    (reference masked_fill_in_blank_generator.py:86-135 shape).
    nodes sorted by entity_name = [subj, obj] (subj < obj upstream),
    so pick % 2 = 0 masks subj."""
    desc, _ = _gate_sql("descr")
    return f"""{_kg_oracle_ctes(linked=True)},
        merged AS (
            SELECT subj, obj,
                   {_MERGED_DESCR.format(v='pred')} AS descr
            FROM triples
            GROUP BY subj, obj
        ),
        gated AS (
            SELECT subj || '::' || obj AS community_id, subj, obj,
                   {desc} AS g
            FROM merged
        ),
        picked AS (
            SELECT community_id, g,
                   {_re_escape_sql(
                       "CASE WHEN ('0x' || substr(md5(community_id),"
                       " 1, 8))::BIGINT % 2 = 0"
                       " THEN subj ELSE obj END")} AS name_re
            FROM gated
        )
        SELECT community_id,
               regexp_replace(g, '(?i)' || name_re, '{{ }}', 'g')
                   AS question,
               regexp_extract(g, '(?i)(' || name_re || ')', 1) AS answer
        FROM picked
        WHERE regexp_matches(g, '(?i)' || name_re)
        ORDER BY community_id, question
    """


def _q_kg_communities_quint_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT community membership for a greedy partitioner (VERDICT
    r5 #6: conservation laws stop being the verification ceiling).
    The quintuple strategy (reference semantics: iterate centers in
    sorted order, pair off this center's not-yet-consumed incident
    edges two at a time — ``_greedy_partition_pdf`` quintuple branch)
    is sequential-stateful, but its only cross-community state is the
    consumed-edge set, so the DuckDB oracle steps the center loop with
    a recursive CTE carrying ``used_e`` as a list — the same replay
    treatment that cracked MTLD and the CC closure.  Every community's
    id, member lists, and token sum are hash-checked, not just
    conserved totals.  (Per-component frames ≡ one global sorted
    center walk: edges never span components, and at oracle scale no
    component crosses the 200k-unit hash-bucket gate.)"""
    from graphgen_spark.operators.partitioners import (
        quintuple_partition,
    )

    kg = _kg_wholedoc(spark, sf_dir, linked=True)
    comms = quintuple_partition(kg["nodes"], kg["edges"])
    return comms.select(
        "community_id",
        F.array_join("nodes", ",").alias("nodes_str"),
        F.array_join(
            F.transform(
                "edges", lambda e: F.concat_ws("|", e["src"], e["dst"])
            ),
            ",",
        ).alias("edges_str"),
        F.col("n_units").cast("int").alias("n_units"),
        F.col("token_sum").cast("long").alias("token_sum"),
    ).orderBy("community_id")


def _kg_communities_quint_exact_oracle() -> str:
    """Recursive-CTE replay of the quintuple center walk: node/edge
    universes + gated lengths re-derived from pages.text (the shared
    merge CTE chain), adjacency lists presorted, one recursion step
    per center consuming its free-edge pairs into ``used_e``."""
    _, length = _gate_sql("descr")
    ctes = _kg_node_merged_ctes(edges=True).replace(
        "WITH pages", "WITH RECURSIVE pages", 1
    )
    return f"""{ctes},
        nlen AS (
            SELECT entity_name AS name, {length} AS len FROM merged
        ),
        elen AS (
            SELECT src_id, tgt_id, {length} AS len FROM emerged
        ),
        adjm AS (
            SELECT center, list_sort(list(nbr)) AS nbrs FROM (
                SELECT src_id AS center, tgt_id AS nbr FROM elen
                UNION ALL
                SELECT tgt_id, src_id FROM elen
            ) GROUP BY center
        ),
        centers AS (
            SELECT center, nbrs,
                   row_number() OVER (ORDER BY center) AS pos
            FROM adjm
        ),
        walk(pos, used_e, pairs) AS (
            SELECT 0, CAST([] AS VARCHAR[]),
                   CAST([] AS STRUCT(
                       center VARCHAR, v1 VARCHAR, v2 VARCHAR)[])
            UNION ALL
            SELECT c.pos,
                   w.used_e || flatten(list_transform(
                       st.pairs,
                       p -> [least(p.center, p.v1) || '|'
                                 || greatest(p.center, p.v1),
                             least(p.center, p.v2) || '|'
                                 || greatest(p.center, p.v2)])),
                   st.pairs
            FROM walk w
            JOIN centers c ON c.pos = w.pos + 1,
            LATERAL (
                SELECT list_filter(
                           c.nbrs,
                           v -> NOT list_contains(
                               w.used_e,
                               least(c.center, v) || '|'
                                   || greatest(c.center, v))
                       ) AS free
            ) fr,
            LATERAL (
                SELECT list_transform(
                           range(len(fr.free) // 2),
                           i -> {{'center': c.center,
                                 'v1': fr.free[2 * i + 1],
                                 'v2': fr.free[2 * i + 2]}}) AS pairs
            ) st
        ),
        emitted AS (SELECT unnest(pairs) AS p FROM walk),
        flat AS (
            SELECT p.center AS center, p.v1 AS v1, p.v2 AS v2
            FROM emitted
        )
        SELECT 'quint-' || center || '-' || v1 || '-' || v2
                   AS community_id,
               v1 || ',' || center || ',' || v2 AS nodes_str,
               least(center, v1) || '|' || greatest(center, v1) || ','
                   || least(center, v2) || '|' || greatest(center, v2)
                   AS edges_str,
               CAST(5 AS INT) AS n_units,
               CAST(n1.len + nc.len + n2.len + e1.len + e2.len
                    AS BIGINT) AS token_sum
        FROM flat
        JOIN nlen n1 ON n1.name = v1
        JOIN nlen nc ON nc.name = center
        JOIN nlen n2 ON n2.name = v2
        JOIN elen e1 ON e1.src_id = least(center, v1)
                    AND e1.tgt_id = greatest(center, v1)
        JOIN elen e2 ON e2.src_id = least(center, v2)
                    AND e2.tgt_id = greatest(center, v2)
        ORDER BY community_id
    """


# Shared parameters of the exact-BFS-membership pair below: the Spark
# query and the DuckDB replay must agree on every budget and on the
# entity bucket, so both read these names.
_BFS_EXACT_MAX_UNITS = 7
_BFS_EXACT_MAX_TOKENS = 200
_BFS_EXACT_NIBBLES = ("0", "1", "2")


def _q_kg_communities_bfs_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT community membership for the flagship greedy BFS
    partitioner (reference ``bfs_partitioner.py``; ``kg_communities_
    quint_exact`` covers the quintuple strategy, ``kg_communities_
    check`` the full-graph conservation laws — this closes the last
    gap: seeded BFS growth itself, every community's id, member
    lists, and token sum hash-checked).

    Replayability: ``unit_sampling='min_loss'`` with no judge losses
    attached orders seeds AND frontier expansions by
    ``(DEFAULT_LOSS, str(unit_key))`` — deterministic lexicographic
    order DuckDB can reproduce (node key = the name; edge key =
    ``str(('a','b'))``, safe to rebuild in SQL because canonical
    entity names are upper alnum+space).  The growth is sequential-
    stateful, so the oracle steps it with a recursive CTE — one
    iteration per seed pick or frontier pop (the pop accepts its
    budget-gated prefix of sorted eligible neighbors in one step,
    exactly the kernel's inner for-loop).  Per-component frames ≡ one
    global sorted walk: growth cannot cross components, and at oracle
    scale no component crosses the 200k-unit hash-bucket gate.

    The walk runs on the subgraph induced by a deterministic md5
    bucket of entities (3/16 of names ≈ 280 nodes, 70 edges at the
    oracle SF) because the sequential replay is O(steps) in DuckDB
    at ~15 ms per recursion step — the bucket keeps the oracle row
    to ~4 s; full-graph coverage of the same partitioner stays
    hash-checked via kg_communities_check's conservation laws.
    max_tokens=200 / max_units=7 make BOTH greedy stopping
    conditions bind on the real bucket (unit lengths average ~50
    gated tokens: 1 community stops on size, 13 on token budget,
    growth reaching 7 units / multi-hop frontiers at the oracle
    SF)."""
    from graphgen_spark.operators.partitioners import bfs_partition

    kg = _kg_wholedoc(spark, sf_dir, linked=True)
    in_bucket = F.substring(F.md5("entity_name"), 1, 1).isin(
        *_BFS_EXACT_NIBBLES
    )
    nodes = kg["nodes"].where(in_bucket)
    names = nodes.select("entity_name")
    edges = (
        kg["edges"]
        .join(
            names.withColumnRenamed("entity_name", "src_id"),
            "src_id", "left_semi",
        )
        .join(
            names.withColumnRenamed("entity_name", "tgt_id"),
            "tgt_id", "left_semi",
        )
    )
    comms = bfs_partition(
        nodes, edges,
        max_units=_BFS_EXACT_MAX_UNITS, min_units=1,
        max_tokens=_BFS_EXACT_MAX_TOKENS, unit_sampling="min_loss",
    )
    return comms.select(
        "community_id",
        F.array_join("nodes", ",").alias("nodes_str"),
        F.array_join(
            F.transform(
                "edges", lambda e: F.concat_ws("|", e["src"], e["dst"])
            ),
            ",",
        ).alias("edges_str"),
        F.col("n_units").cast("int").alias("n_units"),
        F.col("token_sum").cast("long").alias("token_sum"),
    ).orderBy("community_id", "nodes_str")


def _bfs_walk_sql(
    max_units: int, max_tokens: int, strategy: str = "bfs"
) -> str:
    """The greedy-growth replay fragment, parameterized over the
    budgets and the frontier discipline: expects relations
    ``bnodes(name, len BIGINT)`` and ``bedges(src, tgt, len BIGINT)``
    (src < tgt) to be defined by the caller and must follow a
    ``WITH RECURSIVE`` head.  ONE copy of the walk SQL: the
    production oracle (md5-bucket-induced KG subgraph) and the
    differential fuzz test (synthetic random graphs vs
    ``_greedy_partition_pdf``) both consume this text, so the fuzz
    exercises exactly the shipped replay.

    ``strategy``: 'bfs' pops the frontier HEAD (queue), 'dfs' the
    TAIL (stack) — the only difference between the two kernels
    (partitioners.py: ``frontier.pop(0)`` vs ``frontier.pop()``).
    The frontier list is recursion-built (never a parallel
    aggregate) and budget-bounded, so positional reads of it are
    safe — unlike ``rem``, which stays strictly order-independent."""
    assert strategy in ("bfs", "dfs")
    body = """
        touched AS MATERIALIZED (
            SELECT DISTINCT src AS name FROM bedges
            UNION SELECT DISTINCT tgt FROM bedges
        ),
        units AS MATERIALIZED (
            SELECT name AS skey, 'n:' || name AS u, len FROM bnodes
            WHERE name IN (SELECT name FROM touched)
            UNION ALL
            SELECT '(' || chr(39) || src || chr(39) || ', ' || chr(39)
                       || tgt || chr(39) || ')',
                   'e:' || src || '|' || tgt, len
            FROM bedges
        ),
        pool AS MATERIALIZED (
            SELECT list(STRUCT_PACK(skey := skey, u := u,
                                    len := len)) AS rem
            FROM units
        ),
        expand AS MATERIALIZED (
            -- node unit -> incident edge units; edge unit -> its two
            -- node units.  Lists are UNORDERED here; sorted at use.
            SELECT 'n:' || nm AS u,
                   list(STRUCT_PACK(skey := skey, u := eu,
                                    len := elen)) AS cands
            FROM (
                SELECT src AS nm, 'e:' || src || '|' || tgt AS eu,
                       len AS elen,
                       '(' || chr(39) || src || chr(39) || ', '
                           || chr(39) || tgt || chr(39) || ')' AS skey
                FROM bedges
                UNION ALL
                SELECT tgt, 'e:' || src || '|' || tgt, len,
                       '(' || chr(39) || src || chr(39) || ', '
                           || chr(39) || tgt || chr(39) || ')'
                FROM bedges
            ) GROUP BY nm
            UNION ALL
            SELECT 'e:' || e.src || '|' || e.tgt,
                   list(STRUCT_PACK(skey := x.nm, u := x.nu,
                                    len := x.nlen2))
            FROM bedges e, LATERAL (
                SELECT n.name AS nm, 'n:' || n.name AS nu,
                       n.len AS nlen2
                FROM bnodes n WHERE n.name IN (e.src, e.tgt)
            ) x
            GROUP BY e.src, e.tgt
        ),
        walk(step, seed, rem, frontier, comm_n, comm_e, toks,
             emit_seed, emit_n, emit_e, emit_toks) AS (
            SELECT 0, CAST(NULL AS VARCHAR), p.rem,
                   CAST([] AS VARCHAR[]), CAST([] AS VARCHAR[]),
                   CAST([] AS VARCHAR[]), CAST(0 AS BIGINT),
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR[]),
                   CAST(NULL AS VARCHAR[]), CAST(NULL AS BIGINT)
            FROM pool p
            UNION ALL
            SELECT w.step + 1,
                   CASE WHEN growing THEN w.seed ELSE nxt.u END,
                   CASE WHEN growing
                        THEN list_filter(w.rem, r -> NOT
                                 list_contains(st.acc_us, r.u))
                        ELSE list_filter(w.rem, r -> r.u != nxt.u)
                        END,
                   CASE WHEN growing THEN @FREST@ || st.acc_us
                        WHEN nxt.u IS NOT NULL THEN [nxt.u]
                        ELSE CAST([] AS VARCHAR[]) END,
                   CASE WHEN growing
                        THEN w.comm_n || list_transform(
                            list_filter(st.acc_us,
                                        a -> a[1:2] = 'n:'),
                            a -> a[3:])
                        WHEN nxt.u IS NOT NULL AND nxt.u[1:2] = 'n:'
                        THEN [nxt.u[3:]]
                        ELSE CAST([] AS VARCHAR[]) END,
                   CASE WHEN growing
                        THEN w.comm_e || list_transform(
                            list_filter(st.acc_us,
                                        a -> a[1:2] = 'e:'),
                            a -> a[3:])
                        WHEN nxt.u IS NOT NULL AND nxt.u[1:2] = 'e:'
                        THEN [nxt.u[3:]]
                        ELSE CAST([] AS VARCHAR[]) END,
                   CASE WHEN growing THEN w.toks + st.acc_tok
                        WHEN nxt.u IS NOT NULL THEN nxt.len
                        ELSE 0 END,
                   CASE WHEN NOT growing AND w.seed IS NOT NULL
                        THEN w.seed ELSE NULL END,
                   CASE WHEN NOT growing AND w.seed IS NOT NULL
                        THEN w.comm_n ELSE NULL END,
                   CASE WHEN NOT growing AND w.seed IS NOT NULL
                        THEN w.comm_e ELSE NULL END,
                   CASE WHEN NOT growing AND w.seed IS NOT NULL
                        THEN w.toks ELSE NULL END
            FROM walk w,
            LATERAL (
                SELECT w.seed IS NOT NULL
                       AND len(w.frontier) > 0
                       AND len(w.comm_n) + len(w.comm_e) < @MU@
                       AND w.toks < @MT@ AS growing
            ) g,
            LATERAL (
                -- next seed: min-by-skey over the UNORDERED rem set
                -- (skeys are unique, so the fold has no ties)
                SELECT CASE WHEN growing OR len(w.rem) = 0
                       THEN STRUCT_PACK(
                            skey := CAST(NULL AS VARCHAR),
                            u := CAST(NULL AS VARCHAR),
                            len := CAST(NULL AS BIGINT))
                       ELSE list_reduce(
                           w.rem,
                           (a, b) -> CASE WHEN a.skey <= b.skey
                                     THEN a ELSE b END)
                       END AS nxt
            ) s0,
            LATERAL (
                SELECT CASE WHEN growing THEN list_sort((
                           SELECT COALESCE(any_value(x.cands),
                               CAST([] AS STRUCT(skey VARCHAR,
                                   u VARCHAR, len BIGINT)[]))
                           FROM expand x WHERE x.u = @FPOP@
                       )) ELSE CAST([] AS STRUCT(skey VARCHAR,
                                   u VARCHAR, len BIGINT)[])
                       END AS raw
            ) c0,
            LATERAL (
                SELECT list_filter(
                           c0.raw,
                           c -> list_contains(
                               list_transform(w.rem, r -> r.u), c.u)
                       ) AS elig
            ) c1,
            LATERAL (
                -- the kernel's inner for-loop: accept the prefix of
                -- sorted eligible neighbors that fits both budgets,
                -- checking BEFORE each add
                SELECT len(list_filter(
                           range(len(c1.elig)),
                           i -> len(w.comm_n) + len(w.comm_e) + i
                                    < @MU@
                                AND w.toks + COALESCE(list_sum(
                                        list_transform(c1.elig[1:i],
                                                       e -> e.len)), 0)
                                    < @MT@
                       )) AS k
            ) c2,
            LATERAL (
                SELECT list_transform(c1.elig[1:c2.k],
                                      e -> e.u) AS acc_us,
                       COALESCE(list_sum(list_transform(
                           c1.elig[1:c2.k], e -> e.len)), 0) AS acc_tok
            ) st
            WHERE w.seed IS NOT NULL OR len(w.rem) > 0
        ),
        emitted AS (
            SELECT emit_seed AS seed, emit_n, emit_e, emit_toks
            FROM walk WHERE emit_seed IS NOT NULL
        )
        SELECT CASE WHEN seed[1:2] = 'n:' THEN 'comm-' || seed[3:]
                    ELSE 'comm-' || replace(seed[3:], '|', '-') END
                   AS community_id,
               COALESCE(array_to_string(list_sort(emit_n), ','), '')
                   AS nodes_str,
               COALESCE(array_to_string(list_transform(
                   list_sort(list_transform(emit_e,
                       e -> STRUCT_PACK(
                           src := split_part(e, '|', 1),
                           dst := split_part(e, '|', 2)))),
                   s -> s.src || '|' || s.dst), ','), '') AS edges_str,
               CAST(len(emit_n) + len(emit_e) AS INT) AS n_units,
               CAST(emit_toks AS BIGINT) AS token_sum
        FROM emitted
        UNION ALL
        SELECT 'comm-' || name, name, '', 1, CAST(len AS BIGINT)
        FROM bnodes WHERE name NOT IN (SELECT name FROM touched)
        ORDER BY community_id, nodes_str
    """
    if strategy == "bfs":
        fpop, frest = "w.frontier[1]", "w.frontier[2:]"
    else:
        fpop = "w.frontier[len(w.frontier)]"
        frest = "w.frontier[1:len(w.frontier) - 1]"
    return (
        body
        .replace("@MU@", str(max_units))
        .replace("@MT@", str(max_tokens))
        .replace("@FPOP@", fpop)
        .replace("@FREST@", frest)
    )


def _kg_communities_bfs_exact_oracle() -> str:
    """Recursive-CTE replay of the seeded BFS greedy growth over the
    md5-bucket-induced KG subgraph.  The CTE is deliberately ORDER-
    INDEPENDENT: DuckDB's parallel list() aggregation does not
    guarantee element order, and positional reads of >2048-element
    lists proved unreliable under threads>1 — so the walk never
    trusts list order.  The next seed is picked by a min-by-skey
    ``list_reduce`` over the unordered remaining-unit set, and
    expansion candidate lists are ``list_sort``-ed at use (skey is
    the first struct field, so struct natural order == skey order);
    isolated bucket nodes — always singleton communities at
    min_units=1, unreachable by any growth — are emitted by a plain
    anti-join around the walk, which keeps the sequential replay to
    the ~280 edge-touched units."""
    _, length = _gate_sql("descr")
    ctes = _kg_node_merged_ctes(edges=True).replace(
        "WITH pages", "WITH RECURSIVE pages", 1
    )
    nibbles = ",".join(f"'{n}'" for n in _BFS_EXACT_NIBBLES)
    bucket = """,
        bnodes AS MATERIALIZED (
            SELECT entity_name AS name, CAST(@LEN@ AS BIGINT) AS len
            FROM (SELECT entity_name, descr FROM merged
                  WHERE substr(md5(entity_name), 1, 1) IN (@NIB@))
        ),
        bedges AS MATERIALIZED (
            SELECT e.src_id AS src, e.tgt_id AS tgt,
                   CAST(@ELEN@ AS BIGINT) AS len
            FROM emerged e
            JOIN bnodes a ON e.src_id = a.name
            JOIN bnodes b ON e.tgt_id = b.name
        ),
    """
    bucket = (
        bucket
        .replace("@LEN@", length)
        .replace("@ELEN@", length.replace("descr", "e.descr"))
        .replace("@NIB@", nibbles)
    )
    return ctes + bucket + _bfs_walk_sql(
        _BFS_EXACT_MAX_UNITS, _BFS_EXACT_MAX_TOKENS
    )


def _q_kg_qa_multi_answer_star(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """multi_answer generation over hash-grouped subject-star
    communities (VERDICT r5 #2: the mode is vacuous on 2-node triple
    communities AND on pure single stars — a grouped-star community
    supplies both >=2 true neighbors and non-adjacent distractors).
    Exercises the untouched multi_answer kernel (generate.py:176-208:
    neighbor top-3, non-adjacent distractor fill to 4 options, letter
    answers, per-community question cap).  Reference:
    ``models/generator/multi_answer_generator.py`` +
    ``bases/base_partitioner.py:22-53``."""
    from graphgen_spark.operators.generate import generate_qa
    from graphgen_spark.operators.partitioners import (
        community_to_batches,
        star_partition,
    )

    result = _kg_wholedoc(spark, sf_dir, linked=True)
    comms = star_partition(result["edges"])
    batches = community_to_batches(
        comms, result["nodes"], result["edges"]
    )
    qa = generate_qa(batches, mode="multi_answer")
    return qa.select(
        "community_id",
        "question",
        F.array_join("options", " | ").alias("options_str"),
        "answer",
    ).orderBy("community_id", "question")


def _kg_qa_multi_answer_star_oracle() -> str:
    """DuckDB replay of star_partition + the multi_answer kernel: the
    capped star family is pure SQL (windowed per-hub object cap,
    md5-prefix bucket), and the kernel's per-name candidate build
    (sorted-neighbor top-3, sorted non-adjacent distractor fill,
    sorted 4-option letters, first-5-valid-per-community cap) is a
    list-lambda pipeline."""
    return f"""{_kg_oracle_ctes(linked=True)},
        star_edges AS (
            SELECT subj AS src, obj AS dst FROM triples
            GROUP BY subj, obj
        ),
        capped AS (
            SELECT src, dst FROM (
                SELECT src, dst,
                       row_number() OVER (
                           PARTITION BY src ORDER BY dst
                       ) AS rn
                FROM star_edges
            ) WHERE rn <= 50
        ),
        nb AS (
            SELECT greatest(1, count(DISTINCT src) // 4) AS n_buckets
            FROM capped
        ),
        bucketed AS (
            SELECT printf(
                       'star_%06d',
                       ('0x' || substr(md5(src), 1, 8))::BIGINT
                           % n_buckets
                   ) AS community_id,
                   src, dst
            FROM capped, nb
        ),
        members AS (
            SELECT DISTINCT community_id, src AS node FROM bucketed
            UNION
            SELECT DISTINCT community_id, dst FROM bucketed
        ),
        comm_names AS (
            SELECT community_id, list_sort(list(node)) AS names
            FROM members GROUP BY community_id
        ),
        und AS (
            SELECT community_id, src AS a, dst AS b FROM bucketed
            UNION
            SELECT community_id, dst, src FROM bucketed
        ),
        adjl AS (
            SELECT community_id, a AS name,
                   list_sort(list(DISTINCT b)) AS adj
            FROM und GROUP BY community_id, a
        ),
        built AS (
            SELECT m.community_id, m.node AS name, a.adj,
                   a.adj[1:3] AS neigh,
                   list_filter(
                       cn.names,
                       x -> x <> m.node
                            AND NOT list_contains(a.adj, x)
                   )[1 : 4 - len(a.adj[1:3])] AS distr
            FROM members m
            JOIN comm_names cn ON cn.community_id = m.community_id
            JOIN adjl a ON a.community_id = m.community_id
                       AND a.name = m.node
            WHERE len(a.adj) >= 2
        ),
        valid AS (
            SELECT community_id, name, neigh,
                   list_sort(neigh || distr) AS cands
            FROM built
            WHERE len(neigh) + len(distr) >= 4
        ),
        lettered AS (
            SELECT community_id, name, cands,
                   array_to_string(
                       list_sort(list_transform(
                           neigh,
                           x -> chr(64 + list_position(cands, x))
                       )), ', ') AS answer,
                   row_number() OVER (
                       PARTITION BY community_id ORDER BY name
                   ) AS rn
            FROM valid
        )
        SELECT community_id,
               'Which of the following are directly related to '
                   || name || '?' AS question,
               'A. ' || cands[1] || ' | B. ' || cands[2] ||
               ' | C. ' || cands[3] || ' | D. ' || cands[4]
                   AS options_str,
               answer
        FROM lettered
        WHERE rn <= 5
        ORDER BY community_id, question
    """


def _kg_qa_quiz_oracle() -> str:
    """quiz over triple communities: one row per (community, node);
    the node's own name is masked in its gated description, with the
    reference's fallback question when the name never appears."""
    desc, _ = _gate_sql("descr")
    node_cte = _kg_node_merged_ctes()
    return f"""{node_cte},
        node_desc AS (
            SELECT entity_name, {desc} AS ndesc FROM merged
        ),
        pairs AS (
            SELECT DISTINCT least(cs, ct) AS subj,
                            greatest(cs, ct) AS obj
            FROM (
                SELECT coalesce(ls.canonical_key, upper(m.s)) AS cs,
                       coalesce(lt.canonical_key, upper(m.t)) AS ct
                FROM m
                LEFT JOIN lab ls ON upper(m.s) = ls.alias_norm
                LEFT JOIN lab lt ON upper(m.t) = lt.alias_norm
            ) WHERE cs <> ct
        ),
        units AS (
            SELECT subj || '::' || obj AS community_id, subj AS name
            FROM pairs
            UNION ALL
            SELECT subj || '::' || obj AS community_id, obj AS name
            FROM pairs
        )
        SELECT u.community_id,
               CASE WHEN regexp_matches(
                        n.ndesc, '(?i)' || {_re_escape_sql('u.name')})
                    THEN 'Which entity is described here? ' ||
                         regexp_replace(
                             n.ndesc,
                             '(?i)' || {_re_escape_sql('u.name')},
                             '<entity>')
                    ELSE n.ndesc || ' — name the entity.'
               END AS question,
               u.name AS answer
        FROM units u JOIN node_desc n ON u.name = n.entity_name
        ORDER BY community_id, question
    """


def _kg_qa_atomic_oracle() -> str:
    """Atomic mode over triple communities: one row per (community,
    endpoint node); answer = the node's full gated description,
    re-derived independently from the entity-record CTEs."""
    desc, _ = _gate_sql("descr")
    node_cte = _kg_node_merged_ctes()
    return f"""{node_cte},
        node_desc AS (
            SELECT entity_name, {desc} AS ndesc FROM merged
        ),
        pairs AS (
            SELECT DISTINCT least(cs, ct) AS subj,
                            greatest(cs, ct) AS obj
            FROM (
                SELECT coalesce(ls.canonical_key, upper(m.s)) AS cs,
                       coalesce(lt.canonical_key, upper(m.t)) AS ct
                FROM m
                LEFT JOIN lab ls ON upper(m.s) = ls.alias_norm
                LEFT JOIN lab lt ON upper(m.t) = lt.alias_norm
            ) WHERE cs <> ct
        ),
        units AS (
            SELECT subj || '::' || obj AS community_id, subj AS name
            FROM pairs
            UNION ALL
            SELECT subj || '::' || obj AS community_id, obj AS name
            FROM pairs
        )
        SELECT u.community_id,
               'What is known about ' || u.name || '?' AS question,
               n.ndesc AS answer
        FROM units u JOIN node_desc n ON u.name = n.entity_name
        ORDER BY community_id, question
    """


def _q_kg_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-url coverage statistics over the canonical triples table
    (whole-doc linked path -> oracle-checkable; n_chunks is omitted
    because whole-doc chunking makes it identically 1)."""
    from graphgen_spark.operators.stats import coverage_by_url

    triples = _kg_triples_wholedoc(spark, sf_dir, linked=True)
    return (
        coverage_by_url(triples)
        .select("url", "n_triples", "n_subjects", "n_objects",
                "n_predicates")
        .orderBy("url")
    )


def _q_kg_communities_triple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TriplePartitioner communities (one per canonical edge; pure SQL
    op, reference triple_partitioner.py) — the oracle-checked face of
    the community surface: DuckDB re-derives community ids and the
    summary-gated token sums from the regex triple set."""
    from graphgen_spark.operators.partitioners import triple_partition

    edges = _kg_wholedoc(spark, sf_dir, linked=True)["edges"]
    return (
        triple_partition(edges)
        .select(
            "community_id",
            F.col("n_units").cast("int").alias("n_units"),
            "token_sum",
        )
        .orderBy("community_id")
    )


def _q_kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer PageRank (5 rounds) over the canonical linked KG
    edges — oracle-checked: the DuckDB side unrolls the identical
    bigint floor-division iteration over the regex-derived triple set
    (operators/graph_metrics.py; beyond the reference, whose graph
    analytics stop at degree stats)."""
    from graphgen_spark.operators.graph_metrics import pagerank_exact

    edges = _kg_wholedoc(spark, sf_dir, linked=True)["edges"]
    return (
        pagerank_exact(
            edges, iterations=5, src_col="src_id", dst_col="tgt_id"
        )
        .select("entity", "deg", "rank_micro")
        .orderBy("entity")
    )


def _q_kg_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient (exact
    micros) over the canonical linked KG — oracle-checked via the same
    ordered pair self-joins in DuckDB."""
    from graphgen_spark.operators.graph_metrics import triangle_counts

    edges = _kg_wholedoc(spark, sf_dir, linked=True)["edges"]
    return (
        triangle_counts(edges, src_col="src_id", dst_col="tgt_id")
        .select("entity", "deg", "n_triangles", "clustering_micro")
        .orderBy("entity")
    )


def _q_events_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions over the events stream table: per-user event
    sequencing + inter-event gap (SURVEY §2.6 window surface)."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # r7: rank first, filter, THEN lag.  With row_number alone in the
    # window, the seq <= 3 filter triggers Spark's WindowGroupLimit
    # rewrite (per-partition top-k maintained during the sort), so the
    # full event stream never flows through the window machinery; the
    # lag runs over the surviving 3 rows/user, whose previous rows are
    # themselves among the survivors — gap_sec values are identical to
    # the single-window formulation (prev of seq k<=3 is seq k-1<=3).
    return (
        ev.withColumn("seq", F.row_number().over(w))
        .where(F.col("seq") <= 3)
        .withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "gap_sec",
            (
                F.col("ts").cast("timestamp").cast("double")
                - F.col("prev_ts").cast("timestamp").cast("double")
            ),
        )
        .select("user_id", "event_id", "seq", "gap_sec")
        .orderBy("user_id", "seq")
    )


def _q_filter_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RangeFilter semantics (reference models/filter/range_filter.py):
    keep rows whose metric lies in [lo, hi)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.where((F.col("n_chars") >= 200) & (F.col("n_chars") < 400))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


def _q_parts_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join surface: parts never ordered in bulk (quantity >= 45)
    (KV filter_keys semantics, reference storage/kv/json_storage.py:
    45-46).  The quantity filter keeps the result non-vacuous: every
    part appears in some lineitem, but not every part in a bulk one."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        F.col("l_quantity") >= 45
    )
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_anti")
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    )


def _q_doc_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-fingerprint near-dup grouping (first 5 whitespace tokens):
    non-vacuous dedup signal on the word-salad corpus."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fp = F.md5(
        F.concat_ws(
            " ", F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 5)
        )
    )
    return (
        docs.select(fp.alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .where(F.col("n_docs") > 1)
        .orderBy("keep_doc_id")
    )


_KG_CACHE: dict = {}


def _kg_nodes_edges(spark: SparkSession, sf_dir: str):
    """Build (or reuse) the KG for this session+sf.  The graph is a
    static derived asset shared by every kg_* query; rebuilding it per
    query would re-run extraction 10+ times in one bench/driver run.
    localCheckpoint pins the result for the session."""
    key = (id(spark), sf_dir, "graph")
    if key in _KG_CACHE:
        return _KG_CACHE[key]
    from graphgen_spark.pipelines import run_kg_pipeline

    pages = _pages_for(spark, sf_dir)
    out = run_kg_pipeline(
        spark, pages, precomputed_labels=_labels_for(spark),
        chunk_size=512, chunk_overlap=64, persist_records=True,
        fused=True,  # one Python hop — identical records, ~2x cold build
    )
    # materialize: downstream probe/partition stages (and the CC
    # fixpoint inside them) reference the graph many times
    nodes = out["nodes"].localCheckpoint(eager=True)
    edges = out["edges"].localCheckpoint(eager=True)
    out["records"].unpersist()
    _KG_CACHE[key] = (nodes, edges)
    return nodes, edges


def _kg_batches(spark: SparkSession, sf_dir: str):
    """BFS communities + payload batches over the cached graph (shared
    by the QA-generation and QA-evaluation queries)."""
    key = (id(spark), sf_dir, "batches")
    if key in _KG_CACHE:
        return _KG_CACHE[key]
    from graphgen_spark.operators.partitioners import (
        bfs_partition,
        community_to_batches,
    )

    nodes, edges = _kg_nodes_edges(spark, sf_dir)
    # checkpoint: community_to_batches references the communities twice
    # (node payload + edge payload explodes)
    comms = bfs_partition(nodes, edges, max_units=10).localCheckpoint(
        eager=True
    )
    batches = community_to_batches(comms, nodes, edges).localCheckpoint(
        eager=True
    )
    _KG_CACHE[key] = batches
    return batches


def _q_kg_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ECE-style partition over the built graph (rows-only check)."""
    from graphgen_spark.operators.partitioners import ece_partition
    from graphgen_spark.operators.probe import attach_losses, judge, quiz

    nodes, edges = _kg_nodes_edges(spark, sf_dir)
    losses = judge(quiz(nodes, edges, quiz_samples=1))
    nodes_l, edges_l = attach_losses(nodes, edges, losses)
    return ece_partition(
        nodes_l, edges_l, max_units=20, min_units=2, max_tokens=10240,
        unit_sampling="max_loss",
    ).select(
        "community_id", "n_units", "token_sum",
        F.size("nodes").alias("n_nodes"), F.size("edges").alias("n_edges"),
    ).orderBy("community_id")


def _q_kg_communities_louvain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Community detection over the built graph (rows-only): the
    leiden_partition slot running the deterministic pure-Python
    Louvain branch (leidenalg absent in this environment)."""
    from graphgen_spark.operators.partitioners import leiden_partition

    nodes, edges = _kg_nodes_edges(spark, sf_dir)
    return (
        leiden_partition(nodes, edges, max_size=20)
        .select(
            "community_id",
            F.size("nodes").alias("n_nodes"),
            F.size("edges").alias("n_edges"),
        )
        .orderBy("community_id")
    )


def _check_rows(*dfs: DataFrame) -> DataFrame:
    """Fold single-row aggregate frames into (check_name, value) rows —
    the long format the conservation-law check queries emit."""
    out = None
    for df in dfs:
        for c in df.columns:
            one = df.select(
                F.lit(c).alias("check_name"),
                F.col(c).cast("long").alias("value"),
            )
            out = one if out is None else out.unionByName(one)
    return out.orderBy("check_name")


def _q_kg_ece_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked conservation laws for the ECE partitioner over the
    CHUNKED (512/64) graph — the surface that fell past the driver
    window in r4 (VERDICT r4 #5).  Exact memberships depend on the
    loss-ordered greedy growth (not SQL), but the partition contract
    is: every node/edge unit of the chunked KG lands in exactly one
    community, token sums are conserved, and no community violates the
    max_units / token-budget caps.  The chunk-boundary universe is NOT
    SQL-expressible — but the chunker is deterministic pure Python, so
    the oracle reads a materialized chunk parquet (synth.
    materialize_chunks_parquet, same split kernels) and re-derives the
    node/edge universes + gated lengths from chunk contents via the
    same CTE chain the whole-doc checks use.  The loss attach
    (quiz -> judge) runs for fidelity to the reference ECE flow
    (ece_partitioner.py:56-157); losses only order the growth and
    cannot affect any conservation law.  min_units=1 keeps coverage
    exact (the reference's min-size drop is exercised by the rows-only
    kg_communities); max_tokens=256 makes the budget stop non-vacuous."""
    from graphgen_spark.operators.partitioners import ece_partition
    from graphgen_spark.operators.probe import attach_losses, judge, quiz

    nodes, edges = _kg_nodes_edges(spark, sf_dir)
    losses = judge(quiz(nodes, edges, quiz_samples=1))
    nodes_l, edges_l = attach_losses(nodes, edges, losses)
    comms = ece_partition(
        nodes_l, edges_l, max_units=20, min_units=1,
        max_tokens=_CHECK_MAX_TOKENS, unit_sampling="max_loss",
    ).localCheckpoint(eager=True)

    agg = comms.agg(
        F.sum("n_units").cast("long").alias("units_total"),
        F.sum("token_sum").cast("long").alias("token_sum_total"),
        F.sum((F.col("n_units") > 20).cast("long")).alias(
            "oversize_communities"
        ),
        # greedy adds stop once token_sum >= max_tokens; one gated
        # unit (<= the gate cap) may land past the line, never two
        F.sum((F.col("token_sum")
               >= _CHECK_MAX_TOKENS + _GATE_TOKEN_CAP).cast("long")).alias(
            "overbudget_communities"
        ),
    )
    nodes_m = comms.select(F.explode("nodes").alias("n")).agg(
        F.count(F.lit(1)).alias("node_memberships"),
        F.countDistinct("n").alias("distinct_nodes_covered"),
    )
    edges_m = comms.select(F.explode("edges").alias("e")).agg(
        F.count(F.lit(1)).alias("edge_memberships"),
        F.countDistinct("e.src", "e.dst").alias("distinct_edges_covered"),
    )
    return _check_rows(agg, nodes_m, edges_m)


def _q_kg_communities_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked community INVARIANTS for the greedy BFS partitioner
    (reference bfs_partitioner.py semantics): exact membership depends
    on seeded greedy growth (not SQL), but its conservation laws are
    SQL-expressible — every node and edge unit lands in exactly one
    community, unit counts and token sums are conserved, and no
    community violates the max_units / token-budget caps.  DuckDB
    re-derives node/edge universes + gated lengths from pages.text and
    predicts every row independently (caps predicted as literal 0).

    max_tokens=256 makes the budget stop non-vacuous at sf0.01 (gated
    unit lengths reach 200 tokens), so both stopping conditions of the
    greedy growth are actually exercised."""
    from graphgen_spark.operators.partitioners import bfs_partition

    kg = _kg_wholedoc(spark, sf_dir, linked=True)
    comms = bfs_partition(
        kg["nodes"], kg["edges"],
        max_units=50, min_units=1, max_tokens=_CHECK_MAX_TOKENS,
    ).localCheckpoint(eager=True)

    agg = comms.agg(
        F.sum("n_units").cast("long").alias("units_total"),
        F.sum("token_sum").cast("long").alias("token_sum_total"),
        F.sum((F.col("n_units") > 50).cast("long")).alias(
            "oversize_communities"
        ),
        # greedy adds stop once token_sum >= max_tokens; one gated
        # unit (<= the gate cap) may land past the line, never two
        F.sum((F.col("token_sum")
               >= _CHECK_MAX_TOKENS + _GATE_TOKEN_CAP).cast("long")).alias(
            "overbudget_communities"
        ),
    )
    nodes_m = comms.select(F.explode("nodes").alias("n")).agg(
        F.count(F.lit(1)).alias("node_memberships"),
        F.countDistinct("n").alias("distinct_nodes_covered"),
    )
    edges_m = comms.select(F.explode("edges").alias("e")).agg(
        F.count(F.lit(1)).alias("edge_memberships"),
        F.countDistinct("e.src", "e.dst").alias("distinct_edges_covered"),
    )
    return _check_rows(agg, nodes_m, edges_m)


def _q_kg_louvain_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked conservation laws for the Louvain/Leiden community
    partitioner (reference leiden_partitioner.py), same style as
    kg_communities_check: exact membership is the seeded modularity
    search (not SQL), but the partition CONTRACT is — every node of
    the whole-doc KG lands in exactly one community, no community
    exceeds max_size, and no induced edge is emitted twice.  DuckDB
    re-derives the node universe from pages.text and predicts every
    row (caps as literal 0)."""
    from graphgen_spark.operators.partitioners import leiden_partition

    kg = _kg_wholedoc(spark, sf_dir, linked=True)
    comms = leiden_partition(
        kg["nodes"], kg["edges"], max_size=20
    ).localCheckpoint(eager=True)

    agg = comms.agg(
        F.sum((F.size("nodes") > 20).cast("long")).alias(
            "oversize_communities"
        ),
    )
    nodes_m = comms.select(F.explode("nodes").alias("n")).agg(
        F.count(F.lit(1)).alias("node_memberships"),
        F.countDistinct("n").alias("distinct_nodes_covered"),
    )
    edges_m = comms.select(F.explode("edges").alias("e")).agg(
        (
            F.count(F.lit(1)) - F.countDistinct("e.src", "e.dst")
        ).alias("duplicate_edge_memberships"),
    )
    return _check_rows(agg, nodes_m, edges_m)


def _q_kg_qa_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community -> QA generation (aggregated mode, QA_pairs format)."""
    from graphgen_spark.operators.generate import format_qa, generate_qa

    batches = _kg_batches(spark, sf_dir)
    qa = generate_qa(batches, mode="aggregated")
    return format_qa(qa, "QA_pairs").orderBy("question")


def _mk_kg_qa_mode(mode: str):
    """Rows-only query factory: one CORRECTNESS entry per generation
    mode (cot / multi_choice / multi_answer / fill_in_blank /
    masked_fill_in_blank / quiz / vqa) over the cached communities."""

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from graphgen_spark.operators.generate import generate_qa

        batches = _kg_batches(spark, sf_dir)
        qa = generate_qa(batches, mode=mode)
        return qa.select(
            "community_id", "mode", "question", "answer",
            F.coalesce(F.concat_ws(" | ", "options"), F.lit("")).alias(
                "options_str"
            ),
        ).orderBy("community_id", "question")

    return q


def _q_qa_eval_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reward + UniEval stand-in scores as pure expressions over a
    derived doc-level QA frame (question = qa_dialogue rephrase head,
    answer = doc text) — the oracle-checkable face of the QA
    evaluators (reference reward_evaluator.py / uni_evaluator.py)."""
    from graphgen_spark.operators.evaluate import (
        with_reward_score,
        with_uni_scores,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    qa = docs.select(
        "doc_id",
        F.concat(
            F.lit("What does document "), F.col("doc_id").cast("string"),
            F.lit(" state?"),
        ).alias("question"),
        F.col("text").alias("answer"),
    )
    return (
        with_uni_scores(with_reward_score(qa))
        .select(
            "doc_id", "reward_score", "naturalness", "coherence",
            "understandability",
        )
        .orderBy("doc_id")
    )


def _q_kg_qa_vqa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM chunks -> KG -> VQA generation (rows-only): every 10th doc
    becomes an image chunk whose caption is the doc text; the MM
    mini-graphs (central IMAGE entity + caption entities) feed the VQA
    generator (reference build_mm_kg.py + vqa_generator.py)."""
    from graphgen_spark.operators.generate import generate_qa
    from graphgen_spark.operators.partitioners import (
        bfs_partition,
        community_to_batches,
    )
    from graphgen_spark.pipelines import run_mixed_kg_pipeline

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("url"),
        F.when(F.col("doc_id") % 10 == 0, F.lit("image"))
        .otherwise(F.lit("text"))
        .alias("type"),
        F.col("text").alias("content"),
    )
    out = run_mixed_kg_pipeline(spark, docs, chunk_size=512,
                                chunk_overlap=64)
    nodes = out["nodes"].localCheckpoint(eager=True)
    edges = out["edges"].localCheckpoint(eager=True)
    comms = bfs_partition(nodes, edges, max_units=10).localCheckpoint(
        eager=True
    )
    batches = community_to_batches(comms, nodes, edges)
    return (
        generate_qa(batches, mode="vqa")
        .select("community_id", "question", "answer", "img_path")
        .orderBy("community_id", "question")
    )


def _q_kg_qa_vqa_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VQA generation surface WITHOUT codecs (VERDICT r5 #5): the
    oracle-green byte-histogram fingerprint stands in for decoded
    pixels — each media row's top-3 histogram bins become a
    deterministic visual-feature description, each media becomes a
    one-node community whose IMAGE entity feeds the UNTOUCHED vqa
    kernel (generate.py vqa mode: IMAGE-type filter, the
    ``media/<name>`` img_path convention, question/answer format;
    reference ``models/generator/vqa_generator.py:78-90``).
    Audio/video rows ride along and exercise the kernel's non-IMAGE
    skip path.  The codec decode itself stays the one documented
    boundary (multimodal.py)."""
    from pyspark.sql import Window

    from graphgen_spark.datapipe.multimodal import (
        byte_histograms,
        synth_media_df,
    )
    from graphgen_spark.operators.generate import generate_qa

    hist = byte_histograms(synth_media_df(spark, 128))
    bins = hist.select(
        "media_id", "modality",
        F.posexplode("hist").alias("bin", "cnt"),
    )
    w = Window.partitionBy("media_id").orderBy(
        F.desc("cnt"), F.asc("bin")
    )
    top = (
        bins.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= 3)
        .groupBy("media_id", "modality")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("_rk").alias("rk"),
                                F.concat(
                                    F.lit("b"),
                                    F.col("bin").cast("string"),
                                ).alias("tok"),
                            )
                        )
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("feat")
        )
    )
    batches = top.select(
        F.concat(F.lit("media::"), "media_id").alias("community_id"),
        F.array(
            F.struct(
                F.upper("media_id").alias("entity_name"),
                F.upper("modality").alias("entity_type"),
                F.concat(
                    F.lit("dominant byte bins: "), "feat"
                ).alias("description"),
            )
        ).alias("node_data"),
        F.lit(None)
        .cast(
            "array<struct<src_id:string,tgt_id:string,"
            "description:string>>"
        )
        .alias("edge_data"),
    )
    qa = generate_qa(batches, mode="vqa")
    return qa.select(
        "community_id", "question", "answer", "img_path"
    ).orderBy("community_id")


def _kg_qa_vqa_hist_oracle() -> str:
    """DuckDB replay: the same literal independent pure-Python
    histogram recomputation media_byte_hist uses, then the top-3 bin
    pick (count desc, bin asc) and the vqa kernel's formatting —
    question template, IMAGE filter, media/<lower name> img_path."""
    from graphgen_spark.datapipe.multimodal import synth_media_expected

    rows = ", ".join(
        "('{}', '{}', '{}')".format(
            mid, mod, ",".join(str(c) for c in hist)
        )
        for mid, mod, _nb, hist in synth_media_expected(128)
    )
    return f"""
        WITH t(media_id, modality, hist) AS (VALUES {rows}),
        img AS (
            SELECT media_id, string_split(hist, ',') AS parts
            FROM t WHERE modality = 'image'
        ),
        bins AS (
            SELECT media_id, r.i AS bin,
                   CAST(parts[r.i + 1] AS BIGINT) AS cnt
            FROM img, range(32) r(i)
        ),
        ranked AS (
            SELECT media_id, bin,
                   row_number() OVER (
                       PARTITION BY media_id
                       ORDER BY cnt DESC, bin ASC
                   ) AS rk
            FROM bins
        ),
        feat AS (
            SELECT media_id,
                   string_agg('b' || bin, ' ' ORDER BY rk) AS f
            FROM ranked WHERE rk <= 3 GROUP BY media_id
        )
        SELECT 'media::' || media_id AS community_id,
               'What does the image ' || upper(media_id)
                   || ' depict?' AS question,
               'dominant byte bins: ' || f AS answer,
               'media/' || media_id AS img_path
        FROM feat
        ORDER BY community_id
    """


def _q_fill_in_blank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fill_in_blank generation kernel as a pure string transform
    over documents (reference fill_in_blank_generator.py row shape:
    question with a blank + the answer token) — oracle-checkable."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    t = docs.withColumn("toks", toks).where(F.size("toks") >= 4)
    return t.select(
        "doc_id",
        F.concat(
            F.concat_ws(" ", F.slice("toks", 1, 2)),
            F.lit(" ____ "),
            F.concat_ws(
                " ", F.slice("toks", 4, F.size("toks") - F.lit(3))
            ),
        ).alias("question"),
        F.element_at("toks", 3).alias("answer"),
    ).orderBy("doc_id")


def _q_multi_choice_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi_choice generation kernel doc-level: 4 candidate tokens
    (positions 3/7/11/15), sorted into lettered options; answer is the
    letter of the position-3 token (multi_choice_generator.py shape)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    # r7 note: tried an explode(array(struct(...))) pushdown barrier
    # to evaluate split() once; the Generate path evaluates its
    # generator without subexpression elimination and the optimizer
    # re-derives a pushed filter below it — both variants measured
    # SLOWER (2.1-2.5 s vs 1.8 s at sf1.0).  The original
    # filter+project shape (split ~2x per row, CSE within each
    # operator) stands as the measured best native formulation.
    t = docs.withColumn("toks", toks).where(F.size("toks") >= 15)
    cands = F.array(
        F.element_at("toks", 3), F.element_at("toks", 7),
        F.element_at("toks", 11), F.element_at("toks", 15),
    )
    t = t.withColumn("cands", cands).where(
        F.size(F.array_distinct("cands")) == 4
    ).withColumn("sorted_c", F.array_sort("cands"))
    opt = F.concat_ws(
        " | ",
        F.concat(F.lit("A. "), F.element_at("sorted_c", 1)),
        F.concat(F.lit("B. "), F.element_at("sorted_c", 2)),
        F.concat(F.lit("C. "), F.element_at("sorted_c", 3)),
        F.concat(F.lit("D. "), F.element_at("sorted_c", 4)),
    )
    letter = F.element_at(
        F.array(F.lit("A"), F.lit("B"), F.lit("C"), F.lit("D")),
        F.array_position("sorted_c", F.element_at("toks", 3)).cast("int"),
    )
    return t.select(
        "doc_id",
        F.lit("Which token appears at position 3?").alias("question"),
        opt.alias("options_str"),
        letter.alias("answer"),
    ).orderBy("doc_id")


def _q_masked_fill_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The masked_fill_in_blank kernel doc-level: mask every occurrence
    of a deterministically-chosen token (lexicographic max of the first
    10) with '{ }' (masked_fill_in_blank_generator.py:110-135 shape)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    # r7: same explode barrier as multi_choice_docs — without it the
    # pushed-down not-null/non-empty filter re-evaluated the full
    # split+slice+array_max per row before the projection did it
    # again.  Rows and values identical (1:1 explode).
    t = docs.select(
        "doc_id", "text",
        F.explode(
            F.array(F.array_max(F.slice(toks, 1, 10)))
        ).alias("mask_tok"),
    ).where(F.col("mask_tok").isNotNull() & (F.col("mask_tok") != ""))
    return t.select(
        "doc_id",
        F.replace(F.col("text"), F.col("mask_tok"), F.lit("{ }")).alias(
            "question"
        ),
        F.col("mask_tok").alias("answer"),
    ).orderBy("doc_id")


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs (pure relational shingle join).
    df_cap=4 keeps the stop-shingle filter non-vacuous at sf0.01 (max
    shingle df there is 7; 151 hot shingles actually drop) so the
    oracle hash-checks the CAPPED semantics, not just the join."""
    from graphgen_spark.datapipe.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        ngram_jaccard_pairs(docs, n=3, threshold=0.05, df_cap=4)
        .withColumn("jaccard", F.round("jaccard", 6))
        .orderBy("a", "b")
    )


def _q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang quality aggregates (punct + repetition ratios)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    rep = F.lit(1.0) - F.size(F.array_distinct(toks)) / F.size(toks)
    return (
        docs.withColumn("rep_ratio", rep)
        .groupBy("lang")
        .agg(
            F.round(F.avg("rep_ratio"), 6).alias("avg_repetition"),
            F.round(
                F.avg(F.length("text") / F.size(toks)), 6
            ).alias("avg_chars_per_token"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("lang")
    )


def _q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label elementwise centroid norm (posexplode + two aggs)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    per_dim = (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.avg("v").alias("mean_v"))
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.round(
                F.sqrt(F.sum(F.col("mean_v") * F.col("mean_v"))), 6
            ).alias("centroid_norm"),
            F.count(F.lit(1)).alias("dim"),
        )
        .orderBy("label")
    )


def _q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 for the first 5 vectors."""
    from graphgen_spark.datapipe.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        # double math on both engines, then an exact integer contract:
        # float32 products hashed differently across engines
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries_df = emb.where(F.col("vec_id") < 5)
    return (
        brute_force_topk(emb, queries_df, k=3)
        .select(
            "query_id", "neighbor_id", "rank",
            F.round(F.col("cosine") * 10000).cast("long")
            .alias("cosine_x10k"),
        )
        .orderBy("query_id", "rank")
    )


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH verified near-dup pairs, oracle-checked end to end:
    the DuckDB side replays the md5-prefix gram hashes, the exact-int64
    signature recurrence (coefficients inlined from the seed), band
    buckets, candidate join, and integer Jaccard (datapipe/dedup.py).
    The CC grouping on top is oracle-checked too (minhash_dedup_groups,
    recursive min-label closure)."""
    from graphgen_spark.datapipe.dedup import minhash_verified_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        minhash_verified_pairs(docs, num_perm=64, bands=16,
                               threshold=0.5)
        .orderBy("a", "b")
    )


def _q_embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-pruned approximate top-k (single hyperplane table) —
    oracle-checked: DuckDB re-derives the sign-bit buckets from the
    inlined plane matrix and ranks the same in-bucket candidates."""
    from graphgen_spark.datapipe.similarity import lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries_df = emb.where(F.col("vec_id") < 20)
    return (
        lsh_topk(emb, queries_df, k=3, n_planes=6)
        .select(
            "query_id", "neighbor_id", "rank",
            F.round(F.col("cosine") * 10000).cast("long")
            .alias("cosine_x10k"),
        )
        .orderBy("query_id", "rank")
    )


def _q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with deterministic precomputed centroids — the whole
    search path (assignment, nprobe probing, in-cell ranking)
    oracle-checked; the MLlib k-means centroid REFRESH is covered by
    embedding_centroids + the recall gate in pytest."""
    from graphgen_spark.datapipe.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries_df = emb.where(F.col("vec_id") < 20)
    return (
        ivf_topk(
            emb, queries_df, k=3, n_cells=16, nprobe=4,
            centroids="random", seed=7,
        )
        .select(
            "query_id", "neighbor_id", "rank",
            F.round(F.col("cosine") * 10000).cast("long")
            .alias("cosine_x10k"),
        )
        .orderBy("query_id", "rank")
    )


def _q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane-LSH embedding near-dup pairs, oracle-
    checked: the DuckDB side inlines the literal plane matrices,
    re-derives the sign-bit buckets, and verifies cosine at the same
    x10k rounding as embedding_topk.  Embeddings are double-cast on
    both sides (float32 kernels differ across engines)."""
    from graphgen_spark.datapipe.dedup import embedding_neardup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    # the synthetic embeddings are near-orthogonal (max pairwise
    # cosine 0.51) — plant provable near-dups: every 10th vector
    # re-appended under a shifted id with its first coordinate nudged
    # (cosine ~0.999), mirrored exactly in the oracle
    pert = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.col("embedding").getItem(0) + F.lit(0.05)),
            F.slice("embedding", 2, 63),
        ).alias("embedding"),
    )
    return (
        embedding_neardup_pairs(
            emb.select("vec_id", "embedding").unionByName(pert),
            threshold=0.95, n_planes=10, n_tables=3,
        )
        .select(
            "a", "b",
            F.round(F.col("cosine") * 10000).cast("long")
            .alias("cosine_x10k"),
        )
        .orderBy("a", "b")
    )


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SimHash near-dup pairs, oracle-checked end to end: the
    DuckDB side replays the md5-prefix token hashes, per-bit majority
    votes, band blocking, and bit_count(xor) Hamming verification
    (datapipe/dedup.py simhash_pairs_oracle_sql)."""
    from graphgen_spark.datapipe.dedup import simhash_dup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        simhash_dup_pairs(docs, max_hamming=3, bands=4)
        .orderBy("a", "b")
    )


def _q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup groups, oracle-checked END TO END: the
    DuckDB side replays the whole pair stage and then groups it with
    a RECURSIVE min-label transitive closure — upgrading the last
    rows-only dedup stage to hash-checked.  The engine path keeps the
    distributed large/small-star CC fixpoint (components.py); only the
    oracle uses recursion (fine at sf0.01 scale)."""
    from graphgen_spark.datapipe.dedup import minhash_lsh_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        minhash_lsh_dedup(docs, num_perm=64, bands=16, threshold=0.5)
        .orderBy("doc_id")
    )


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: synthetic media -> feature vectors
    (rows-only; decode is the documented deterministic fake)."""
    from graphgen_spark.datapipe.multimodal import (
        extract_features,
        synth_media_df,
    )

    media = synth_media_df(spark, 128)
    return extract_features(media).select(
        "media_id", "modality", "feat_dim"
    ).orderBy("media_id")


def _q_media_byte_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column fingerprinting over the synthetic media table —
    oracle-checked: exact folded byte histograms; the DuckDB side
    inlines an independent pure-Python recomputation (no decode on
    either side — byte-level plumbing, the honest non-codec check)."""
    from graphgen_spark.datapipe.multimodal import (
        byte_histograms,
        synth_media_df,
    )

    media = synth_media_df(spark, 128)
    # The driver canonicalizer sorts on every output column with
    # pandas, which cannot sort/factorize list cells — so the exact
    # histogram travels as a comma-joined string, not array<bigint>.
    return (
        byte_histograms(media)
        .select(
            "media_id",
            "modality",
            "n_bytes",
            F.array_join("hist", ",").alias("hist"),
        )
        .orderBy("media_id")
    )


def _media_byte_hist_oracle() -> str:
    from graphgen_spark.datapipe.multimodal import synth_media_expected

    rows = ", ".join(
        "('{}', '{}', {}, '{}')".format(
            mid, mod, nb, ",".join(str(c) for c in hist)
        )
        for mid, mod, nb, hist in synth_media_expected(128)
    )
    return f"""
        SELECT media_id, modality,
               CAST(n_bytes AS BIGINT) AS n_bytes, hist
        FROM (VALUES {rows})
            AS t(media_id, modality, n_bytes, hist)
        ORDER BY media_id
    """


def _q_supplier_part_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution operator (stats.degree_table) over a
    SQL-derivable bipartite graph (supplier-part from lineitem) — the
    oracle-checkable face of the graph-stats surface."""
    from graphgen_spark.operators.stats import degree_table

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # r7: dedupe on the raw integer keys FIRST (the distinct's shuffle
    # carries 16 bytes/row instead of two ~10-char strings — guide
    # §2.3 "narrower types"), and keep the node ids integral all the
    # way through degree_table: 2k / 2k+1 is injective with disjoint
    # part/supplier namespaces, exactly like the old "p:"/"s:" string
    # prefixes, so every per-node degree — and the degree histogram
    # this query returns — is identical, while the explode+groupBy
    # runs over 12M longs instead of 12M strings.
    edges = (
        li.select("l_partkey", "l_suppkey")
        .distinct()
        .select(
            (F.col("l_partkey") * 2).alias("src_id"),
            (F.col("l_suppkey") * 2 + 1).alias("tgt_id"),
        )
    )
    deg = degree_table(edges)
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("degree")
    )


def _q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: a >30-minute gap starts a new session (lag +
    cumulative sum window) — per-user session counts + mean length."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts = F.col("ts").cast("timestamp").cast("double")
    with_gap = ev.withColumn(
        "new_session",
        F.when(
            ts - F.lag(ts).over(w) > 1800, F.lit(1)
        ).otherwise(F.lit(0)),
    )
    sessions = with_gap.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.round(F.avg("n_events"), 6).alias("avg_events_per_session"),
        )
        .orderBy("user_id")
    )


def _q_doc_mtld(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MTLD lexical diversity per doc (reference mtld_evaluator.py) —
    the order-dependent forward+backward factor scan, previously
    documented as non-SQL-expressible and rows-only.  Oracle-checked:
    DuckDB replays the exact sequential scan with a RECURSIVE CTE
    (datapipe/textstats.py mtld_oracle_sql) and both sides emit exact
    micros, so the one remaining 'trust the pytest' evaluator metric
    is now hash-gated too.  Engine path stays the Arrow-batched pandas
    UDF (a per-row scan is the right shape at scale; the recursion is
    oracle-only)."""
    from graphgen_spark.datapipe.textstats import mtld_udf

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.select(
            "doc_id",
            F.round(mtld_udf("text") * F.lit(1_000_000.0))
            .cast("long")
            .alias("mtld_micro"),
        )
        .orderBy("doc_id")
    )


def _q_doc_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-lang hash-ordered sampling (datapipe/sampling.py) —
    the reproducible-split curation op, oracle-checked."""
    from graphgen_spark.datapipe.sampling import stratified_take

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        stratified_take(docs, k=50)
        .select("doc_id", "lang", "sample_rank")
        .orderBy("lang", "sample_rank")
    )


def _q_doc_sample_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang token-budget take ('at least N tokens per language'),
    oracle-checked: cumulative window sum over the md5 hash order."""
    from graphgen_spark.datapipe.sampling import token_budget_take

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        token_budget_take(docs, budget_tokens=2_000)
        .select("doc_id", "lang", "cum_tokens")
        .orderBy("lang", "cum_tokens")
    )


def _q_pages_host_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-diversity cap (at most k pages per host) over the
    synthesized pages, oracle-checked via the materialized pages
    parquet."""
    from graphgen_spark.datapipe.sampling import per_host_cap

    pages = _pages_narrow_for(spark, sf_dir).select("url")
    return (
        per_host_cap(pages, k=3)
        .select("url", "host", "host_rank")
        .orderBy("host", "host_rank", "url")
    )


_CURATE_ARGS = dict(
    min_tokens=30, max_tokens=100_000, max_repetition_pct=60,
    langs=["en", "zh", "de", "fr"], sample_k=40,
)


def _q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation funnel (length/repetition/lang gates -> exact
    dedup -> stratified sample, datapipe/curate.py) — final selection,
    oracle-checked end to end."""
    from graphgen_spark.datapipe.curate import curate_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    curated, _ = curate_corpus(docs, **_CURATE_ARGS)
    return curated.orderBy("lang", "sample_rank")


def _q_corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage rejection counts for the same curation run (the audit
    artifact a curation pass reports) — pure bigints, oracle-checked."""
    from graphgen_spark.datapipe.curate import curate_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _, funnel = curate_corpus(docs, **_CURATE_ARGS)
    return funnel.orderBy("stage_idx")


def _q_qa_eval_metrics_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregated evaluator metrics (the qa_eval_metrics SHAPE) over an
    SQL-expressible QA frame, hash-proof via per-row integer micros.
    The KG-chain qa_eval_metrics stays rows-only: its input communities
    come from the greedy BFS partitioner (not SQL-expressible) and MTLD
    is an order-dependent scan."""
    from graphgen_spark.operators.evaluate import (
        with_reward_score,
        with_uni_scores,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    qa = docs.select(
        "doc_id", "lang",
        F.concat(
            F.lit("What does document "), F.col("doc_id").cast("string"),
            F.lit(" state?"),
        ).alias("question"),
        F.col("text").alias("answer"),
    )
    scored = with_uni_scores(with_reward_score(qa)).withColumn(
        "answer_tokens", F.size(F.split(F.trim("answer"), r"\s+"))
    )
    micro = lambda c: F.round(F.col(c) * 1000000).cast("long")  # noqa: E731
    return (
        scored.select(
            "lang", "answer_tokens",
            micro("reward_score").alias("rw"),
            micro("naturalness").alias("na"),
            micro("coherence").alias("co"),
            micro("understandability").alias("un"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.expr("(1000000 * sum(answer_tokens)) div count(*)").alias(
                "avg_answer_tokens_micro"
            ),
            F.expr("sum(rw) div count(*)").alias("avg_reward_micro"),
            F.expr("sum(na) div count(*)").alias("avg_naturalness_micro"),
            F.expr("sum(co) div count(*)").alias("avg_coherence_micro"),
            F.expr("sum(un) div count(*)").alias(
                "avg_understandability_micro"
            ),
        )
        .orderBy("lang")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order is a CONTRACT: the driver verifies only the
    FIRST 50 entries, so every oracle-backed query (one per key in
    oracle_sql()) comes first, then the rows-only queries ordered by
    how much unique machinery they exercise.  Keep new oracle-backed
    queries ABOVE the rows-only block (tests/test_contract.py gates
    this)."""
    return {
        # --- oracle-backed (hash-checked by the driver at sf0.01) ---
        "doc_token_stats": _q_doc_token_stats,
        "doc_bpe_token_stats": _q_doc_bpe_token_stats,
        "exact_dup_groups": _q_exact_dup_groups,
        "events_windows": _q_events_windows,
        "filter_range": _q_filter_range,
        "doc_fingerprint_dups": _q_doc_fingerprint_dups,
        "supplier_part_degrees": _q_supplier_part_degrees,
        "events_sessions": _q_events_sessions,
        "qa_eval_metrics_agg": _q_qa_eval_metrics_agg,
        "doc_sample_stratified": _q_doc_sample_stratified,
        "corpus_curation": _q_corpus_curation,
        "corpus_curation_funnel": _q_corpus_curation_funnel,
        "doc_sample_budget": _q_doc_sample_budget,
        "pages_host_cap": _q_pages_host_cap,
        "rephrase_docs": _q_rephrase_docs,
        "ngram_jaccard_pairs": _q_ngram_jaccard,
        "doc_quality_by_lang": _q_doc_quality,
        "embedding_centroids": _q_embedding_centroids,
        "embedding_topk": _q_embedding_topk,
        "minhash_verified_pairs": _q_minhash_pairs,
        "simhash_pairs": _q_simhash_pairs,
        "embedding_neardup_pairs": _q_embedding_neardup,
        "embedding_lsh_topk": _q_embedding_lsh_topk,
        "embedding_ivf_topk": _q_embedding_ivf_topk,
        "media_byte_hist": _q_media_byte_hist,
        "kg_triples_nodict": _q_kg_triples_nodict,
        "kg_triples_linked": _q_kg_triples_linked,
        "kg_edges_merged": _q_kg_edges_merged,
        "kg_nodes_merged": _q_kg_nodes_merged,
        "kg_coverage_by_url": _q_kg_coverage,
        "kg_communities_triple": _q_kg_communities_triple,
        "kg_communities_check": _q_kg_communities_check,
        "kg_communities_quint_exact": _q_kg_communities_quint_exact,
        "kg_communities_bfs_exact": _q_kg_communities_bfs_exact,
        "kg_louvain_check": _q_kg_louvain_check,
        "kg_pagerank": _q_kg_pagerank,
        "kg_triangles": _q_kg_triangles,
        "kg_qa_aggregated_triple": _mk_kg_qa_triple("aggregated"),
        "kg_qa_quiz_triple": _mk_kg_qa_triple("quiz"),
        "kg_qa_masked_fib_triple": _mk_kg_qa_triple(
            "masked_fill_in_blank"
        ),
        "kg_qa_multi_answer_star": _q_kg_qa_multi_answer_star,
        "kg_qa_vqa_hist": _q_kg_qa_vqa_hist,
        "kg_triple_eval_scores": _q_kg_triple_eval_scores,
        "kg_ece_check": _q_kg_ece_check,
        "fill_in_blank_docs": _q_fill_in_blank_docs,
        "multi_choice_docs": _q_multi_choice_docs,
        "masked_fill_docs": _q_masked_fill_docs,
        "qa_eval_docs": _q_qa_eval_docs,
        "minhash_dedup_groups": _q_minhash_dedup,
        "doc_mtld": _q_doc_mtld,
        # --- rows-only tail (beyond the driver's 50-query window —
        # the window is now 100% oracle-backed; pytest-covered) ---
        "kg_communities": _q_kg_communities,
        "media_features": _q_media_features,
        "kg_triple_eval": _q_kg_triple_eval,
        "kg_communities_louvain": _q_kg_communities_louvain,
        "kg_qa_pairs": _q_kg_qa_pairs,
        "kg_qa_cot": _mk_kg_qa_mode("cot"),
        "kg_qa_multi_choice": _mk_kg_qa_mode("multi_choice"),
        "kg_qa_multi_answer": _mk_kg_qa_mode("multi_answer"),
        "kg_qa_fill_in_blank": _mk_kg_qa_mode("fill_in_blank"),
        "kg_qa_masked_fib": _mk_kg_qa_mode("masked_fill_in_blank"),
        "kg_qa_quiz": _mk_kg_qa_mode("quiz"),
        "kg_qa_vqa": _q_kg_qa_vqa,
        # pricing_summary / top_customers / parts_never_ordered were
        # DEMOTED from the window in r5 to make room for three queries
        # that exercise unique engine machinery (masked-fib generation,
        # triple-eval lineage scoring, chunked-ECE conservation); the
        # TPC-H trio checks only generic agg/join/anti-join shapes that
        # a dozen window queries already cover, and stays hash-verified
        # locally via DEMOTED_ORACLES + tests/test_demoted_oracles.py.
        # kg_qa_true_false was DEMOTED in r6 to make room for
        # kg_qa_multi_answer_star: true_false is a pure projection of
        # the same merged CTE chain that kg_qa_aggregated_triple
        # already hash-checks (identical gate/merge machinery, only
        # the string template differs), while multi_answer was the
        # 10th of 11 generation modes without an oracle row.  Stays
        # hash-verified via DEMOTED_ORACLES at sf0.001.
        "kg_qa_true_false": _q_kg_qa_true_false,
        # kg_qa_atomic_triple DEMOTED in r6 for
        # kg_communities_quint_exact: atomic is the same per-
        # (community, endpoint-node) node_desc projection the still-
        # green quiz oracle exercises (quiz adds the mask/fallback on
        # top), while exact greedy-partitioner membership had no
        # hash-checked row at all.  Hash-verified via DEMOTED_ORACLES.
        "kg_qa_atomic_triple": _mk_kg_qa_triple("atomic"),
        # kg_qa_cot_triple DEMOTED in r6 for kg_qa_vqa_hist: cot over
        # triple communities is the same merged-CTE projection family
        # as the still-green aggregated oracle (reasoning text is a
        # string template over the identical gated description), while
        # vqa had NO hash-checked row at all.  Hash-verified below via
        # DEMOTED_ORACLES.
        "kg_qa_cot_triple": _mk_kg_qa_triple("cot"),
        # kg_qa_fib_triple DEMOTED in r6 for kg_communities_bfs_exact:
        # the still-green masked-fib oracle strictly supersets fib's
        # machinery (same blank-template regex over the same merged
        # CTE chain, plus the crc32->md5-prefix pick on top), while
        # the flagship BFS partitioner's exact membership had only
        # conservation-law coverage.  Hash-verified via
        # DEMOTED_ORACLES.
        "kg_qa_fib_triple": _mk_kg_qa_triple("fill_in_blank"),
        "pricing_summary": _q_pricing_summary,
        "top_customers": _q_top_customers,
        "parts_never_ordered": _q_parts_never_ordered,
    }


# KG-spine oracle: the driver checks correctness at sf0.01.  The pages
# and alias-label tables are deterministic pure-Python functions of
# (doc_ids, n_entities), materialized WITHOUT Spark (pyarrow writer +
# driver-side union-find) so DuckDB can re-derive the triples from
# first principles: regexp_extract_all over pages.text + a label join.
_ORACLE_SF_DIR = "/root/testdata/sf0.01"
_ORACLE_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".oracle"
)


def _kg_oracle_paths() -> tuple[str, str]:
    from graphgen_spark.synth import (
        materialize_alias_labels_parquet,
        materialize_pages_parquet,
    )

    pages = materialize_pages_parquet(
        _ORACLE_SF_DIR,
        os.path.join(_ORACLE_DIR, f"pages_sf001_e{N_SYNTH_ENTITIES}.parquet"),
        N_SYNTH_ENTITIES,
    )
    labels = materialize_alias_labels_parquet(
        os.path.join(_ORACLE_DIR, f"labels_e{N_SYNTH_ENTITIES}.parquet"),
        N_SYNTH_ENTITIES,
    )
    return pages, labels


def _kg_oracle_ctes(linked: bool) -> str:
    """Shared WITH-clause: pages -> regex mentions -> (linked) triples."""
    from graphgen_spark.extraction import _REL_EN_RE, _REL_ZH_RE

    pages_path, labels_path = _kg_oracle_paths()
    en, zh = _REL_EN_RE.pattern, _REL_ZH_RE.pattern
    assert "'" not in en and "'" not in zh  # safe as SQL literals
    men = f"""
        pages AS (
            SELECT url, text FROM read_parquet('{pages_path}')
        ),
        men AS (
            SELECT url,
                   unnest(regexp_extract_all(text, '{en}', 1)) AS s,
                   unnest(regexp_extract_all(text, '{en}', 2)) AS v,
                   unnest(regexp_extract_all(text, '{en}', 3)) AS t
            FROM pages
            UNION ALL
            SELECT url,
                   unnest(regexp_extract_all(text, '{zh}', 1)),
                   unnest(regexp_extract_all(text, '{zh}', 2)),
                   unnest(regexp_extract_all(text, '{zh}', 3))
            FROM pages
        )"""
    if not linked:
        return f"""WITH {men},
        triples AS (
            SELECT url,
                   least(upper(s), upper(t)) AS subj,
                   s || ' ' || v || ' ' || t AS pred,
                   greatest(upper(s), upper(t)) AS obj
            FROM men WHERE upper(s) <> upper(t)
        )"""
    return f"""WITH {men},
        lab AS (
            SELECT alias_norm, canonical_key
            FROM read_parquet('{labels_path}')
        ),
        linked AS (
            SELECT men.url,
                   coalesce(ls.canonical_key, upper(men.s)) AS cs,
                   coalesce(lt.canonical_key, upper(men.t)) AS ct,
                   men.s || ' ' || men.v || ' ' || men.t AS pred
            FROM men
            LEFT JOIN lab ls ON upper(men.s) = ls.alias_norm
            LEFT JOIN lab lt ON upper(men.t) = lt.alias_norm
        ),
        triples AS (
            SELECT url, least(cs, ct) AS subj, pred,
                   greatest(cs, ct) AS obj
            FROM linked WHERE cs <> ct
        )"""


def _re_escape_sql(expr: str) -> str:
    """RE2-escape an SQL string expression so entity names interpolate
    into DuckDB regexes exactly like the engine's ``re.escape``'d
    search (generate.py masks / quiz fallback).  Identity on the
    metachar-free synthetic names, so oracle hashes are unchanged; a
    future name holding ``.+*?()[]{}^$|\\`` now masks identically on
    both engines instead of silently diverging (ADVICE r5)."""
    return (
        f"regexp_replace({expr},"
        r" '([\^\$\.\|\?\*\+\(\)\[\]\{\}\\])', '\\\0', 'g')"
    )


# Shared token budgets (ADVICE r5: derive the gate cap and the greedy
# max_tokens from named constants so the conservation-law overbudget
# bounds track any future cap change).  _GATE_TOKEN_CAP is the
# ENGINE's summary-gate cap — one source of truth with merge.py.
from graphgen_spark.operators.merge import (  # noqa: E402
    MAX_MERGED_VALUES as _MERGE_VALUE_CAP,
    MAX_SUMMARY_TOKENS as _GATE_TOKEN_CAP,
)

_CHECK_MAX_TOKENS = 256  # greedy budget used by the two *_check queries


def _gate_sql(descr: str) -> tuple[str, str]:
    """(description, length) SQL expressions applying the
    ``_GATE_TOKEN_CAP``-token summary gate to a raw merged-description
    expression ``descr`` — the DuckDB twin of
    operators/merge._gated_description (RE2 handles the bounded
    repetition; parity-tested via the hash gates)."""
    from graphgen_spark.textkit import _TOKEN_RE

    tok = _TOKEN_RE.pattern
    assert "'" not in tok
    cap = _GATE_TOKEN_CAP
    trunc = r"^(?:\s*(?:" + tok + r")){%d}" % cap
    n_tok = f"len(regexp_extract_all({descr}, '{tok}'))"
    desc = (
        f"CASE WHEN {n_tok} < {cap} THEN {descr} "
        f"ELSE regexp_extract({descr}, '{trunc}') END"
    )
    length = f"CAST(least({n_tok}, {cap}) AS INT)"
    return desc, length


_MERGED_DESCR = (
    "array_to_string(list_sort(list_distinct(list({v})))[1:%d],"
    " '<SEP>')" % _MERGE_VALUE_CAP
)


def _kg_edges_merged_oracle() -> str:
    desc, length = _gate_sql("descr")
    return f"""{_kg_oracle_ctes(linked=True)},
        merged AS (
            SELECT subj AS src_id, obj AS tgt_id,
                   count(*) AS n_mentions,
                   least(count(DISTINCT url), 200) AS n_sources_capped,
                   {_MERGED_DESCR.format(v='pred')} AS descr
            FROM triples
            GROUP BY subj, obj
        )
        SELECT src_id, tgt_id, n_mentions, n_sources_capped,
               {desc} AS description, {length} AS length
        FROM merged
        ORDER BY src_id, tgt_id
    """


def _kg_merge_ctes(
    src: str, key: str, text: str, labels_path: str,
    edges: bool = False,
) -> str:
    """The ONE copy of the mention/occ/ent/lab/merge WITH-chain body,
    parameterized over the ``{src}({key}, {text})`` relation it scans
    — whole docs (pages.url/text) and materialized chunks
    (chunks.chunk_id/content) share every regex, ordering rule, and
    merge expression through here, so an extraction-grammar or
    gate change cannot silently diverge between the KG oracles.

    Defines: ``m`` (one row per relation match: s, v, t, sent, with
    the src-before-tgt ``ord`` key), ``occ``/``ent`` (FIRST in-{key}
    occurrence per alias, reference seen-set order; description =
    '<alias> is mentioned in: <sentence>'), ``lab`` (canonical
    labels), and ``merged(entity_name, n_mentions, n_sources_capped,
    descr)`` — the capped sorted-distinct node merge.  With
    ``edges=True`` additionally ``linkedrel`` (per-match canonical
    endpoint pairs) and ``emerged(src_id, tgt_id, descr)`` — the
    canonical-ordered edge merge."""
    from graphgen_spark.extraction import _REL_EN_RE, _REL_ZH_RE

    en, zh = _REL_EN_RE.pattern, _REL_ZH_RE.pattern
    assert "'" not in en and "'" not in zh
    base = f"""
        m AS (
            SELECT {key},
                   unnest(range(1, len(regexp_extract_all({text}, '{en}', 1))
                                + 1)) AS ord,
                   unnest(regexp_extract_all({text}, '{en}', 1)) AS s,
                   unnest(regexp_extract_all({text}, '{en}', 2)) AS v,
                   unnest(regexp_extract_all({text}, '{en}', 3)) AS t,
                   unnest(regexp_extract_all({text}, '{en}', 0)) AS sent
            FROM {src}
            UNION ALL
            SELECT {key},
                   1000000 +
                   unnest(range(1, len(regexp_extract_all({text}, '{zh}', 1))
                                + 1)) AS ord,
                   unnest(regexp_extract_all({text}, '{zh}', 1)) AS s,
                   unnest(regexp_extract_all({text}, '{zh}', 2)) AS v,
                   unnest(regexp_extract_all({text}, '{zh}', 3)) AS t,
                   unnest(regexp_extract_all({text}, '{zh}', 0)) AS sent
            FROM {src}
        ),
        occ AS (
            SELECT {key}, alias, sent,
                   row_number() OVER (
                       PARTITION BY {key}, alias ORDER BY ordkey
                   ) AS rn
            FROM (
                SELECT {key}, s AS alias, sent, 2 * ord AS ordkey FROM m
                UNION ALL
                SELECT {key}, t AS alias, sent, 2 * ord + 1 AS ordkey FROM m
            )
        ),
        ent AS (
            SELECT {key}, alias,
                   alias || ' is mentioned in: ' || sent AS descr
            FROM occ WHERE rn = 1
        ),
        lab AS (
            SELECT alias_norm, canonical_key
            FROM read_parquet('{labels_path}')
        ),
        merged AS (
            SELECT coalesce(l.canonical_key, upper(e.alias))
                       AS entity_name,
                   count(*) AS n_mentions,
                   least(count(DISTINCT e.{key}), 200)
                       AS n_sources_capped,
                   {_MERGED_DESCR.format(v='e.descr')} AS descr
            FROM ent e LEFT JOIN lab l ON upper(e.alias) = l.alias_norm
            GROUP BY entity_name
        )"""
    if not edges:
        return base
    return base + f""",
        linkedrel AS (
            SELECT coalesce(ls.canonical_key, upper(m.s)) AS cs,
                   coalesce(lt.canonical_key, upper(m.t)) AS ct,
                   m.s || ' ' || m.v || ' ' || m.t AS pred
            FROM m
            LEFT JOIN lab ls ON upper(m.s) = ls.alias_norm
            LEFT JOIN lab lt ON upper(m.t) = lt.alias_norm
        ),
        emerged AS (
            SELECT least(cs, ct) AS src_id, greatest(cs, ct) AS tgt_id,
                   {_MERGED_DESCR.format(v='pred')} AS descr
            FROM linkedrel WHERE cs <> ct
            GROUP BY least(cs, ct), greatest(cs, ct)
        )"""


def _kg_node_merged_ctes(edges: bool = False) -> str:
    """The whole-doc instantiation of ``_kg_merge_ctes`` (pages
    keyed by url over text); see there for the CTEs defined."""
    pages_path, labels_path = _kg_oracle_paths()
    return f"""
        WITH pages AS (
            SELECT url, text FROM read_parquet('{pages_path}')
        ),{_kg_merge_ctes('pages', 'url', 'text', labels_path, edges)}"""


def _kg_nodes_merged_oracle() -> str:
    return f"""{_kg_node_merged_ctes()}
        SELECT entity_name, n_mentions, n_sources_capped,
               {_gate_sql('descr')[0]} AS description,
               {_gate_sql('descr')[1]} AS length
        FROM merged
        ORDER BY entity_name
    """


def _kg_louvain_check_oracle() -> str:
    """DuckDB prediction of the Louvain partition contract: node
    universe re-derived via the node-merge CTE chain; duplicate and
    cap violations predicted as 0."""
    return f"""{_kg_node_merged_ctes()},
        nstat AS (SELECT count(*) AS n FROM merged)
        SELECT check_name, value FROM (
            SELECT 'distinct_nodes_covered' AS check_name,
                   CAST(n AS BIGINT) AS value FROM nstat
            UNION ALL
            SELECT 'duplicate_edge_memberships', CAST(0 AS BIGINT)
            UNION ALL
            SELECT 'node_memberships', CAST(n AS BIGINT) FROM nstat
            UNION ALL
            SELECT 'oversize_communities', CAST(0 AS BIGINT)
        ) ORDER BY check_name
    """


def _kg_communities_check_oracle() -> str:
    """Independent DuckDB prediction of every BFS-community invariant:
    node/edge universes + gated token lengths re-derived from
    pages.text (same CTE chain the hash-green kg_nodes_merged /
    kg_edges_merged oracles use), cap violations predicted as 0."""
    _, length = _gate_sql("descr")
    return f"""{_kg_node_merged_ctes(edges=True)},
        estat AS (
            SELECT count(*) AS n, CAST(sum({length}) AS BIGINT) AS tok
            FROM emerged
        ),
        nstat AS (
            SELECT count(*) AS n, CAST(sum({length}) AS BIGINT) AS tok
            FROM merged
        )
        SELECT check_name, value FROM (
            SELECT 'distinct_edges_covered' AS check_name,
                   CAST(n AS BIGINT) AS value FROM estat
            UNION ALL
            SELECT 'distinct_nodes_covered', CAST(n AS BIGINT) FROM nstat
            UNION ALL
            SELECT 'edge_memberships', CAST(n AS BIGINT) FROM estat
            UNION ALL
            SELECT 'node_memberships', CAST(n AS BIGINT) FROM nstat
            UNION ALL
            SELECT 'overbudget_communities', CAST(0 AS BIGINT)
            UNION ALL
            SELECT 'oversize_communities', CAST(0 AS BIGINT)
            UNION ALL
            SELECT 'token_sum_total', nstat.tok + estat.tok
            FROM nstat, estat
            UNION ALL
            SELECT 'units_total', CAST(nstat.n + estat.n AS BIGINT)
            FROM nstat, estat
        ) ORDER BY check_name
    """


def _kg_triple_eval_scores_oracle() -> str:
    """DuckDB replay of the whole-doc triple-eval scores: unit counts
    from the mention CTEs (first-occurrence entities per chunk=doc,
    one relation per match), judge arithmetic as literal formula with
    accuracy predicted 1.0 (every unit's surface form is in the doc by
    construction of whole-doc extraction — a miss would hash-fail)."""
    return f"""{_kg_node_merged_ctes()},
        rstat AS (
            SELECT url, count(*) AS n_relations FROM m GROUP BY url
        ),
        estat AS (
            SELECT url, count(*) AS n_entities FROM ent GROUP BY url
        ),
        j AS (
            SELECT e.url,
                   CAST(e.n_entities AS INT) AS n_entities,
                   CAST(r.n_relations AS INT) AS n_relations,
                   round(least(1.0, e.n_entities / 8.0), 6) AS comp_e,
                   round(least(1.0, (2 * r.n_relations) / 8.0), 6)
                       AS comp_r
            FROM estat e JOIN rstat r ON e.url = r.url
        )
        SELECT url, n_entities, n_relations,
               CAST(1000000 AS BIGINT) AS entity_accuracy_micro,
               CAST(round(comp_e * 1000000) AS BIGINT)
                   AS entity_completeness_micro,
               CAST(round(round((1.0 + comp_e + 1.0) / 3.0, 6) * 1000000)
                    AS BIGINT) AS entity_overall_micro,
               CAST(round(round((1.0 + comp_r + 1.0) / 3.0, 6) * 1000000)
                    AS BIGINT) AS relation_overall_micro
        FROM j
        ORDER BY url
    """


def _kg_chunks_oracle_path() -> str:
    from graphgen_spark.synth import materialize_chunks_parquet

    return materialize_chunks_parquet(
        _ORACLE_SF_DIR,
        os.path.join(
            _ORACLE_DIR,
            f"chunks_sf001_e{N_SYNTH_ENTITIES}_c512_o64.parquet",
        ),
        N_SYNTH_ENTITIES, chunk_size=512, chunk_overlap=64,
    )


def _kg_ece_check_oracle() -> str:
    """Independent DuckDB prediction of the chunked-graph ECE
    conservation laws: the chunk table is a materialized deterministic
    asset (synth.materialize_chunks_parquet — same pure-Python split
    kernels the Spark chunker runs), and the node/edge universes +
    gated token lengths are re-derived from CHUNK contents with the
    same CTE shapes the hash-green whole-doc checks use (first
    entity occurrence per chunk, one relation per match, canonical
    linking via the independent label parquet, sorted-distinct capped
    merge, 200-token gate).  Cap violations predicted as 0."""
    chunks_path = _kg_chunks_oracle_path()
    _, labels_path = _kg_oracle_paths()
    _, length = _gate_sql("descr")
    return f"""
        WITH chunks AS (
            SELECT chunk_id, url, content
            FROM read_parquet('{chunks_path}')
        ),{_kg_merge_ctes('chunks', 'chunk_id', 'content', labels_path,
                          edges=True)},
        estat AS (
            SELECT count(*) AS n, CAST(sum({length}) AS BIGINT) AS tok
            FROM emerged
        ),
        nstat AS (
            SELECT count(*) AS n, CAST(sum({length}) AS BIGINT) AS tok
            FROM merged
        )
        SELECT check_name, value FROM (
            SELECT 'distinct_edges_covered' AS check_name,
                   CAST(n AS BIGINT) AS value FROM estat
            UNION ALL
            SELECT 'distinct_nodes_covered', CAST(n AS BIGINT) FROM nstat
            UNION ALL
            SELECT 'edge_memberships', CAST(n AS BIGINT) FROM estat
            UNION ALL
            SELECT 'node_memberships', CAST(n AS BIGINT) FROM nstat
            UNION ALL
            SELECT 'overbudget_communities', CAST(0 AS BIGINT)
            UNION ALL
            SELECT 'oversize_communities', CAST(0 AS BIGINT)
            UNION ALL
            SELECT 'token_sum_total', nstat.tok + estat.tok
            FROM nstat, estat
            UNION ALL
            SELECT 'units_total', CAST(nstat.n + estat.n AS BIGINT)
            FROM nstat, estat
        ) ORDER BY check_name
    """


def _pages_host_cap_oracle() -> str:
    pages_path, _ = _kg_oracle_paths()
    return f"""
        SELECT url, host, host_rank FROM (
            SELECT url,
                   regexp_extract(url, '^[a-z]+://([^/]+)/', 1) AS host,
                   row_number() OVER (
                       PARTITION BY regexp_extract(
                           url, '^[a-z]+://([^/]+)/', 1)
                       ORDER BY md5(url), url
                   ) AS host_rank
            FROM read_parquet('{pages_path}')
        ) WHERE host_rank <= 3
        ORDER BY host, host_rank, url
    """


def _kg_triples_oracle(linked: bool) -> str:
    return f"""{_kg_oracle_ctes(linked)}
        SELECT url, subj, pred, obj, count(*) AS n_mentions
        FROM triples
        GROUP BY url, subj, pred, obj
        ORDER BY url, subj, pred, obj
    """


def _kg_coverage_oracle() -> str:
    return f"""{_kg_oracle_ctes(linked=True)}
        SELECT url,
               count(*) AS n_triples,
               count(DISTINCT subj) AS n_subjects,
               count(DISTINCT obj) AS n_objects,
               count(DISTINCT pred) AS n_predicates
        FROM triples
        GROUP BY url
        ORDER BY url
    """


def _doc_bpe_token_stats_oracle() -> str:
    from graphgen_spark.datapipe.textstats import BPE_ISH_PATTERN

    assert "'" not in BPE_ISH_PATTERN.replace(
        "'(?:[sdmt]|ll|ve|re)", ""
    )
    pat = BPE_ISH_PATTERN.replace("'", "''")
    return rf"""
        WITH t AS (
            SELECT lang,
                   len(regexp_split_to_array(trim(text), '\s+')) AS ws,
                   len(regexp_extract_all(text, '{pat}')) AS bpe
            FROM documents
        )
        SELECT lang, count(*) AS n_docs,
               CAST(sum(ws) AS BIGINT) AS ws_tokens,
               CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
               max(bpe) AS max_doc_bpe
        FROM t GROUP BY lang ORDER BY lang
    """


def _embedding_lsh_topk_oracle() -> str:
    from graphgen_spark.datapipe.similarity import lsh_topk_oracle_sql

    return lsh_topk_oracle_sql(
        "embeddings", k=3, n_planes=6, max_query_id=20
    )


def _embedding_ivf_topk_oracle() -> str:
    from graphgen_spark.datapipe.similarity import ivf_topk_oracle_sql

    return ivf_topk_oracle_sql(
        "embeddings", k=3, n_cells=16, nprobe=4, seed=7,
        max_query_id=20,
    )


def _embedding_neardup_oracle() -> str:
    from graphgen_spark.datapipe.dedup import (
        embedding_neardup_oracle_sql,
    )

    return embedding_neardup_oracle_sql(
        "embeddings", threshold=0.95, n_planes=10, n_tables=3,
        plant_neardups=True,
    )


def _simhash_pairs_oracle() -> str:
    from graphgen_spark.datapipe.dedup import simhash_pairs_oracle_sql

    return simhash_pairs_oracle_sql(
        "documents", max_hamming=3, bands=4
    )


def _doc_mtld_oracle() -> str:
    from graphgen_spark.datapipe.textstats import mtld_oracle_sql

    return mtld_oracle_sql("documents")


def _minhash_groups_oracle() -> str:
    from graphgen_spark.datapipe.dedup import minhash_groups_oracle_sql

    return minhash_groups_oracle_sql(
        "documents", num_perm=64, bands=16, threshold=0.5
    )


def _minhash_pairs_oracle() -> str:
    from graphgen_spark.datapipe.dedup import minhash_pairs_oracle_sql

    return minhash_pairs_oracle_sql(
        "documents", num_perm=64, bands=16, threshold=0.5
    )


def _curate_oracles() -> tuple[str, str]:
    from graphgen_spark.datapipe.curate import curate_oracle_sql

    return curate_oracle_sql("documents", **_CURATE_ARGS)


def _kg_communities_triple_oracle() -> str:
    from graphgen_spark.textkit import _TOKEN_RE

    tok = _TOKEN_RE.pattern
    assert "'" not in tok
    return f"""{_kg_oracle_ctes(linked=True)},
        merged AS (
            SELECT subj, obj,
                   array_to_string(
                       list_sort(list_distinct(list(pred)))[1:200],
                       '<SEP>'
                   ) AS descr
            FROM triples
            GROUP BY subj, obj
        )
        SELECT subj || '::' || obj AS community_id,
               CAST(3 AS INT) AS n_units,
               CAST(least(len(regexp_extract_all(descr, '{tok}')),
                          200) AS BIGINT) AS token_sum
        FROM merged
        ORDER BY community_id
    """


def _kg_pagerank_oracle() -> str:
    from graphgen_spark.operators.graph_metrics import pagerank_oracle_sql

    return pagerank_oracle_sql(_kg_oracle_ctes(linked=True), iterations=5)


def _kg_triangles_oracle() -> str:
    from graphgen_spark.operators.graph_metrics import triangle_oracle_sql

    return triangle_oracle_sql(_kg_oracle_ctes(linked=True))


def oracle_sql() -> dict[str, str]:
    return {
        "kg_triples_nodict": _kg_triples_oracle(linked=False),
        "kg_triples_linked": _kg_triples_oracle(linked=True),
        "kg_coverage_by_url": _kg_coverage_oracle(),
        "kg_communities_triple": _kg_communities_triple_oracle(),
        "kg_communities_check": _kg_communities_check_oracle(),
        "kg_communities_quint_exact": _kg_communities_quint_exact_oracle(),
        "kg_communities_bfs_exact": _kg_communities_bfs_exact_oracle(),
        "kg_louvain_check": _kg_louvain_check_oracle(),
        "kg_pagerank": _kg_pagerank_oracle(),
        "kg_triangles": _kg_triangles_oracle(),
        "kg_edges_merged": _kg_edges_merged_oracle(),
        "kg_nodes_merged": _kg_nodes_merged_oracle(),
        "kg_qa_aggregated_triple": _kg_qa_aggregated_oracle(),
        "kg_qa_quiz_triple": _kg_qa_quiz_oracle(),
        "kg_qa_masked_fib_triple": _kg_qa_masked_fib_oracle(),
        "kg_qa_multi_answer_star": _kg_qa_multi_answer_star_oracle(),
        "kg_qa_vqa_hist": _kg_qa_vqa_hist_oracle(),
        "kg_triple_eval_scores": _kg_triple_eval_scores_oracle(),
        "kg_ece_check": _kg_ece_check_oracle(),
        "minhash_verified_pairs": _minhash_pairs_oracle(),
        "minhash_dedup_groups": _minhash_groups_oracle(),
        "doc_mtld": _doc_mtld_oracle(),
        "media_byte_hist": _media_byte_hist_oracle(),
        "simhash_pairs": _simhash_pairs_oracle(),
        "embedding_neardup_pairs": _embedding_neardup_oracle(),
        "embedding_lsh_topk": _embedding_lsh_topk_oracle(),
        "embedding_ivf_topk": _embedding_ivf_topk_oracle(),
        "corpus_curation": _curate_oracles()[0],
        "corpus_curation_funnel": _curate_oracles()[1],
        "doc_sample_stratified": """
            SELECT doc_id, lang, rn AS sample_rank FROM (
                SELECT doc_id, lang,
                       row_number() OVER (
                           PARTITION BY lang
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                       ) AS rn
                FROM documents
            ) WHERE rn <= 50
            ORDER BY lang, sample_rank
        """,
        "doc_sample_budget": r"""
            WITH t AS (
                SELECT doc_id, lang,
                       len(regexp_split_to_array(trim(text), '\s+'))
                           AS n_tokens,
                       sum(len(regexp_split_to_array(trim(text), '\s+')))
                           OVER (
                               PARTITION BY lang
                               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW
                           ) AS cum_tokens
                FROM documents
            )
            SELECT doc_id, lang, CAST(cum_tokens AS BIGINT) AS cum_tokens
            FROM t WHERE (cum_tokens - n_tokens) < 2000
            ORDER BY lang, cum_tokens
        """,
        "pages_host_cap": _pages_host_cap_oracle(),
        "doc_token_stats": r"""
            SELECT lang,
                   count(*) AS n_docs,
                   CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
                        AS BIGINT) AS total_tokens,
                   CAST((1000000 * sum(len(regexp_split_to_array(
                            trim(text), '\s+')))) // count(*)
                        AS BIGINT) AS avg_tokens_micro
            FROM documents
            GROUP BY lang
            ORDER BY lang
        """,
        "doc_bpe_token_stats": _doc_bpe_token_stats_oracle(),
        "exact_dup_groups": """
            WITH aug AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000 AS doc_id, text FROM documents
                WHERE doc_id % 50 = 0
            )
            SELECT md5(text) AS text_hash,
                   count(*) AS n_copies,
                   min(doc_id) AS keep_doc_id
            FROM aug
            GROUP BY md5(text)
            HAVING count(*) > 1
            ORDER BY keep_doc_id
        """,
        "events_windows": """
            SELECT user_id, event_id, seq, gap_sec FROM (
                SELECT user_id, event_id,
                       row_number() OVER w AS seq,
                       epoch(ts) - epoch(lag(ts) OVER w) AS gap_sec
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ) WHERE seq <= 3
            ORDER BY user_id, seq
        """,
        "filter_range": """
            SELECT doc_id, lang, n_chars FROM documents
            WHERE n_chars >= 200 AND n_chars < 400
            ORDER BY doc_id
        """,
        "doc_fingerprint_dups": r"""
            WITH fp AS (
                SELECT md5(array_to_string(
                           regexp_split_to_array(trim(text), '\s+')[1:5],
                           ' ')) AS fingerprint,
                       doc_id
                FROM documents
            )
            SELECT fingerprint, count(*) AS n_docs,
                   min(doc_id) AS keep_doc_id
            FROM fp GROUP BY fingerprint HAVING count(*) > 1
            ORDER BY keep_doc_id
        """,
        "supplier_part_degrees": """
            WITH edges AS (
                SELECT DISTINCT 'p:' || l_partkey AS src_id,
                                's:' || l_suppkey AS tgt_id
                FROM lineitem
            ),
            deg AS (
                SELECT entity_name, count(*) AS degree FROM (
                    SELECT src_id AS entity_name FROM edges
                    UNION ALL
                    SELECT tgt_id FROM edges
                ) GROUP BY entity_name
            )
            SELECT degree, count(*) AS n_nodes
            FROM deg GROUP BY degree ORDER BY degree
        """,
        "rephrase_docs": r"""
            WITH t AS (
                SELECT doc_id, text,
                       regexp_split_to_array(trim(text), '\s+') AS toks,
                       len(regexp_split_to_array(trim(text), '\s+')) AS n,
                       greatest(
                           len(regexp_split_to_array(trim(text), '\s+'))
                               // 2, 1) AS h
                FROM documents
            )
            SELECT doc_id, style, rephrased FROM (
                SELECT doc_id, 'critical_analysis' AS style,
                       'A critical reading reveals: ' || text
                           || ' However, ' || toks[1]
                           || ' warrants scrutiny.' AS rephrased
                FROM t
                UNION ALL
                SELECT doc_id, 'cross_domain_analogy',
                       'Much like ' || toks[n]
                           || ' in another domain, ' || text
                FROM t
                UNION ALL
                SELECT doc_id, 'executive_summary',
                       'In sum: ' || array_to_string(
                           toks[1:greatest(n // 2, 3)], ' ')
                FROM t
                UNION ALL
                SELECT doc_id, 'first_person_narrative',
                       'From my perspective, ' || lower(substr(text, 1, 1))
                           || substr(text, 2)
                FROM t
                UNION ALL
                SELECT doc_id, 'historical_evolution_perspective',
                       'Initially, ' || array_to_string(toks[1:h], ' ')
                           || '. Eventually, '
                           || array_to_string(toks[h+1:n], ' ') || '.'
                FROM t
                UNION ALL
                SELECT doc_id, 'popular_science',
                       'Imagine: ' || replace(text, '.', '!')
                FROM t
                UNION ALL
                SELECT doc_id, 'qa_dialogue_format',
                       'Q: What does this passage state? A: ' || text
                FROM t
                UNION ALL
                SELECT doc_id, 'technical_deep_dive',
                       '[n_tokens=' || n || '] ' || text
                           || ' (end of analysis)'
                FROM t
            )
            ORDER BY doc_id, style
        """,
        "events_sessions": """
            WITH g AS (
                SELECT user_id, event_id, ts,
                       CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            s AS (
                SELECT user_id,
                       sum(new_session) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING
                       ) AS session_id
                FROM g
            ),
            per_session AS (
                SELECT user_id, session_id, count(*) AS n_events
                FROM s GROUP BY user_id, session_id
            )
            SELECT user_id, count(*) AS n_sessions,
                   round(avg(n_events), 6) AS avg_events_per_session
            FROM per_session GROUP BY user_id ORDER BY user_id
        """,
        "ngram_jaccard_pairs": r"""
            WITH sh0 AS (
                SELECT doc_id,
                       unnest(list_distinct([
                           array_to_string(toks[i:i+2], ' ')
                           FOR i IN range(1, greatest(len(toks) - 2, 1) + 1)
                       ])) AS shingle
                FROM (SELECT doc_id,
                             regexp_split_to_array(trim(text), '\s+') AS toks
                      FROM documents)
            ),
            hot AS (
                SELECT shingle FROM sh0
                GROUP BY shingle HAVING count(*) > 4
            ),
            sh AS (
                SELECT * FROM sh0
                WHERE shingle NOT IN (SELECT shingle FROM hot)
            ),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            common AS (
                SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS common
                FROM sh a JOIN sh b USING (shingle)
                WHERE a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT a, b,
                   round(common::DOUBLE / (sa.sz + sb.sz - common), 6)
                       AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE common::DOUBLE / (sa.sz + sb.sz - common) >= 0.05
            ORDER BY a, b
        """,
        "doc_quality_by_lang": r"""
            WITH t AS (
                SELECT lang, text,
                       regexp_split_to_array(trim(text), '\s+') AS toks
                FROM documents
            )
            SELECT lang,
                   round(avg(1.0 - len(list_distinct(toks))::DOUBLE
                             / len(toks)), 6) AS avg_repetition,
                   round(avg(length(text)::DOUBLE / len(toks)), 6)
                       AS avg_chars_per_token,
                   count(*) AS n_docs
            FROM t GROUP BY lang ORDER BY lang
        """,
        "embedding_centroids": """
            WITH pos AS (
                SELECT unnest(range(1, 65)) AS p   -- 64-dim embeddings
            ),
            per_dim AS (
                SELECT label, p, avg(embedding[p]) AS mean_v
                FROM embeddings, pos
                GROUP BY label, p
            )
            SELECT label,
                   round(sqrt(sum(mean_v * mean_v)), 6) AS centroid_norm,
                   count(*) AS dim
            FROM per_dim GROUP BY label ORDER BY label
        """,
        "embedding_topk": """
            WITH dbl AS (
                SELECT vec_id,
                       list_transform(embedding,
                                      x -> CAST(x AS DOUBLE)) AS emb
                FROM embeddings
            ), scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       list_cosine_similarity(q.emb, c.emb) AS cos_raw,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_cosine_similarity(q.emb, c.emb)
                               DESC, c.vec_id ASC
                       ) AS rank
                FROM dbl q JOIN dbl c
                     ON q.vec_id < 5 AND q.vec_id != c.vec_id
            )
            SELECT query_id, neighbor_id, rank,
                   CAST(round(cos_raw * 10000) AS BIGINT) AS cosine_x10k
            FROM scored WHERE rank <= 3
            ORDER BY query_id, rank
        """,
        "fill_in_blank_docs": r"""
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\s+') AS toks
                FROM documents
            )
            SELECT doc_id,
                   array_to_string(toks[1:2], ' ') || ' ____ '
                       || array_to_string(toks[4:], ' ') AS question,
                   toks[3] AS answer
            FROM t WHERE len(toks) >= 4
            ORDER BY doc_id
        """,
        "multi_choice_docs": r"""
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\s+') AS toks
                FROM documents
            ),
            c AS (
                SELECT doc_id, toks,
                       [toks[3], toks[7], toks[11], toks[15]] AS cands
                FROM t WHERE len(toks) >= 15
            ),
            s AS (
                SELECT doc_id, toks, list_sort(cands) AS sorted_c
                FROM c WHERE len(list_distinct(cands)) = 4
            )
            SELECT doc_id,
                   'Which token appears at position 3?' AS question,
                   'A. ' || sorted_c[1] || ' | B. ' || sorted_c[2]
                       || ' | C. ' || sorted_c[3] || ' | D. '
                       || sorted_c[4] AS options_str,
                   substr('ABCD', list_position(sorted_c, toks[3]), 1)
                       AS answer
            FROM s ORDER BY doc_id
        """,
        "masked_fill_docs": r"""
            WITH t AS (
                SELECT doc_id, text,
                       list_max(regexp_split_to_array(trim(text), '\s+')[1:10])
                           AS mask_tok
                FROM documents
            )
            SELECT doc_id,
                   replace(text, mask_tok, '{ }') AS question,
                   mask_tok AS answer
            FROM t WHERE mask_tok IS NOT NULL AND mask_tok != ''
            ORDER BY doc_id
        """,
        "qa_eval_metrics_agg": r"""
            WITH qa AS (
                SELECT doc_id, lang,
                       'What does document ' || doc_id || ' state?'
                           AS question,
                       text AS answer
                FROM documents
            ),
            t AS (
                SELECT doc_id, lang,
                       regexp_split_to_array(trim(answer), '\s+') AS a,
                       regexp_split_to_array(trim(question), '\s+') AS q,
                       len(regexp_split_to_array(trim(answer), '\s+'))
                           AS n_ans,
                       length(trim(answer))::DOUBLE
                           / len(regexp_split_to_array(trim(answer), '\s+'))
                           AS avg_wlen
                FROM qa
            ),
            o AS (
                SELECT doc_id, lang, n_ans, avg_wlen,
                       len(list_intersect(list_distinct(q),
                                          list_distinct(a)))::DOUBLE
                           / len(list_distinct(list_concat(
                                 list_distinct(q), list_distinct(a))))
                           AS overlap
                FROM t
            ),
            s AS (
                SELECT lang, n_ans AS answer_tokens,
                       CAST(round(round(ln(1.0 + n_ans)
                             - 0.5 * abs(n_ans - 40.0) / 40.0
                             + overlap, 6) * 1000000) AS BIGINT) AS rw,
                       CAST(round(round(1.0 / (1.0
                             + exp(abs(avg_wlen - 5.0) - 3.0)), 6)
                             * 1000000) AS BIGINT) AS na,
                       CAST(round(round(overlap, 6) * 1000000)
                            AS BIGINT) AS co,
                       CAST(round(round(1.0 - least(avg_wlen / 15.0, 1.0),
                             6) * 1000000) AS BIGINT) AS un
                FROM o
            )
            SELECT lang,
                   count(*) AS n_pairs,
                   CAST((1000000 * sum(answer_tokens)) // count(*)
                        AS BIGINT) AS avg_answer_tokens_micro,
                   CAST(sum(rw) // count(*) AS BIGINT) AS avg_reward_micro,
                   CAST(sum(na) // count(*) AS BIGINT)
                       AS avg_naturalness_micro,
                   CAST(sum(co) // count(*) AS BIGINT)
                       AS avg_coherence_micro,
                   CAST(sum(un) // count(*) AS BIGINT)
                       AS avg_understandability_micro
            FROM s
            GROUP BY lang
            ORDER BY lang
        """,
        "qa_eval_docs": r"""
            WITH qa AS (
                SELECT doc_id,
                       'What does document ' || doc_id || ' state?'
                           AS question,
                       text AS answer
                FROM documents
            ),
            t AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(answer), '\s+') AS a,
                       regexp_split_to_array(trim(question), '\s+') AS q,
                       len(regexp_split_to_array(trim(answer), '\s+'))
                           AS n_ans,
                       length(trim(answer))::DOUBLE
                           / len(regexp_split_to_array(trim(answer), '\s+'))
                           AS avg_wlen
                FROM qa
            ),
            o AS (
                SELECT doc_id, n_ans, avg_wlen,
                       len(list_intersect(list_distinct(q),
                                          list_distinct(a)))::DOUBLE
                           / len(list_distinct(list_concat(
                                 list_distinct(q), list_distinct(a))))
                           AS overlap
                FROM t
            )
            SELECT doc_id,
                   round(ln(1.0 + n_ans)
                         - 0.5 * abs(n_ans - 40.0) / 40.0
                         + overlap, 6) AS reward_score,
                   round(1.0 / (1.0 + exp(abs(avg_wlen - 5.0) - 3.0)), 6)
                       AS naturalness,
                   round(overlap, 6) AS coherence,
                   round(1.0 - least(avg_wlen / 15.0, 1.0), 6)
                       AS understandability
            FROM o ORDER BY doc_id
        """,
        # Remaining rows-only queries, each with a concrete reason:
        # - kg_triple_eval: the CHUNKED pipeline config (512/64
        #   overlap) — chunk boundaries aren't SQL; the same spine is
        #   hash-checked whole-doc by kg_triples_{nodict,linked},
        #   kg_{nodes,edges}_merged, kg_coverage_by_url,
        #   kg_qa_true_false.
        # - kg_communities / kg_communities_louvain / kg_qa_{pairs,cot,
        #   multi_choice,multi_answer,fill_in_blank,masked_fib,quiz,
        #   vqa}: exact community payloads come from the greedy seeded
        #   BFS growth (not SQL) — but its conservation laws ARE
        #   hash-checked (kg_communities_check: exactly-once unit
        #   coverage, token-sum conservation, cap compliance); generate
        #   kernels are oracle-checked doc-level (three *_docs queries)
        #   and KG-level via the pure-SQL triple partitioner.
        # - media_features: payloads are hash-synthesized binaries; the
        #   byte-level plumbing is hash-checked by media_byte_hist.
        # Removed (r4/r5, intentional): the KG-chain qa_eval_metrics
        # query was deleted outright — its community+MTLD surface is
        # fully covered by the hash-green qa_eval_metrics_agg,
        # qa_eval_docs and doc_mtld, and keeping a rows-only twin paid
        # a 40 s community build per suite run for no extra check.
    }


# Oracles for the TPC-H queries demoted out of the driver window in r5
# (see the queries() tail comment).  Excluded from oracle_sql() so they
# don't consume window slots; tests/test_demoted_oracles.py keeps them
# hash-verified against DuckDB at sf0.001 every suite run.
# Values are SQL strings or zero-arg callables returning SQL (the KG
# oracles materialize their pages/labels parquet when built — keep
# that out of module import).
DEMOTED_ORACLES: dict = {
    "kg_qa_true_false": _kg_qa_true_false_oracle,
    "kg_qa_fib_triple": _kg_qa_fib_oracle,
    "kg_qa_atomic_triple": _kg_qa_atomic_oracle,
    "kg_qa_cot_triple": _kg_qa_cot_oracle,
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty,
               sum(l_extendedprice) AS sum_base_price,
               sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
               avg(l_quantity) AS avg_qty,
               avg(l_discount) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "top_customers": """
        SELECT c_custkey, c_name, n_name,
               sum(o_totalprice) AS total_spent,
               count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY c_custkey, c_name, n_name
        ORDER BY total_spent DESC, c_custkey ASC
        LIMIT 20
    """,
    "parts_never_ordered": """
        SELECT p_partkey, p_name FROM part
        WHERE p_partkey NOT IN
            (SELECT l_partkey FROM lineitem WHERE l_quantity >= 45)
        ORDER BY p_partkey
    """,
}
