"""Physical-plan property gates: the PLANS.md claims, asserted.

These lock in the properties that make the suite scale — column
pruning through Python hops, predicate pushdown into parquet, single
Python boundary on the fused path, codegen-only relational ops —
so a refactor that silently breaks one fails CI, not a bench round.
"""

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def n_nodes(plan: str, op: str) -> int:
    """Count physical NODES of a given operator ("formatted" plans
    print each node twice: tree summary + '(N) Op' detail)."""
    return len(re.findall(rf"\(\d+\) {op}\b", plan))


@pytest.fixture(scope="module")
def sf_dir():
    from tests.conftest import SF_DIR

    return SF_DIR


class TestFusedPathPlan:
    def test_single_python_hop_and_pruned_scan(self, spark):
        from graphgen_spark import synth
        from graphgen_spark.pipelines import run_kg_pipeline

        # pin the synthetic input: its own mapInPandas generator is
        # test-fixture work, not the pipeline under assertion
        pages = synth.pages_df(spark, 64, 200).localCheckpoint(
            eager=True
        )
        out = run_kg_pipeline(spark, pages,
                              chunk_size=512, chunk_overlap=64)
        # exactly ONE Python boundary on the steady path, and on the
        # chunks stage (the hop the checkpointed commit lands, not a
        # text UDF feeding the chunker)
        for key in ("triples", "chunks"):
            plan = plan_of(out[key])
            assert n_nodes(plan, "MapInPandas") == 1, key
            assert "ArrowEvalPython" not in plan, key
            assert "BatchEvalPython" not in plan, key

    def test_column_pruning_through_python_hop(self, spark, sf_dir):
        """The fused hop consumes only (url, html): the scan schema
        must not carry the wide text column."""
        from graphgen_spark.pipelines import run_kg_pipeline
        from graphgen_spark.synth import pages_from_doc_ids

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pages = pages_from_doc_ids(docs, n_entities=200)
        out = run_kg_pipeline(spark, pages,
                              chunk_size=512, chunk_overlap=64)
        plan = plan_of(out["triples"])
        assert "ReadSchema" in plan
        sch = plan.split("ReadSchema:")[-1].splitlines()[0]
        # pages synthesis needs doc_id/text/lang from documents, but
        # the unused columns (source, n_chars) must be pruned
        assert "source" not in sch and "n_chars" not in sch


class TestRelationalPlans:
    def test_filter_pushdown_reaches_scan(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        q = docs.where(F.col("n_chars") >= 1000).select("doc_id")
        p = plan_of(q)
        assert "PushedFilters" in p
        pushed = p.split("PushedFilters:")[-1].splitlines()[0]
        assert "n_chars" in pushed

    def test_curation_single_scan_no_python(self, spark, sf_dir):
        from graphgen_spark.datapipe.curate import curate_corpus

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        curated, funnel = curate_corpus(docs, min_tokens=10,
                                        sample_k=5)
        for df in (curated, funnel):
            p = plan_of(df)
            assert "Scan parquet" in p
            assert "MapInPandas" not in p
            assert "ArrowEvalPython" not in p
        assert n_nodes(plan_of(curated), "Scan parquet") == 1

    def test_sampling_no_python(self, spark, sf_dir):
        from graphgen_spark.datapipe.sampling import (
            per_host_cap,
            stratified_take,
            token_budget_take,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        for df in (
            stratified_take(docs, k=5),
            token_budget_take(docs, budget_tokens=100),
            per_host_cap(
                docs.select(
                    F.concat(F.lit("https://h/"), "doc_id").alias("url")
                ),
                k=2,
            ),
        ):
            p = plan_of(df)
            assert "MapInPandas" not in p
            assert "ArrowEvalPython" not in p

    def test_no_cartesian_in_dedup_pairs(self, spark, sf_dir):
        from graphgen_spark.datapipe.dedup import (
            minhash_verified_pairs,
            simhash_dup_pairs,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        for df in (
            minhash_verified_pairs(docs, num_perm=16, bands=4),
            simhash_dup_pairs(docs),
        ):
            p = plan_of(df)
            assert "CartesianProduct" not in p
            assert "BroadcastNestedLoopJoin" not in p

    def test_df_cap_filter_is_equi_anti_join(self, spark, sf_dir):
        """The stop-shingle filter must stay an equi anti-join on the
        shingle key (AQE broadcasts the tiny hot set at runtime) —
        never a cartesian/BNLJ, and no Python hop."""
        from graphgen_spark.datapipe.dedup import ngram_jaccard_pairs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        df = ngram_jaccard_pairs(docs, threshold=0.05, df_cap=4)
        p = plan_of(df)
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
        # r7: gram construction moved from the interpreted SQL
        # higher-order chain into the vectorized Python kernel
        # (_gram_sets_df, ~100x per doc) — the gram MapInPandas hop
        # (shared via the persisted postings table) is the ONLY Python
        # in the plan; no row-at-a-time UDF nodes, and the join/
        # anti-join machinery stays JVM-side
        assert "BatchEvalPython" not in p
        assert "ArrowEvalPython" not in p
        assert "LeftAnti" in p

    def test_bucket_cap_filter_is_equi_anti_join(self, spark, sf_dir):
        """The LSH hot-bucket filter (r5) must have the same shape as
        df_cap: an equi anti-join on (band, bucket), no cartesian, and
        the only Python in the plan is the MinHash signature UDF."""
        from graphgen_spark.datapipe.dedup import minhash_verified_pairs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        df = minhash_verified_pairs(
            docs, num_perm=16, bands=4, bucket_cap=50
        )
        p = plan_of(df)
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
        assert "LeftAnti" in p


class TestMinHashHop:
    """The MinHash pair stage runs ONE Python hop per doc (signature and
    gram set together), widened across the session's cores only when
    its input is narrower than that, and caches three intermediates
    per dedup call."""

    def test_verified_pairs_single_python_hop(self, spark, sf_dir):
        from graphgen_spark.datapipe.dedup import minhash_verified_pairs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        p = plan_of(minhash_verified_pairs(docs, num_perm=16, bands=4))
        assert n_nodes(p, "MapInPandas") == 1
        assert "ArrowEvalPython" not in p
        assert "BatchEvalPython" not in p

    def test_narrow_input_widened(self, spark, sf_dir):
        from graphgen_spark.datapipe.dedup import minhash_signatures

        par = spark.sparkContext.defaultParallelism
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        assert docs.rdd.getNumPartitions() == 1 < par
        sigs = minhash_signatures(docs)
        p = plan_of(sigs)
        assert re.search(r"hashpartitioning\(xxhash64\(doc_id", p)
        assert sigs.rdd.getNumPartitions() == par

    def test_wide_input_not_shuffled(self, spark):
        from graphgen_spark.datapipe.dedup import minhash_signatures

        par = spark.sparkContext.defaultParallelism
        docs = spark.createDataFrame(
            [(i, f"doc {i} body text") for i in range(4 * par)],
            ["doc_id", "text"],
        )
        assert docs.rdd.getNumPartitions() == par
        p = plan_of(minhash_signatures(docs))
        assert n_nodes(p, "MapInPandas") == 1
        assert "Exchange" not in p

    def test_dedup_call_caches_three_and_releases(self, spark, sf_dir):
        from graphgen_spark.datapipe import dedup

        dedup.release_dedup_caches()
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        dedup.minhash_lsh_dedup(docs, num_perm=16, bands=4).collect()
        # the hop output, the banded table, the verified pairs
        assert len(dedup._CACHE_HANDLES) == 3
        # every doc's gram set is cached on disk, not in the heap
        assert dedup._CACHE_HANDLES[0].storageLevel == StorageLevel.DISK_ONLY
        assert dedup.release_dedup_caches(blocking=True) == 3
        assert dedup._CACHE_HANDLES == []


class TestSimHashKernel:
    def test_bucket_exchange_sized_by_aqe(self, spark, sf_dir):
        """The SimHash bucket kernel's one exchange is a column
        repartition on (band, key) with no fixed partition count, so
        AQE sizes and coalesces it; hash partitioning keeps each bucket
        in one partition.  No band self-join remains."""
        from graphgen_spark.datapipe.dedup import simhash_dup_pairs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        p = plan_of(simhash_dup_pairs(docs))
        assert re.search(
            r"hashpartitioning\(band#\d+, key#\d+L?, \d+\), "
            r"REPARTITION_BY_COL", p
        )
        assert "REPARTITION_BY_NUM" not in p
        assert "Join" not in p
        # the signature hop and the bucket kernel
        assert n_nodes(p, "MapInPandas") == 2


class TestCoveragePlan:
    """``stats.coverage_by_url`` counts distinct values without a
    distinct aggregate: no Expand, whose second aggregate Spark
    generated anew from call to call."""

    ROWS = [
        ("u1", "a", "p", "b", "c1"),
        ("u1", "a", "p", "b", "c1"),
        ("u1", "a", None, None, "c2"),
        ("u1", "b", "q", "a", None),
        ("u2", "x", None, None, "c3"),
        ("u3", None, None, None, None),
    ]

    def _triples(self, spark):
        return spark.createDataFrame(
            self.ROWS, "url string, subj string, pred string, "
            "obj string, chunk_id string",
        )

    def test_no_expand(self, spark):
        from graphgen_spark.operators.stats import coverage_by_url

        cov = coverage_by_url(self._triples(spark))
        optimized = cov._jdf.queryExecution().optimizedPlan().toString()
        assert "Expand" not in optimized

    def test_null_counts_match_python(self, spark):
        from graphgen_spark.operators.stats import coverage_by_url

        cov = coverage_by_url(self._triples(spark))
        assert {f.name: f.dataType.simpleString()
                for f in cov.schema.fields} == {
            "url": "string", "n_triples": "bigint", "n_subjects": "bigint",
            "n_objects": "bigint", "n_predicates": "bigint",
            "n_chunks": "bigint",
        }
        want = {}
        for url in {r[0] for r in self.ROWS}:
            rows = [r for r in self.ROWS if r[0] == url]
            want[url] = (len(rows),) + tuple(
                len({r[i] for r in rows} - {None}) for i in (1, 3, 2, 4)
            )
        got = {r["url"]: (r["n_triples"], r["n_subjects"], r["n_objects"],
                          r["n_predicates"], r["n_chunks"])
               for r in cov.collect()}
        assert got == want
        assert got["u3"] == (1, 0, 0, 0, 0)


class TestWidenNarrow:
    """``session.widen_narrow``: the one rule both Python-hop entry
    points (``run_kg_pipeline`` pages, the MinHash hop's docs) use to
    spread a narrow input over the session's cores."""

    def test_narrow_widened_wide_left(self, spark):
        from graphgen_spark.session import widen_narrow

        par = spark.sparkContext.defaultParallelism
        df = spark.range(4 * par).withColumnRenamed("id", "k")
        assert df.rdd.getNumPartitions() == par
        assert widen_narrow(df, F.col("k")) is df
        narrow = df.coalesce(1)
        wide = widen_narrow(narrow, F.xxhash64("k"))
        assert wide.rdd.getNumPartitions() == par
        assert re.search(r"hashpartitioning\(xxhash64\(k", plan_of(wide))

    def test_shuffled_input_not_probed(self, spark, sf_dir):
        """Counting the partitions of an input whose plan holds an
        exchange would run that exchange as a job of its own: such an
        input is returned as it is, and no job runs."""
        from graphgen_spark.session import widen_narrow

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        shuffled = docs.groupBy("doc_id").agg(F.first("text").alias("text"))
        tracker = spark.sparkContext.statusTracker()
        before = set(tracker.getJobIdsForGroup())
        assert widen_narrow(shuffled, F.xxhash64("doc_id")) is shuffled
        assert set(tracker.getJobIdsForGroup()) == before
