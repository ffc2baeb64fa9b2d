"""Resume-from-checkpoint correctness (BASELINE.md gate): a mid-run
kill (simulated by running on a prefix of the corpus first) must top up
to EXACTLY the same final tables, with zero duplicate trace ids."""

import shutil

import pytest
from pyspark.sql import functions as F

from graphgen_spark import synth
from graphgen_spark.operators.checkpointing import read_metrics
from graphgen_spark.operators.stats import coverage_by_url
from graphgen_spark.pipelines import materialize
from graphgen_spark.pipelines.materialize import run_checkpointed

N_PAGES = 40
N_ENT = synth.n_entities_for(N_PAGES)


def _triple_set(out):
    return {
        tuple(r)
        for r in out["triples"].select("subj", "pred", "obj", "url").collect()
    }


@pytest.fixture()
def ckpt_dir(tmp_path):
    d = str(tmp_path / "ckpt")
    yield d
    shutil.rmtree(d, ignore_errors=True)


class TestResume:
    def test_partial_then_full_equals_oneshot(self, spark, ckpt_dir, tmp_path):
        alias = synth.alias_dictionary_df(spark, N_ENT)
        pages_all = synth.pages_df(spark, N_PAGES, N_ENT)
        pages_half = pages_all.limit(N_PAGES // 2)

        # simulated kill: only half the corpus was processed
        run_checkpointed(spark, pages_half, ckpt_dir, alias_dict=alias,
                         chunk_size=256, chunk_overlap=32)
        # resume with the full corpus
        resumed = run_checkpointed(spark, pages_all, ckpt_dir,
                                   alias_dict=alias,
                                   chunk_size=256, chunk_overlap=32)

        # oneshot reference run in a fresh directory
        oneshot_dir = str(tmp_path / "oneshot")
        oneshot = run_checkpointed(spark, pages_all, oneshot_dir,
                                   alias_dict=alias,
                                   chunk_size=256, chunk_overlap=32)

        assert _triple_set(resumed) == _triple_set(oneshot)

        # zero duplicate trace ids in any stage table
        for stage, keys in [
            ("docs", ["url"]),
            ("chunks", ["chunk_id", "url"]),
        ]:
            df = resumed[stage]
            assert df.count() == df.select(*keys).distinct().count(), stage

        # doc->chunk lineage covers the chunks of BOTH runs: the resumed
        # run's lineage reads its persisted new chunks before the chunk
        # manifest write re-caches them
        doc_to_chunk = spark.read.parquet(
            f"{ckpt_dir}/lineage/op=doc_to_chunk"
        )
        assert {r[0] for r in doc_to_chunk.select("dst_id").collect()} == {
            r[0] for r in resumed["chunks"].select("chunk_id").collect()
        }

    def test_rerun_is_noop(self, spark, ckpt_dir):
        alias = synth.alias_dictionary_df(spark, N_ENT)
        pages = synth.pages_df(spark, N_PAGES, N_ENT)
        first = run_checkpointed(spark, pages, ckpt_dir, alias_dict=alias,
                                 chunk_size=256, chunk_overlap=32)
        # materialize results BEFORE the rerun: overwrite of the final
        # tables invalidates earlier lazy readers (parquet semantics;
        # Iceberg snapshots would version this on a real cluster)
        n1 = first["records"].count()
        t1 = _triple_set(first)
        again = run_checkpointed(spark, pages, ckpt_dir, alias_dict=alias,
                                 chunk_size=256, chunk_overlap=32)
        assert again["records"].count() == n1
        assert _triple_set(again) == t1

    def test_lineage_and_metrics_written(self, spark, ckpt_dir):
        alias = synth.alias_dictionary_df(spark, N_ENT)
        pages = synth.pages_df(spark, N_PAGES, N_ENT)
        out = run_checkpointed(spark, pages, ckpt_dir, alias_dict=alias,
                               chunk_size=256, chunk_overlap=32)
        lineage = spark.read.option("recursiveFileLookup", "true").parquet(
            f"{ckpt_dir}/lineage"
        )
        assert lineage.where(F.col("src_id").startswith("doc-")).count() > 0
        metrics = read_metrics(spark, ckpt_dir)
        assert metrics.count() > 0
        assert metrics.agg(F.sum("n_rows")).collect()[0][0] > 0
        # doc->chunk lineage covers every chunk
        n_chunks = out["chunks"].select("chunk_id").distinct().count()
        n_lineage_chunks = (
            lineage.where(F.col("src_id").startswith("doc-"))
            .select("dst_id").distinct().count()
        )
        assert n_lineage_chunks == n_chunks


class TestLineageIdempotence:
    def test_chunk_to_triple_lineage_no_dup_on_rerun(
        self, spark, tmp_path
    ):
        alias = synth.alias_dictionary_df(spark, N_ENT)
        pages = synth.pages_df(spark, N_PAGES, N_ENT)
        root = str(tmp_path / "ckpt_lineage")
        run_checkpointed(spark, pages, root, alias_dict=alias,
                         chunk_size=256, chunk_overlap=32)
        lin = spark.read.parquet(f"{root}/lineage")
        n1 = lin.where(F.col("op") == "chunk_to_triple").count()
        d1 = (lin.where(F.col("op") == "chunk_to_triple")
              .distinct().count())
        assert n1 == d1  # no dups within one run
        run_checkpointed(spark, pages, root, alias_dict=alias,
                         chunk_size=256, chunk_overlap=32)
        lin2 = spark.read.parquet(f"{root}/lineage")
        assert lin2.where(F.col("op") == "chunk_to_triple").count() == n1


def _wait_for_listeners(sc):
    """The status tracker is fed by the listener bus; drain it so the
    jobs it reports are the jobs that ran."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def _cached_rdds(sc):
    return {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}


class TestCommitWriteDag:
    """run_checkpointed runs its off-path writes on a thread pool; it
    must still surface their failures, leave nothing running or cached,
    and keep every job in the caller's job group."""

    def test_failed_off_path_write_raises_and_drains(
        self, spark, tmp_path, monkeypatch
    ):
        sc = spark.sparkContext
        pages = synth.pages_df(spark, N_PAGES, N_ENT)
        kw = {"chunk_size": 256, "chunk_overlap": 32}

        @F.udf("long")
        def fail_write(n):
            raise ValueError("coverage write failed")

        def failing_coverage(triples):
            return coverage_by_url(triples).withColumn(
                "n_triples", fail_write("n_triples")
            )

        root = str(tmp_path / "ckpt")
        cached = _cached_rdds(sc)
        monkeypatch.setattr(materialize, "coverage_by_url", failing_coverage)
        sc.setJobGroup("ckpt-fail", "checkpointed commit, failing write")
        try:
            with pytest.raises(Exception, match="coverage write failed"):
                run_checkpointed(spark, pages, root, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        _wait_for_listeners(sc)
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup("ckpt-fail")
        assert jobs
        assert not set(jobs) & set(st.getActiveJobsIds())
        # nothing this call cached is left (earlier tests' cached RDDs
        # may be cleaned up meanwhile, so compare as a subset)
        assert _cached_rdds(sc) <= cached

        monkeypatch.undo()
        resumed = run_checkpointed(spark, pages, root, **kw)
        oneshot = run_checkpointed(
            spark, pages, str(tmp_path / "oneshot"), **kw
        )
        assert _triple_set(resumed) == _triple_set(oneshot)

    def test_jobs_stay_in_callers_group(self, spark, tmp_path):
        sc = spark.sparkContext
        st = sc.statusTracker()
        alias = synth.alias_dictionary_df(spark, N_ENT)
        pages = synth.pages_df(spark, N_PAGES, N_ENT)
        _wait_for_listeners(sc)
        ungrouped = set(st.getJobIdsForGroup(None))
        sc.setJobGroup("ckpt", "checkpointed commit")
        try:
            run_checkpointed(spark, pages, str(tmp_path / "ckpt"),
                             alias_dict=alias,
                             chunk_size=256, chunk_overlap=32)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        _wait_for_listeners(sc)
        assert st.getJobIdsForGroup("ckpt")
        assert set(st.getJobIdsForGroup(None)) <= ungrouped
