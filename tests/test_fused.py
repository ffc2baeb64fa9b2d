"""Fusion equivalence: the one-hop fused extraction must be
bit-identical to the composed text->chunk->records operators."""

import pytest

from graphgen_spark import synth
from graphgen_spark.operators import chunk_documents, with_extracted_text
from graphgen_spark.pipelines import alias_labels, kg_pipeline, run_kg_pipeline

from tests.conftest import composed_kg


def _triples(out):
    return {
        tuple(r)
        for r in out["triples"].select("subj", "pred", "obj", "url").collect()
    }


class TestFusedEquivalence:
    def test_fused_triples_equal_composed(self, spark):
        """With a dictionary: the fused hop links map-side (records are
        already canonical), the composed operators link via JVM joins —
        the final triples must be identical."""
        pages = synth.pages_df(spark, 50, 200)
        alias = synth.alias_dictionary_df(spark, 200)
        composed = composed_kg(
            spark, pages, alias_dict=alias,
            chunk_size=256, chunk_overlap=32,
        )
        fused = run_kg_pipeline(
            spark, pages, alias_dict=alias,
            chunk_size=256, chunk_overlap=32,
        )
        assert _triples(fused) == _triples(composed)

    def test_fused_records_equal_composed_without_dict(self, spark):
        """Without a dictionary fusion is pure plan-level: the records
        table must be bit-identical."""
        pages = synth.pages_df(spark, 50, 200)
        composed = composed_kg(
            spark, pages, chunk_size=256, chunk_overlap=32,
        )
        fused = run_kg_pipeline(
            spark, pages, chunk_size=256, chunk_overlap=32,
        )
        rc = {tuple(r) for r in composed["records"].collect()}
        rf = {tuple(r) for r in fused["records"].collect()}
        assert rf == rc
        assert _triples(fused) == _triples(composed)


class TestLabelMapSizeGuard:
    def test_guard_falls_back_to_jvm_join(self, spark, monkeypatch):
        """A label table past LABEL_MAP_MAX_ROWS skips the driver
        collect and links via the JVM broadcast join in canonicalize —
        triples must be identical to the map-side-linked fused run."""
        pages = synth.pages_df(spark, 50, 200)
        labels = alias_labels(
            synth.alias_dictionary_df(spark, 200)
        ).localCheckpoint(eager=True)
        mapside = run_kg_pipeline(
            spark, pages, precomputed_labels=labels,
            chunk_size=256, chunk_overlap=32,
        )
        assert kg_pipeline._label_map_broadcast(spark, labels) is not None
        # the threshold is read on every call, also for a frame whose
        # row count is already kept
        monkeypatch.setattr(kg_pipeline, "LABEL_MAP_MAX_ROWS", 0)
        guarded = run_kg_pipeline(
            spark, pages, precomputed_labels=labels,
            chunk_size=256, chunk_overlap=32,
        )
        assert kg_pipeline._label_map_broadcast(spark, labels) is None
        assert _triples(guarded) == _triples(mapside)


class TestLabelBroadcastMemo:
    """The label count/collect/broadcast is kept per labels frame (a
    static per-release asset) so repeated batches with the same
    precomputed_labels skip ~0.2 s of per-call driver work."""

    def test_memo_reused_across_calls_identical_triples(self, spark):
        pages = synth.pages_df(spark, 40, 200)
        labels = alias_labels(
            synth.alias_dictionary_df(spark, 200)
        ).localCheckpoint(eager=True)
        out1 = run_kg_pipeline(
            spark, pages, precomputed_labels=labels,
            chunk_size=256, chunk_overlap=32,
        )
        bc = kg_pipeline._label_map_broadcast(spark, labels)
        assert bc is not None
        out2 = run_kg_pipeline(
            spark, pages, precomputed_labels=labels,
            chunk_size=256, chunk_overlap=32,
        )
        # the second call reused the broadcast (same object, not rebuilt)
        assert kg_pipeline._label_map_broadcast(spark, labels) is bc
        assert _triples(out2) == _triples(out1)


class TestFusedLazyDocsChunks:
    def test_fused_docs_chunks_built_on_demand(self, spark):
        """docs/chunks plan construction is deferred to first access;
        on access they equal the composed operators' frames."""
        pages = synth.pages_df(spark, 40, 200)
        fused = run_kg_pipeline(
            spark, pages, chunk_size=256, chunk_overlap=32,
        )
        # nothing built yet: the two stages are pending thunks
        assert isinstance(fused, kg_pipeline._LazyFrames)
        for key in ("docs", "chunks"):
            assert key in fused and not dict.__contains__(fused, key)
        docs = with_extracted_text(pages.drop("text"), out_col="text")
        cols = ["url", "text", "warc_ts"]
        df = {tuple(r) for r in fused["docs"].select(*cols).collect()}
        assert len(df) == 40
        assert df == {tuple(r) for r in docs.select(*cols).collect()}
        assert dict.__contains__(fused, "docs")
        assert not dict.__contains__(fused, "chunks")
        cf = {tuple(r) for r in fused["chunks"].collect()}
        cc = {tuple(r) for r in chunk_documents(
            docs, chunk_size=256, chunk_overlap=32).collect()}
        assert cf == cc
        # holistic access still sees every key, like a plain dict
        assert set(fused.keys()) == {
            "records", "entities", "relations", "triples",
            "nodes", "edges", "docs", "chunks",
        }

    def test_assigned_key_drops_pending_build(self):
        """Storing a deferred key before reading it keeps the stored
        value: the pending thunk is dropped, never run, and the key is
        counted once."""
        built = []
        out = kg_pipeline._LazyFrames({"triples": 0})
        out.defer(nodes=lambda: built.append("nodes") or 1)
        out["nodes"] = 2
        assert out["nodes"] == 2 and len(out) == 2 and not built
        out.defer(edges=lambda: built.append("edges") or 3)
        out.update(edges=4)
        assert dict(out.items()) == {"triples": 0, "nodes": 2, "edges": 4}
        assert not built


def test_composed_mode_raises(spark):
    """run_kg_pipeline has one extraction path; asking for the composed
    chain names the operators that build it."""
    pages = synth.pages_df(spark, 4, 50)
    with pytest.raises(ValueError, match="chunk_documents"):
        run_kg_pipeline(spark, pages, fused=False)
