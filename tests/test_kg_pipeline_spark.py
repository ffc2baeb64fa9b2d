"""End-to-end Spark tests for the KG construction spine on the
deterministic synthetic pages corpus."""

import pytest
from pyspark.sql import functions as F

from graphgen_spark import synth

from tests.conftest import SF_DIR
from graphgen_spark.operators import (
    chunk_documents,
    connected_components,
    entities_from_records,
    extract_records,
    merge_edges,
    merge_nodes,
    relations_from_records,
    with_extracted_text,
)

N_PAGES = 60
N_ENT = synth.n_entities_for(N_PAGES)


@pytest.fixture(scope="module")
def pages(spark):
    return synth.pages_df(spark, N_PAGES, N_ENT).cache()


@pytest.fixture(scope="module")
def records(spark, pages):
    chunks = chunk_documents(pages, chunk_size=256, chunk_overlap=32)
    return extract_records(chunks).cache()


class TestSynthAndExtractText:
    def test_page_count_and_schema(self, pages):
        assert pages.count() == N_PAGES
        assert set(pages.columns) == {"url", "warc_ts", "html", "text", "lang"}

    def test_byte_identical_text_extraction(self, pages):
        """BASELINE.json invariant: extract_text(html) == text, per url."""
        extracted = with_extracted_text(pages)
        mismatches = extracted.where(
            F.col("extracted_text") != F.col("text")
        ).count()
        assert mismatches == 0

    def test_determinism_across_partitionings(self, spark, pages):
        again = synth.pages_df(spark, N_PAGES, N_ENT).repartition(13)
        a = {r["url"]: r["text"] for r in pages.collect()}
        b = {r["url"]: r["text"] for r in again.collect()}
        assert a == b


class TestChunking:
    def test_chunk_materializer_parity(self, spark, tmp_path):
        """The kg_ece_check oracle's foundation: the plain-pyarrow
        chunk materializer (synth.materialize_chunks_parquet) must
        emit the EXACT chunk multiset the Spark chunker produces for
        the same corpus — same split kernels, same md5 ids."""
        import pandas as pd

        out = str(tmp_path / "chunks.parquet")
        synth.materialize_chunks_parquet(
            SF_DIR, out, n_entities=2000,
            chunk_size=512, chunk_overlap=64,
        )
        mat = pd.read_parquet(out)

        import __spark_entry__ as entrymod

        pages_df = entrymod._pages_for(spark, SF_DIR)
        spark_chunks = chunk_documents(
            pages_df, chunk_size=512, chunk_overlap=64
        ).select("chunk_id", "url", "content").toPandas()

        key = lambda df: sorted(  # noqa: E731
            map(tuple, df[["chunk_id", "url", "content"]].values)
        )
        assert len(mat) == len(spark_chunks) > 0
        assert key(mat) == key(spark_chunks)

    def test_chunks_cover_docs(self, spark, pages):
        chunks = chunk_documents(pages, chunk_size=256, chunk_overlap=32)
        urls_in = {r["url"] for r in pages.select("url").collect()}
        urls_out = {r["url"] for r in chunks.select("url").distinct().collect()}
        assert urls_in == urls_out

    def test_token_budget(self, spark, pages):
        chunks = chunk_documents(pages, chunk_size=128, chunk_overlap=16)
        over = chunks.where(F.col("n_tokens") > 128 + 16).count()
        assert over == 0


class TestExtractionPipeline:
    def test_records_shape(self, records):
        kinds = {r["kind"] for r in records.select("kind").distinct().collect()}
        assert kinds == {"entity", "relationship"}

    def test_entities_uppercased(self, records):
        ents = entities_from_records(records)
        bad = ents.where(F.col("entity_name") != F.upper("entity_name")).count()
        assert bad == 0

    def test_relations_endpoint_sorted(self, records):
        rels = relations_from_records(records)
        bad = rels.where(F.col("src_id") > F.col("tgt_id")).count()
        assert bad == 0


class TestMerge:
    def test_merge_nodes_unique_and_sep_join(self, records):
        ents = entities_from_records(records)
        nodes = merge_nodes(ents)
        n = nodes.count()
        assert n == nodes.select("entity_name").distinct().count()
        assert n > 0
        multi = nodes.where(F.size("source_ids") > 1).count()
        assert multi > 0  # hot entities appear in many chunks

    def test_merge_edges_endpoints_exist(self, records):
        ents = entities_from_records(records)
        nodes = merge_nodes(ents)
        rels = relations_from_records(records)
        edges = merge_edges(rels, nodes)
        names = {r["entity_name"] for r in nodes.select("entity_name").collect()}
        for row in edges.select("src_id", "tgt_id").collect():
            assert row["src_id"] in names and row["tgt_id"] in names

    def test_dropped_edge_without_endpoint(self, spark):
        ents = spark.createDataFrame(
            [("A", "person", "d1", "c1"), ("B", "person", "d2", "c1")],
            ["entity_name", "entity_type", "description", "source_id"],
        )
        rels = spark.createDataFrame(
            [("A", "B", "ok", "c1"), ("A", "GHOST", "drop me", "c1")],
            ["src_id", "tgt_id", "description", "source_id"],
        )
        nodes = merge_nodes(ents)
        edges = merge_edges(rels, nodes)
        rows = edges.collect()
        assert len(rows) == 1
        assert rows[0]["src_id"] == "A" and rows[0]["tgt_id"] == "B"

    def test_majority_type_tiebreak(self, spark):
        ents = spark.createDataFrame(
            [
                ("X", "person", "d1", "c1"),
                ("X", "person", "d2", "c2"),
                ("X", "org", "d3", "c3"),
                ("Y", "b_type", "d4", "c4"),
                ("Y", "a_type", "d5", "c5"),
            ],
            ["entity_name", "entity_type", "description", "source_id"],
        )
        nodes = {r["entity_name"]: r for r in merge_nodes(ents).collect()}
        assert nodes["X"]["entity_type"] == "person"  # majority
        assert nodes["Y"]["entity_type"] == "a_type"  # tie -> asc name


class TestLinking:
    def test_linked_mentions_resolve(self, spark, records):
        from graphgen_spark.pipelines import alias_labels, canonicalize

        ents = entities_from_records(records)
        labels = alias_labels(synth.alias_dictionary_df(spark, N_ENT))
        linked, _ = canonicalize(
            ents, relations_from_records(records), labels
        )
        names = {r[0] for r in linked.select("entity_name").collect()}
        keys = {r[0] for r in labels.select("canonical_key").collect()}
        # every synthetic mention surface form is in the dictionary, so
        # every canonicalized name is a label's canonical key
        assert names and names <= keys
        # multiple aliases of a hot entity collapse to one canonical name
        raw = ents.select("entity_name").distinct().count()
        assert len(names) < raw


class TestConnectedComponents:
    def _cc_pure_python(self, edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for s, d in edges:
            union(s, d)
        return {x: find(x) for x in parent}

    def _check(self, spark, edge_list):
        df = spark.createDataFrame(edge_list, ["src_id", "tgt_id"])
        got = {
            r["name"]: r["component_name"]
            for r in connected_components(df).collect()
        }
        want_raw = self._cc_pure_python(edge_list)
        # canonicalize: same partition of vertex set
        from collections import defaultdict

        def groups(labels):
            g = defaultdict(set)
            for k, v in labels.items():
                g[v].add(k)
            return {frozenset(v) for v in g.values()}

        assert groups(got) == groups(want_raw)

    def test_chain(self, spark):
        edges = [(f"n{i}", f"n{i+1}") for i in range(40)]
        self._check(spark, edges)

    def test_star_and_islands(self, spark):
        edges = [("hub", f"leaf{i}") for i in range(20)]
        edges += [("a1", "a2"), ("b1", "b2"), ("b2", "b3")]
        self._check(spark, edges)

    def test_two_cliques_bridged(self, spark):
        edges = [(f"c1_{i}", f"c1_{j}") for i in range(5) for j in range(i)]
        edges += [(f"c2_{i}", f"c2_{j}") for i in range(5) for j in range(i)]
        edges += [("c1_0", "c2_0")]
        self._check(spark, edges)

    def test_representative_is_min_name(self, spark):
        df = spark.createDataFrame(
            [("b", "c"), ("a", "b")], ["src_id", "tgt_id"]
        )
        rows = connected_components(df).collect()
        assert all(r["component_name"] == "a" for r in rows)


class TestMergeCapParity:
    """The capped merge must equal the reference order of operations —
    join ALL sorted distinct descriptions, then truncate at the
    summary gate — at and past the cap boundary."""

    def _expected(self, descs):
        from graphgen_spark.operators.merge import (
            MAX_SUMMARY_TOKENS,
            SEP,
        )
        from graphgen_spark.textkit import count_tokens, truncate_tokens

        joined = SEP.join(sorted(set(descs)))
        if count_tokens(joined) < MAX_SUMMARY_TOKENS:
            return joined
        return truncate_tokens(joined, MAX_SUMMARY_TOKENS)

    def _run(self, spark, descs):
        from graphgen_spark.operators.merge import merge_nodes

        rows = [("HOT ENTITY", "ORG", d, f"chunk-{i}")
                for i, d in enumerate(descs)]
        ents = spark.createDataFrame(
            rows, ["entity_name", "entity_type", "description",
                   "source_id"],
        ).repartition(8)  # exercise the salted two-phase path
        out = merge_nodes(ents).collect()
        assert len(out) == 1
        return out[0]["description"]

    def test_past_cap_many_multiword_descriptions(self, spark):
        descs = [f"fact number {i:04d} about the entity" for i in
                 range(300)]  # > MAX_MERGED_VALUES distinct values
        assert self._run(spark, descs) == self._expected(descs)

    def test_pathological_single_char_descriptions(self, spark):
        # single-token descriptions: <SEP> junctions still add tokens,
        # so the K smallest cover the truncation prefix
        descs = [chr(33 + (i % 90)) + str(i) for i in range(300)]
        assert self._run(spark, descs) == self._expected(descs)

    def test_under_cap_unchanged(self, spark):
        descs = [f"short fact {i}" for i in range(5)]
        assert self._run(spark, descs) == self._expected(descs)


class TestNativeSummaryGate:
    """The native-expression summary gate (merge._gated_description)
    must match the Python kernel (count_tokens/truncate_tokens)
    byte-for-byte, including unicode whitespace and the exact cap
    boundary."""

    def test_parity_vs_python_kernel(self, spark):
        from pyspark.sql import functions as F

        from graphgen_spark.operators.merge import (
            MAX_SUMMARY_TOKENS,
            _gated_description,
        )
        from graphgen_spark.textkit import count_tokens, truncate_tokens

        cases = [
            "",
            "short desc",
            " ".join(f"tok{i}" for i in range(MAX_SUMMARY_TOKENS - 1)),
            " ".join(f"tok{i}" for i in range(MAX_SUMMARY_TOKENS)),
            " ".join(f"tok{i}" for i in range(MAX_SUMMARY_TOKENS + 1)),
            "!" * 300,
            "一二三四五" * 100,
            ("word " * 50 + "一" * 50 + "!?. " * 40) * 3,
            "a\u00a0b " * 150,  # nbsp: (?U) \\s parity
            "tab\tsep\nline " * 120,
            "under_score_9 " * 250,
            "x<SEP>y " * 120,
        ]
        df = spark.createDataFrame([(c,) for c in cases], "d string")
        desc, length = _gated_description(F.col("d"))
        rows = df.select(
            "d", desc.alias("desc"), length.alias("len")
        ).collect()
        for r in rows:
            want_n = count_tokens(r["d"])
            want = (
                r["d"] if want_n < MAX_SUMMARY_TOKENS
                else truncate_tokens(r["d"], MAX_SUMMARY_TOKENS)
            )
            assert r["desc"] == want, repr(r["d"][:50])
            assert r["len"] == min(want_n, MAX_SUMMARY_TOKENS)

    def test_no_python_node_in_merge_plan(self, spark):
        import io
        from contextlib import redirect_stdout

        from graphgen_spark.operators.merge import merge_nodes

        ents = spark.createDataFrame(
            [("E", "ORG", "d", "c1")],
            ["entity_name", "entity_type", "description", "source_id"],
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            merge_nodes(ents).explain("formatted")
        plan = buf.getvalue()
        assert "ArrowEvalPython" not in plan
        assert "MapInPandas" not in plan


class TestCCHybridPaths:
    """The size-gated driver union-find must produce IDENTICAL labels
    to the distributed large-star/small-star fixpoint."""

    @staticmethod
    def _record_collects(monkeypatch, df):
        """Row counts of every DataFrame.collect() from here on."""
        cls = type(df)
        orig = cls.collect
        sizes = []

        def collect(self):
            rows = orig(self)
            sizes.append(len(rows))
            return rows

        monkeypatch.setattr(cls, "collect", collect)
        return sizes

    def test_paths_agree_on_random_graph(self, spark, monkeypatch):
        import random

        import graphgen_spark.operators.components as C

        rng = random.Random(7)
        edges = [
            (f"n{rng.randrange(300)}", f"n{rng.randrange(300)}")
            for _ in range(400)
        ] + [("iso_a", "iso_b")]
        df = spark.createDataFrame(edges, ["src_id", "tgt_id"])
        # full-row parity including the NUMERIC label: both paths emit
        # component = xxhash64(component_name), one shared id space
        local = {
            (r["name"], r["component"], r["component_name"])
            for r in C.connected_components(df).collect()
        }
        monkeypatch.setattr(C, "DRIVER_CC_MAX_EDGES", 0)
        distributed = {
            (r["name"], r["component"], r["component_name"])
            for r in C.connected_components(df).collect()
        }
        assert local == distributed and len(local) > 0

    def test_long_paths_agree(self, spark, monkeypatch):
        """The long entry point's driver path (no vertex-set join) and
        its forced fixpoint return the same (id, component) rows over
        duplicate edges, both orientations, a self-loop-only vertex
        and an isolated pair."""
        import graphgen_spark.operators.components as C

        edges = [
            (1, 2), (2, 1), (1, 2),  # duplicates, both orientations
            (3, 2), (5, 4), (4, 3),  # chain 1-2-3-4-5
            (7, 7),  # self-loop-only vertex
            (900, 800),  # isolated pair, larger id first
            (-6, 5),  # negative ids join the chain
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        local = {tuple(r) for r in C.connected_components_long(df).collect()}
        monkeypatch.setattr(C, "DRIVER_CC_MAX_EDGES", 0)
        distributed = {
            tuple(r) for r in C.connected_components_long(df).collect()
        }
        assert local == distributed
        assert local == {
            (i, -6) for i in (-6, 1, 2, 3, 4, 5)
        } | {(7, 7), (800, 800), (900, 800)}

    def test_stats_gate_matches_count_gate(self, spark, monkeypatch):
        """r7: a materialized tiny input lets the fast path skip the
        gate count() (collect-first, row gate enforced on len) — the
        labels must be identical to the count-gated path, and a
        stats-small input whose ROWS exceed the gate must still fall
        through to the distributed fixpoint with identical labels,
        bringing the edge rows to the driver at most once."""
        import graphgen_spark.operators.components as C

        # NOTE: built via a Catalyst plan, not createDataFrame — an
        # RDD-backed local relation reports defaultSizeInBytes after
        # checkpoint (unknown stats, gate correctly stays off); a
        # plan-derived checkpoint propagates its estimate, which is
        # the shape every real caller (dict-prep, dedup CC) has.
        df = (
            spark.range(60)
            .select(
                F.concat(
                    F.lit("a"), F.col("id").cast("string")
                ).alias("src_id"),
                F.concat(
                    F.lit("a"), (F.col("id") % 7).cast("string")
                ).alias("tgt_id"),
            )
            .localCheckpoint(eager=True)
        )
        # the checkpointed 60-row frame must be provably small
        assert C._stats_prove_small(df)
        via_stats = {
            tuple(r)
            for r in C.connected_components(
                df, assume_materialized=True
            ).collect()
        }
        monkeypatch.setattr(
            C, "_stats_prove_small", lambda d, bound=0: False
        )
        via_count = {
            tuple(r)
            for r in C.connected_components(
                df, assume_materialized=True
            ).collect()
        }
        monkeypatch.undo()
        assert via_stats == via_count and len(via_stats) > 0
        # stats fire but rows exceed the gate: distributed fall-through
        monkeypatch.setattr(C, "DRIVER_CC_MAX_EDGES", 5)
        sizes = self._record_collects(monkeypatch, df)
        out = C.connected_components(df, assume_materialized=True)
        # the fixpoint's convergence signatures are 1-row collects;
        # any longer collect carried edge rows to the driver
        edge_collects = [n for n in sizes if n > 1]
        assert len(edge_collects) <= 1 and sum(edge_collects) <= 6
        assert {tuple(r) for r in out.collect()} == via_stats

    def test_stats_small_misestimate_collect_is_bounded(
        self, spark, monkeypatch
    ):
        """A checkpointed explode misestimates tiny (Catalyst reports a
        few bytes for thousands of rows), so the size statistic admits
        it.  The stats path must still bring at most gate + 1 rows to
        the driver and return the count-gated path's labels."""
        import graphgen_spark.operators.components as C

        # four stars: hub i*1000 -> i*1000 + 1..500 (2000 rows)
        df = (
            spark.range(4)
            .select(
                (F.col("id") * 1000).alias("src"),
                F.explode(
                    F.sequence(
                        F.col("id") * 1000 + 1, F.col("id") * 1000 + 500
                    )
                ).alias("dst"),
            )
            .localCheckpoint(eager=True)
        )
        assert C._stats_prove_small(df)
        gate = 1000
        monkeypatch.setattr(C, "DRIVER_CC_MAX_EDGES", gate)
        sizes = self._record_collects(monkeypatch, df)
        via_stats = C.connected_components_long(
            df, assume_materialized=True
        )
        assert sizes and max(sizes) <= gate + 1
        monkeypatch.setattr(
            C, "_stats_prove_small", lambda d, bound=0: False
        )
        via_count = C.connected_components_long(
            df, assume_materialized=True
        )
        got = {tuple(r) for r in via_stats.collect()}
        assert got == {tuple(r) for r in via_count.collect()}
        assert {c for _, c in got} == {0, 1000, 2000, 3000}
        assert len(got) == 2004
