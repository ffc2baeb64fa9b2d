"""The benchmark workloads.

A workload lands seeded inputs as parquet (``land``), then ``run.py``
drives it in a closed loop — one client, one Spark job at a time:
``prepare`` (one-off steps before the first pass), ``run_pass`` until
the run's seconds are spent, ``finish`` (one-off steps after the last
pass).  A traced run interleaves an untraced and a traced *part* pass
by pass, each with its own outputs.  ``keep`` collects what the output
checks need, outside every timed step, and ``check`` returns
(name, ok, detail) triples.  Spans named ``*.sink.*`` materialize one
output each.
"""

from __future__ import annotations

import os
import statistics

import pyarrow.dataset as pads
import pyarrow.parquet as pq

import inputs
import oracle

CHUNK = {"chunk_size": 512, "chunk_overlap": 64}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _fingerprint(df) -> tuple:
    """Order-insensitive (rows, xor of row hashes) of a DataFrame."""
    from pyspark.sql import functions as F

    row = df.select(F.xxhash64(*df.columns).alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(h)"), F.lit(0)).alias("x"),
    ).collect()[0]
    return int(row["n"]), int(row["x"])


def _counts_equal(name, got, want) -> tuple:
    if got == want:
        return name, True, f"{sum(got.values())} rows"
    missing, extra = want - got, got - want
    return name, False, (
        f"{sum(missing.values())} missing, {sum(extra.values())} unexpected;"
        f" e.g. {next(iter(missing or extra))}")


def _table_rows(root: str) -> dict:
    """Row count of every table under a checkpoint root (not _metrics)."""
    out = {}
    for name in sorted(os.listdir(root)):
        path = os.path.join(root, name)
        if name.startswith("_") or not os.path.isdir(path):
            continue
        out[name] = pads.dataset(path, format="parquet",
                                 partitioning="hive").count_rows()
    return out


class KgBuild:
    """Crawl batches arrive one after another.  Each batch is committed
    durably with ``run_checkpointed`` (composed text -> chunking ->
    kg_extract, JVM canonicalize, anti-join resume) and built in memory
    with ``run_kg_pipeline(fused=True)`` (one Python hop, linking inside
    the UDF), whose triples, nodes, edges and coverage each go to a noop
    sink.  A label table is built once from the release dictionary
    before the first batch; a committed batch is re-delivered after the
    last one."""

    name = "kg_build"
    pass_name = "kg_build.pass"
    warm_up_passes = 1
    min_passes = 1
    max_passes = 6
    per_pass = 100  # pages per batch
    vocab_entities = 2000
    dict_entities = 4000

    def land(self, work: str, seed: int) -> None:
        self.work = work
        rows = inputs.pages(
            inputs.page_ids(seed, self.per_pass * self.max_passes),
            self.vocab_entities)
        self.batches = [rows[i:i + self.per_pass]
                        for i in range(0, len(rows), self.per_pass)]
        self.batch_paths = [os.path.join(work, f"batch{i}.parquet")
                            for i in range(len(self.batches))]
        for path, batch in zip(self.batch_paths, self.batches):
            inputs.write_pages(path, batch)
        self.dictionary = inputs.alias_dictionary(self.dict_entities)
        self.dict_path = os.path.join(work, "dict.parquet")
        inputs.write_dictionary(self.dict_path, self.dictionary)
        # one of the batches every run commits
        self.redeliver = seed % (self.warm_up_passes + self.min_passes)
        self.inputs = {"batch_pages": self.per_pass,
                       "dict_entities": self.dict_entities,
                       "alias_edges": len(self.dictionary)}
        self.adaptive = {
            "cc": "driver (alias edges below DRIVER_CC_MAX_EDGES)",
            "linking": "in-UDF (build), JVM canonicalize (commit)",
            "extraction": "fused (build), composed (commit)",
        }
        self.state: dict = {}

    def _commit(self, spark, root, path) -> None:
        from graphgen_spark.pipelines import materialize

        materialize.run_checkpointed(
            spark, spark.read.parquet(path), root,
            alias_dict=spark.read.parquet(self.dict_path), **CHUNK)

    def prepare(self, spark, tracer, part) -> None:
        from graphgen_spark.pipelines import kg_pipeline

        st = self.state[part] = {
            "root": os.path.join(self.work, f"ckpt-{part}"),
            "commits": [], "builds": [], "out": None,
        }
        with tracer.span(f"{self.name}.dict_prep") as sp:
            st["labels"] = kg_pipeline.alias_labels(
                spark.read.parquet(self.dict_path)).localCheckpoint(eager=True)
            # building a fused plan once collects + broadcasts the label
            # map: a per-release cost that batch callers pay on first use
            kg_pipeline.run_kg_pipeline(
                spark, spark.read.parquet(self.batch_paths[0]),
                precomputed_labels=st["labels"], fused=True, **CHUNK)
        st["dict_prep_s"] = sp.t1 - sp.t0

    def run_pass(self, spark, tracer, part, i) -> None:
        from graphgen_spark.operators import stats
        from graphgen_spark.pipelines import kg_pipeline

        st, path = self.state[part], self.batch_paths[i]
        if st["out"] is not None:
            st["out"]["records"].unpersist()
        with tracer.span(f"{self.name}.commit") as sp:
            self._commit(spark, st["root"], path)
        st["commits"].append(sp.t1 - sp.t0)
        t0 = sp.t1
        with tracer.span(f"{self.name}.plan"):
            out = kg_pipeline.run_kg_pipeline(
                spark, spark.read.parquet(path),
                precomputed_labels=st["labels"], fused=True,
                persist_records=True, **CHUNK)
            coverage = stats.coverage_by_url(out["triples"])
        for sink in ("triples", "nodes", "edges"):
            with tracer.span(f"{self.name}.sink.{sink}"):
                _noop(out[sink])
        with tracer.span(f"{self.name}.sink.coverage") as sp:
            _noop(coverage)
        st["builds"].append(sp.t1 - t0)
        st["out"], st["passes"] = out, i + 1

    def finish(self, spark, tracer, part) -> None:
        st = self.state[part]
        st["before"] = _table_rows(st["root"])
        with tracer.span(f"{self.name}.resume") as sp:
            self._commit(spark, st["root"], self.batch_paths[self.redeliver])
        st["resume_s"] = sp.t1 - sp.t0
        st["after"] = _table_rows(st["root"])
        st["store_mb"] = inputs.dir_mb(st["root"])

    def keep(self, spark, part) -> None:
        st = self.state[part]
        out = st.pop("out")
        st["fingerprint"] = (_fingerprint(out["nodes"]),
                             _fingerprint(out["edges"]))
        st["built"] = oracle.triples_counter(out["triples"].collect())
        st["records_out"] = out["records"].count()
        out["records"].unpersist()

    def check(self, spark) -> list:
        labels = oracle.union_find_labels(self.dictionary)
        checks = []
        for part, st in self.state.items():
            n = st["passes"]
            want_built, self.pages_no_records = oracle.replay_triples(
                self.batches[n - 1], labels, **CHUNK)
            delivered = [p for b in self.batches[:n] for p in b]
            want_store, _ = oracle.replay_triples(delivered, labels, **CHUNK)
            stored = oracle.triples_counter(pq.read_table(
                os.path.join(st["root"], "triples")).to_pylist())
            checks += [
                _counts_equal(f"{part}: built triples == replay",
                              st["built"], want_built),
                _counts_equal(f"{part}: committed triples == replay",
                              stored, want_store),
            ]
            if "after" in st:
                grown = {t: (st["before"].get(t), k)
                         for t, k in st["after"].items()
                         if st["before"].get(t) != k}
                checks.append((f"{part}: re-delivery adds no rows", not grown,
                               str(grown or sum(st["after"].values()))))
        if len(self.state) == 2:
            a, b = (st["fingerprint"] for st in self.state.values())
            checks.append(("nodes/edges equal untraced vs traced", a == b,
                           str(b)))
        return checks

    def detail(self) -> dict:
        st = self.state["untraced"]
        # the re-delivery runs once, in the last part
        last = list(self.state.values())[-1]
        timed = slice(self.warm_up_passes, None)
        return {"dict_prep_s": (st["dict_prep_s"], "s"),
                "batch_p50_s": (statistics.median(st["commits"][timed]), "s"),
                "build_p50_s": (statistics.median(st["builds"][timed]), "s"),
                "resume_s": (last["resume_s"], "s"),
                "store_mb": (last["store_mb"], "MB")}

    def extras(self, spark) -> dict:
        return {"pages_no_records": self.pages_no_records,
                "records_out": self.state["traced"]["records_out"]}


class CorpusDedup:
    """Curation, MinHash-LSH near-dup grouping and embedding near-dup
    pairs over a corpus with planted duplicate clusters."""

    name = "corpus_dedup"
    pass_name = "corpus_dedup.pass"
    # the JIT is still compiling the MinHash path after one pass: the
    # pass after it runs 10-30% slower than the one after that, by an
    # amount that differs from run to run
    warm_up_passes = 2
    min_passes = 2
    max_passes = 12
    per_pass = 2000  # docs
    minhash = {"num_perm": 64, "bands": 16, "threshold": 0.7}
    embedding = {"threshold": 0.95, "n_planes": 10, "n_tables": 3}

    def __init__(self):
        self.curate = {"min_tokens": 30, "max_tokens": 100_000,
                       "max_repetition_pct": 60,
                       "langs": ["en", "zh", "de", "fr"],
                       "sample_k": self.per_pass // 10}

    def land(self, work: str, seed: int) -> None:
        self.docs, self.vectors, self.clusters = inputs.dedup_corpus(
            seed, self.per_pass)
        self.paths = {k: os.path.join(work, f"{k}.parquet")
                      for k in ("docs", "emb")}
        inputs.write_dedup(self.paths["docs"], self.paths["emb"],
                           self.docs, self.vectors)
        self.inputs = {"docs": self.per_pass,
                       "planted_clusters": len(self.clusters),
                       "embedding_dim": inputs.EMBED_DIM}
        self.adaptive = {"cc": "driver (pair graph below DRIVER_CC_MAX_EDGES)"}
        self.state: dict = {}

    def prepare(self, spark, tracer, part) -> None:
        self.state[part] = {"cache_mb": 0.0}

    def run_pass(self, spark, tracer, part, i) -> None:
        """Each sink collects its small result for the output checks."""
        from graphgen_spark.datapipe import curate, dedup

        st = self.state[part]
        docs = spark.read.parquet(self.paths["docs"])
        with tracer.span(f"{self.name}.sink.curate"):
            curated, funnel = curate.curate_corpus(docs, **self.curate)
            out = {"curated": curated.collect(), "funnel": funnel.collect()}
        with tracer.span(f"{self.name}.sink.minhash"):
            out["groups"] = dedup.minhash_lsh_dedup(
                docs, **self.minhash).collect()
        st["cache_mb"] = max(st["cache_mb"], _cached_mb(spark))
        with tracer.span(f"{self.name}.sink.embedding"):
            out["pairs"] = dedup.embedding_neardup_pairs(
                spark.read.parquet(self.paths["emb"]),
                **self.embedding).collect()
        dedup.release_dedup_caches()
        st["out"] = out

    def finish(self, spark, tracer, part) -> None:
        pass

    def keep(self, spark, part) -> None:
        pass

    def check(self, spark) -> list:
        from graphgen_spark.datapipe import curate, dedup

        # the repo's pair oracle, grouped by min-id union-find: the rule
        # of minhash_groups_oracle_sql, whose recursive CTE re-evaluates
        # the whole MinHash chain per step (~25 s at 2k docs)
        want_pairs = oracle.duckdb_rows(
            self.paths["docs"],
            dedup.minhash_pairs_oracle_sql("docs", **self.minhash))
        want_groups = oracle.min_id_groups(
            [d[0] for d in self.docs], [(a, b) for a, b, _ in want_pairs])
        cur_sql, fun_sql = curate.curate_oracle_sql("docs", **self.curate)
        want_curated = sorted(oracle.duckdb_rows(self.paths["docs"], cur_sql))
        want_funnel = sorted(oracle.duckdb_rows(self.paths["docs"], fun_sql))
        planted = {(min(a, b), max(a, b)) for c in self.clusters
                   for i, a in enumerate(c) for b in c[i + 1:]}
        index = {d[0]: i for i, d in enumerate(self.docs)}
        thr = self.embedding["threshold"]
        checks = []
        for part, st in self.state.items():
            out = st["out"]
            groups = {(r["doc_id"], r["group_id"], bool(r["keep"]))
                      for r in out["groups"]}
            pairs = {(r["a"], r["b"]) for r in out["pairs"]}
            low = [p for p in pairs
                   if oracle.cosine(self.vectors, index, *p) < thr - 1e-12]
            checks += [
                (f"{part}: minhash groups == DuckDB oracle",
                 groups == want_groups,
                 f"{len(groups)} docs, "
                 f"{sum(not k for _, _, k in groups)} dropped"),
                (f"{part}: curated == DuckDB oracle",
                 sorted(tuple(r) for r in out["curated"]) == want_curated,
                 f"{len(want_curated)} kept"),
                (f"{part}: funnel == DuckDB oracle",
                 sorted(tuple(r) for r in out["funnel"]) == want_funnel,
                 str(want_funnel)),
                (f"{part}: every planted vector pair found", planted <= pairs,
                 f"{len(planted & pairs)}/{len(planted)} planted, "
                 f"{len(pairs)} reported"),
                (f"{part}: every reported cosine >= threshold", not low,
                 f"{len(low)} below"),
            ]
        return checks

    def detail(self) -> dict:
        return {}

    def extras(self, spark) -> dict:
        from graphgen_spark.datapipe import dedup

        docs = spark.read.parquet(self.paths["docs"])
        banding = {k: v for k, v in self.minhash.items() if k != "threshold"}
        candidates = dedup.lsh_candidate_pairs(docs, **banding).count()
        verified = dedup.minhash_verified_pairs(docs, **self.minhash).count()
        dedup.release_dedup_caches()
        return {"candidates": candidates, "verified": verified,
                "cache_mb": self.state["traced"]["cache_mb"]}


def _cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1 << 20)


WORKLOADS = {w.name: w for w in (KgBuild, CorpusDedup)}
