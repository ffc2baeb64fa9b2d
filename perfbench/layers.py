"""Per-layer metrics of a traced run, computed from spans + event log.

Layers are package modules.  Unless noted, a value is per *pass* (one
graph build, one batch commit, one dedup pass): summed over the pass
spans of the traced phase and divided by their number.  One-off steps
(alias-label builds, connected components) are per call; the
re-delivery of a committed batch is reported on its own.  A layer whose
code did not run in a workload reports 0; a metric that depends on a
wrapped function which no longer exists is listed as absent and reads 0.
"""

from __future__ import annotations

import statistics

from spans import EventLog

MB = 1 << 20

# name -> (unit, better)
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "fused.executor_s": ("s", "lower"),
    "fused.python_s": ("s", "lower"),
    "fused.tasks": ("count", "lower"),
    "fused.records_out": ("count", "higher"),
    "fused.pages_no_records": ("count", "lower"),
    "kg_pipeline.plan_s": ("s", "lower"),
    "kg_pipeline.alias_labels_s": ("s", "lower"),
    "components.wall_s": ("s", "lower"),
    "components.jobs": ("count", "lower"),
    "components.fixpoint": ("count", "lower"),
    "merge.nodes_s": ("s", "lower"),
    "merge.edges_s": ("s", "lower"),
    "merge.shuffle_write_mb": ("MB", "lower"),
    "merge.spill_mb": ("MB", "lower"),
    "stats.coverage_s": ("s", "lower"),
    "checkpointing.docs_s": ("s", "lower"),
    "checkpointing.chunks_s": ("s", "lower"),
    "checkpointing.records_s": ("s", "lower"),
    "checkpointing.jobs": ("count", "lower"),
    "checkpointing.metrics_jobs": ("count", "lower"),
    "checkpointing.written_mb": ("MB", "lower"),
    "materialize.finals_s": ("s", "lower"),
    "materialize.resume_jobs": ("count", "lower"),
    "materialize.rows_new": ("count", "higher"),
    "dedup.minhash_s": ("s", "lower"),
    "dedup.embedding_s": ("s", "lower"),
    "dedup.candidates": ("count", "lower"),
    "dedup.verified": ("count", "higher"),
    "dedup.verify_ratio": ("ratio", "higher"),
    "dedup.cache_mb": ("MB", "lower"),
    "curate.wall_s": ("s", "lower"),
    "spark.python_s": ("s", "lower"),
    "spark.python_stage_s": ("s", "lower"),
    "spark.jvm_stage_s": ("s", "lower"),
    "spark.dispatch_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.task_failures": ("count", "lower"),
    "trace.wall_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}

# metric -> wrapped function it is measured through
_NEEDS = {
    "kg_pipeline.alias_labels_s": "kg_pipeline.alias_labels",
    "components.wall_s": "components.connected_components",
    "components.jobs": "components.connected_components",
    "components.fixpoint": "components._driver_union_find",
    "checkpointing.docs_s": "checkpointing.checkpoint_stage",
    "checkpointing.chunks_s": "checkpointing.checkpoint_stage",
    "checkpointing.records_s": "checkpointing.checkpoint_stage",
    "checkpointing.jobs": "checkpointing.checkpoint_stage",
    "checkpointing.written_mb": "checkpointing.checkpoint_stage",
}

_FINAL_TABLES = ("nodes", "edges", "triples", "coverage")
_BUILD_SINKS = tuple(f".sink.{t}" for t in _FINAL_TABLES)
_STAGE_TABLES = ("docs", "chunks", "records")


def compute(spans, log: EventLog, pass_name: str, absent: list,
            extras: dict) -> tuple[dict, list]:
    by_id = {s.sid: s for s in spans}

    def chain(sid):
        while sid is not None and sid in by_id:
            yield by_id[sid]
            sid = by_id[sid].parent

    def under(sid, pred) -> bool:
        return any(pred(s.name) for s in chain(sid))

    def warm_up(sid) -> bool:
        return under(sid, lambda nm: nm.endswith(".warm_up"))

    # the warm-up passes are set-up, not a layer's per-pass cost
    spans = [s for s in spans if not warm_up(s.sid)]
    all_jobs = [j for j in log.jobs.values()
                if j.span is not None and not warm_up(j.span)]
    all_tasks = [t for t in log.tasks
                 if t.span is not None and not warm_up(t.span)]

    def outermost(pred):
        return [s for s in spans
                if pred(s.name) and not under(s.parent, pred)]

    def wall(ss):
        return sum(s.t1 - s.t0 for s in ss)

    def mean_wall(ss):
        return statistics.fmean([s.t1 - s.t0 for s in ss]) if ss else 0.0

    def is_pass(name):
        return name == pass_name

    passes = [s for s in spans if is_pass(s.name)]
    n = max(1, len(passes))
    jobs_in_pass = [j for j in all_jobs if under(j.span, is_pass)]
    tasks_in_pass = [t for t in all_tasks if under(t.span, is_pass)]

    def jobs_under(pred):
        return [j for j in all_jobs if under(j.span, pred)]

    def writing(tables):
        return [j for j in jobs_in_pass
                if log.out_path(j).rsplit("/", 1)[-1] in tables]

    def sink(name):
        return jobs_under(lambda nm: nm.endswith(f"sink.{name}"))

    def job_wall(js):
        return sum(max(0.0, j.t1 - j.t0) for j in js)

    def tasks_of(js):
        ids = {j.jid for j in js}
        return [t for t in log.tasks if t.job in ids]

    # the fused pages -> records hop: the mapInPandas stages that run
    # while the in-memory KG build's outputs are materialized
    fused = [t for t in tasks_in_pass if "MapInPandas" in t.scopes
             and under(t.span, lambda nm: nm.endswith(_BUILD_SINKS))]

    def is_cc(name):
        return name.startswith("components.connected_components")

    cc = outermost(is_cc)
    # a components call that never reached the driver union-find ran
    # the distributed fixpoint
    on_driver = {
        x.sid
        for s in spans if s.name == "components._driver_union_find"
        for x in chain(s.sid)
    }
    fixpoint = any(c.sid not in on_driver for c in cc)

    def is_ckpt(name):
        return name.startswith("checkpointing.checkpoint_stage")

    ckpt_jobs = [j for j in jobs_in_pass if under(j.span, is_ckpt)]
    merge_tasks = tasks_of(sink("nodes") + sink("edges")
                           + writing(("nodes", "edges")))
    verified, candidates = extras.get("verified", 0), extras.get(
        "candidates", 0)

    v = {
        "session.start_s": extras.get("session_start_s", 0.0),
        "fused.executor_s": sum(t.run_s for t in fused) / n,
        "fused.python_s": sum(t.python_s for t in fused) / n,
        "fused.tasks": len(fused) / n,
        "fused.records_out": extras.get("records_out", 0),
        "fused.pages_no_records": extras.get("pages_no_records", 0),
        "kg_pipeline.plan_s": mean_wall(
            [s for s in spans if s.name.endswith(".plan")]),
        "kg_pipeline.alias_labels_s": mean_wall(
            [s for s in spans if s.name == "kg_pipeline.alias_labels"]),
        "components.wall_s": mean_wall(cc),
        "components.jobs": len(jobs_under(is_cc)) / max(1, len(cc)),
        "components.fixpoint": 1 if fixpoint else 0,
        "merge.nodes_s": job_wall(sink("nodes") + writing(("nodes",))) / n,
        "merge.edges_s": job_wall(sink("edges") + writing(("edges",))) / n,
        "merge.shuffle_write_mb": sum(
            t.shuffle_write for t in merge_tasks) / MB / n,
        "merge.spill_mb": sum(t.spill for t in merge_tasks) / MB / n,
        "stats.coverage_s": job_wall(
            sink("coverage") + writing(("coverage",))) / n,
        "checkpointing.docs_s": wall(_ckpt(spans, "docs")) / n,
        "checkpointing.chunks_s": wall(_ckpt(spans, "chunks")) / n,
        "checkpointing.records_s": wall(_ckpt(spans, "records")) / n,
        "checkpointing.jobs": len(ckpt_jobs) / n,
        "checkpointing.metrics_jobs": len(
            [j for j in jobs_in_pass if "/_metrics/" in log.out_path(j)]) / n,
        "checkpointing.written_mb": sum(
            t.out_bytes for t in tasks_of(ckpt_jobs)) / MB / n,
        "materialize.finals_s": job_wall(writing(_FINAL_TABLES)) / n,
        "materialize.resume_jobs": len(
            jobs_under(lambda nm: nm.endswith(".resume"))),
        "materialize.rows_new": sum(
            t.out_rows for t in tasks_of(writing(_STAGE_TABLES))) / n,
        "dedup.minhash_s": wall(_named(spans, "sink.minhash")) / n,
        "dedup.embedding_s": wall(_named(spans, "sink.embedding")) / n,
        "dedup.candidates": candidates,
        "dedup.verified": verified,
        "dedup.verify_ratio": verified / candidates if candidates else 0.0,
        "dedup.cache_mb": extras.get("cache_mb", 0.0),
        "curate.wall_s": wall(_named(spans, "sink.curate")) / n,
        "spark.python_s": sum(t.python_s for t in tasks_in_pass) / n,
        "spark.python_stage_s": sum(
            t.run_s for t in tasks_in_pass if t.python_hop) / n,
        "spark.jvm_stage_s": sum(
            t.run_s for t in tasks_in_pass if not t.python_hop) / n,
        "spark.dispatch_s": (wall(passes) - _busy(tasks_in_pass)) / n,
        "spark.gc_s": sum(t.gc_s for t in tasks_in_pass) / n,
        "spark.tasks": len(tasks_in_pass) / n,
        "spark.task_failures": (
            sum(t.failed for t in log.tasks) + log.stage_retries) / n,
        "trace.wall_s": extras.get("traced_wall_s", 0.0),
        "trace.overhead_s": extras.get("overhead_s", 0.0),
    }
    gone = sorted(m for m, fn in _NEEDS.items() if fn in absent)
    for m in gone:  # not measured: 0, never a reading of a missing span
        v[m] = 0
    return v, gone, _span_table(spans)


def _span_table(spans) -> dict:
    """span name -> [calls, total s, self s] of the spans after warm-up;
    self time is a span's wall minus the walls of its direct children."""
    children: dict = {}
    for s in spans:
        if s.parent is not None:
            children[s.parent] = children.get(s.parent, 0.0) + s.t1 - s.t0
    table: dict = {}
    for s in spans:
        row = table.setdefault(s.name, [0, 0.0, 0.0])
        row[0] += 1
        row[1] += s.t1 - s.t0
        row[2] += s.t1 - s.t0 - children.get(s.sid, 0.0)
    return {k: [n, round(t, 4), round(st, 4)]
            for k, (n, t, st) in table.items()}


def _named(spans, suffix):
    return [s for s in spans if s.name.endswith(suffix)]


def _ckpt(spans, stage):
    return [s for s in spans
            if s.name == f"checkpointing.checkpoint_stage[{stage}]"]


def _busy(tasks) -> float:
    """Seconds during which at least one of ``tasks`` was running."""
    busy, cur0, cur1 = 0.0, None, None
    for a, b in sorted((t.t0, t.t1) for t in tasks):
        if cur1 is None or a > cur1:
            if cur1 is not None:
                busy += cur1 - cur0
            cur0, cur1 = a, b
        else:
            cur1 = max(cur1, b)
    if cur1 is not None:
        busy += cur1 - cur0
    return busy
