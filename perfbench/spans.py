"""Spans, layer-function wrapping and Spark event-log attribution.

A ``Tracer`` records one span per benchmark step (name, parent, start,
end) in memory.  Every top-level step also gets its own Spark job group
so task failures can be read back from ``statusTracker()`` after an
untraced run.  In a traced run the tracer additionally

- wraps the public layer functions listed in ``LAYER_FUNCTIONS`` (each
  becomes a span named ``<module>.<function>``), and
- tags every Spark job with the id of the innermost open span through
  the ``spark.job.description`` local property, which the event-log
  parser below uses to join jobs, stages and tasks back to spans.

PySpark DataFrame actions carry only JVM call sites in the event log
(``parquet at NativeMethodAccessorImpl.java:0``), so the job
description is the only reliable join key.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import re
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# (module path, function name, index of a positional argument whose
# value is appended to the span name).  A function missing after a
# refactor is reported as absent.
LAYER_FUNCTIONS = [
    ("graphgen_spark.pipelines.kg_pipeline", "alias_labels", None),
    ("graphgen_spark.pipelines.kg_pipeline", "canonicalize", None),
    ("graphgen_spark.pipelines.materialize", "run_checkpointed", None),
    ("graphgen_spark.operators.checkpointing", "checkpoint_stage", 3),
    ("graphgen_spark.operators.components", "connected_components", None),
    ("graphgen_spark.operators.components", "connected_components_long",
     None),
    ("graphgen_spark.operators.components", "_driver_union_find", None),
    ("graphgen_spark.operators.fused", "pages_to_records", None),
    ("graphgen_spark.operators.merge", "merge_nodes", None),
    ("graphgen_spark.operators.merge", "merge_edges", None),
    ("graphgen_spark.operators.stats", "coverage_by_url", None),
    ("graphgen_spark.datapipe.dedup", "minhash_lsh_dedup", None),
    ("graphgen_spark.datapipe.dedup", "minhash_verified_pairs", None),
    ("graphgen_spark.datapipe.dedup", "lsh_candidate_pairs", None),
    ("graphgen_spark.datapipe.dedup", "embedding_neardup_pairs", None),
    ("graphgen_spark.datapipe.curate", "curate_corpus", None),
]

PYTHON_TIME_METRIC = "time to run Python workers"  # SQL metric, ms
PYTHON_SCOPES = frozenset({
    "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
    "FlatMapGroupsInPandas", "MapInArrow",
})


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0
    failed: bool = False
    group: str | None = None


@dataclass
class Tracer:
    """In-memory span recorder; see the module docstring."""

    sc: object
    traced: bool = False
    spans: list = field(default_factory=list)
    absent: list = field(default_factory=list)
    _stack: list = field(default_factory=list)
    _patched: list = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent, time.time())
        self.spans.append(sp)
        self._stack.append(sp.sid)
        if parent is None:
            sp.group = f"perfbench-{sp.sid}"
            self.sc.setLocalProperty("spark.jobGroup.id", sp.group)
        if self.traced:
            self.sc.setLocalProperty("spark.job.description", f"span:{sp.sid}")
        try:
            yield sp
        except BaseException:
            sp.failed = True
            raise
        finally:
            sp.t1 = time.time()
            self._stack.pop()
            if self.traced:
                self.sc.setLocalProperty(
                    "spark.job.description",
                    f"span:{self._stack[-1]}" if self._stack else None,
                )
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def failed_task_groups(self) -> set:
        """Job groups (top-level spans) in which a Spark task failed or
        a stage was re-attempted, read from the status tracker."""
        st = self.sc.statusTracker()
        bad = set()
        for sp in self.spans:
            if sp.group is None:
                continue
            for jid in st.getJobIdsForGroup(sp.group):
                job = st.getJobInfo(jid)
                for sid in job.stageIds if job else ():
                    info = st.getStageInfo(sid)
                    if info and (info.numFailedTasks or info.currentAttemptId):
                        bad.add(sp.group)
        return bad

    @contextmanager
    def active(self):
        """Wrap the layer functions for the duration of one step of a
        traced part (an untraced part's steps interleave with it)."""
        if self.traced:
            self.wrap_layers()
        try:
            yield
        finally:
            self.unwrap_layers()

    # ---------------------------------------------------- wrapping
    def wrap_layers(self) -> None:
        # import every module first: a module imported while a function
        # is patched would keep the wrapper past ``unwrap_layers``
        mods = {}
        for mod_path, _, _ in LAYER_FUNCTIONS:
            try:
                mods[mod_path] = importlib.import_module(mod_path)
            except ImportError:
                pass
        for mod_path, name, label_arg in LAYER_FUNCTIONS:
            short = f"{mod_path.rsplit('.', 1)[1]}.{name}"
            orig = getattr(mods.get(mod_path), name, None)
            if not callable(orig):
                if short not in self.absent:
                    self.absent.append(short)
                continue
            wrapper = self._wrapper(orig, short, label_arg)
            # rebind every `from x import f` copy inside the package
            for mname, m in list(sys.modules.items()):
                if (mname.startswith("graphgen_spark") and m is not None
                        and getattr(m, name, None) is orig):
                    setattr(m, name, wrapper)
                    self._patched.append((m, name, orig))

    def unwrap_layers(self) -> None:
        for m, name, orig in reversed(self._patched):
            setattr(m, name, orig)
        self._patched.clear()

    def _wrapper(self, fn, short: str, label_arg):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            name = short
            if label_arg is not None and len(args) > label_arg:
                name = f"{short}[{args[label_arg]}]"
            with self.span(name):
                return fn(*args, **kwargs)

        return inner


# ------------------------------------------------------ event log


@dataclass
class Job:
    jid: int
    span: int | None
    t0: float
    t1: float = 0.0
    sql: int | None = None


@dataclass
class Task:
    span: int | None
    job: int | None
    scopes: frozenset  # RDD scope names of the task's stage
    t0: float
    t1: float
    run_s: float
    gc_s: float
    python_s: float
    shuffle_write: int
    spill: int
    out_bytes: int
    out_rows: int
    failed: bool

    @property
    def python_hop(self) -> bool:
        return bool(self.scopes & PYTHON_SCOPES)


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)
    tasks: list = field(default_factory=list)
    stage_span: dict = field(default_factory=dict)
    stage_job: dict = field(default_factory=dict)
    stage_scopes: dict = field(default_factory=dict)
    sql_path: dict = field(default_factory=dict)  # exec id -> out path
    stage_retries: int = 0

    def out_path(self, job: Job) -> str:
        return self.sql_path.get(job.sql, "")


def _span_of(props: dict | None) -> int | None:
    desc = (props or {}).get("spark.job.description") or ""
    return int(desc[5:]) if desc.startswith("span:") else None


# the details block of the write node: "(n) Execute
# InsertIntoHadoopFsRelationCommand / Input ... / Arguments: file:/path, ..."
_WRITE_PATH_RE = re.compile(
    r"\) Execute InsertIntoHadoopFsRelationCommand\n(?:[^\n]+\n)*?"
    r"Arguments: (?:file:)?([^,\s]+)"
)


def _scope_names(stage_info: dict) -> frozenset:
    names = set()
    for rdd in stage_info.get("RDD Info", ()):
        if "Scope" in rdd:
            names.add(json.loads(rdd["Scope"])["name"])
    return frozenset(names)


def read_event_log(log_dir: str) -> EventLog:
    """Parse the (rolling, uncompressed) event log of one application."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if not files:
        raise RuntimeError(f"no rolling event log under {log_dir}")

    def index(path: str) -> int:
        m = re.search(r"events_(\d+)_", os.path.basename(path))
        return int(m.group(1)) if m else 0

    log = EventLog()
    for path in sorted(files, key=index):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                _event(log, json.loads(line))
    return log


def _event(log: EventLog, e: dict) -> None:
    kind = e["Event"]
    if kind == "SparkListenerJobStart":
        props = e.get("Properties") or {}
        sql = props.get("spark.sql.execution.id")
        log.jobs[e["Job ID"]] = Job(
            e["Job ID"], _span_of(props), e["Submission Time"] / 1e3,
            sql=int(sql) if sql is not None else None,
        )
        for sid in e.get("Stage IDs", ()):
            log.stage_job.setdefault(sid, e["Job ID"])
    elif kind == "SparkListenerJobEnd":
        job = log.jobs.get(e["Job ID"])
        if job:
            job.t1 = e["Completion Time"] / 1e3
    elif kind == "SparkListenerStageSubmitted":
        info = e["Stage Info"]
        log.stage_span[info["Stage ID"]] = _span_of(e.get("Properties"))
        log.stage_scopes[info["Stage ID"]] = _scope_names(info)
        if info.get("Stage Attempt ID", 0):
            log.stage_retries += 1
    elif kind == "SparkListenerTaskEnd":
        ti, tm = e["Task Info"], e.get("Task Metrics") or {}
        python_ms = sum(
            float(a["Update"]) for a in ti.get("Accumulables", ())
            if a.get("Name") == PYTHON_TIME_METRIC and "Update" in a
        )
        out = tm.get("Output Metrics") or {}
        log.tasks.append(Task(
            span=log.stage_span.get(e["Stage ID"]),
            job=log.stage_job.get(e["Stage ID"]),
            scopes=log.stage_scopes.get(e["Stage ID"], frozenset()),
            t0=ti["Launch Time"] / 1e3, t1=ti["Finish Time"] / 1e3,
            run_s=tm.get("Executor Run Time", 0) / 1e3,
            gc_s=tm.get("JVM GC Time", 0) / 1e3,
            python_s=python_ms / 1e3,
            shuffle_write=(tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0),
            spill=tm.get("Memory Bytes Spilled", 0)
            + tm.get("Disk Bytes Spilled", 0),
            out_bytes=out.get("Bytes Written", 0),
            out_rows=out.get("Records Written", 0),
            failed=e["Task End Reason"]["Reason"] != "Success",
        ))
    elif kind.endswith("SparkListenerSQLExecutionStart"):
        m = _WRITE_PATH_RE.search(e.get("physicalPlanDescription", ""))
        if m:
            log.sql_path[e["executionId"]] = m.group(1).rstrip("/")
