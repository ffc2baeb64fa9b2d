"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 5 \
        --trace 0

Run from the root of a checkout.  Prints one detail JSON line (inputs,
adaptive paths, workload-specific metrics, output checks) and, as the
last line, the result object ``{"correct", "attempted", "failed",
"metrics"}``: end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LANDING_REPS = 3
DEADLINE_S = 170
# a fixed, pre-touched heap: peak RSS then moves with off-heap, Python
# worker and client memory instead of with how far GC let the heap grow
DRIVER_MEMORY = "1g"


# ------------------------------------------------------ process tree


def _children() -> dict:
    kids: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def _descendants(root: int) -> list:
    kids, out, todo = _children(), [], [root]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def _pss_mb(pids) -> float:
    """Summed proportional set size: resident memory with the pages that
    forked Python workers share counted once, not once per worker."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total_kb / 1024


class PeakRss(threading.Thread):
    """Peak summed resident memory (PSS) of this process and all its
    descendants (the Python driver, the JVM and the Python workers),
    sampled from /proc."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval, self.peak = interval, 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, _pss_mb([me, *_descendants(me)]))
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak


def _reap_children(timeout: float = 20.0) -> None:
    deadline = time.time() + timeout
    while _descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


# ------------------------------------------------------------ spark


def start_spark(name: str, work: str, event_log: str | None = None):
    from graphgen_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + event_log,
        })
    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(master=f"local[{cpus}]", app_name=f"perfbench-{name}",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------- run


def _timed_phase(workload, spark, tracers: dict,
                 seconds: float) -> tuple[dict, dict, bool]:
    """Closed loop over the workload's passes; with two parts the
    untraced and traced passes alternate, each on its own outputs.
    The first ``warm_up_passes`` passes of each part are its warm-up
    (the first commit creates the checkpoint tables, codegen, JIT and
    Python workers start).  Timed passes continue until the untraced
    ones have taken ``seconds`` and at least ``min_passes`` ran.  The
    one-off steps after the passes run once, in the last part.  Returns
    the warm-up wall and the timed pass walls per part, and False when
    a step raised."""

    def step(part, fn, *args):
        with tracers[part].active():
            fn(spark, tracers[part], part, *args)

    def one_pass(spark, tracer, part, i):
        warm = i < workload.warm_up_passes
        name = f"{workload.name}.warm_up" if warm else workload.pass_name
        with tracer.span(name) as sp:
            workload.run_pass(spark, tracer, part, i)
        if warm:
            warm_up[part] = warm_up.get(part, 0.0) + sp.t1 - sp.t0
        else:
            walls[part].append(sp.t1 - sp.t0)

    warm_up, walls = {}, {part: [] for part in tracers}
    try:
        for part in tracers:
            step(part, workload.prepare)
        i = 0
        while i < workload.warm_up_passes + workload.min_passes or (
                i < workload.max_passes
                and sum(walls["untraced"]) < seconds):
            for part in tracers:
                step(part, one_pass, i)
            i += 1
        step(list(tracers)[-1], workload.finish)
    except Exception:
        traceback.print_exc()
        return warm_up, walls, False
    return warm_up, walls, True


def _failed_ops(tracer) -> tuple[int, int]:
    """(top-level steps, steps that raised or saw a failed Spark task)."""
    top = [s for s in tracer.spans if s.parent is None]
    bad = tracer.failed_task_groups()
    return len(top), sum(1 for s in top if s.failed or s.group in bad)


def run(args, work: str) -> tuple[dict, dict]:
    import layers
    from spans import Tracer, read_event_log
    from workloads import WORKLOADS

    workload = WORKLOADS[args.workload]()
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    rss = PeakRss()
    rss.start()
    t0 = time.time()
    spark = start_spark(args.workload, work, event_log=log_dir)
    session_s = time.time() - t0
    landing = []
    for _ in range(LANDING_REPS):
        t = time.time()
        workload.land(work, args.seed)
        landing.append(time.time() - t)

    sc = spark.sparkContext
    tracers = {"untraced": Tracer(sc)}
    if args.trace:
        tracers["traced"] = Tracer(sc, traced=True)
    warm_up, walls, ok = _timed_phase(workload, spark, tracers,
                                      args.seconds)
    peak_rss = rss.stop()
    attempted = failed = 0
    for tracer in tracers.values():
        n, bad = _failed_ops(tracer)
        attempted, failed = attempted + n, failed + bad
    if not walls["untraced"] or (args.trace and not walls["traced"]):
        raise RuntimeError("no pass of the timed phase completed")
    setup_s = session_s + statistics.median(landing) + warm_up["untraced"]
    if not ok:
        failed = max(failed, 1)
    extras = {"session_start_s": session_s}
    t = time.time()
    try:
        for part in tracers:
            workload.keep(spark, part)
        checks = workload.check(spark)
        if args.trace:
            extras.update(workload.extras(spark))
    except Exception as exc:
        traceback.print_exc()
        checks = [("output checks ran", False, repr(exc))]
    checks_s = time.time() - t
    if args.trace:
        extras["traced_wall_s"] = statistics.median(walls["traced"])
        extras["overhead_s"] = (extras["traced_wall_s"]
                                - statistics.median(walls["untraced"]))
    stop_spark(spark)
    attempted += len(checks)
    failed += sum(not c_ok for _, c_ok, _ in checks)

    wall_s = statistics.median(walls["untraced"])
    detail_metrics = {k: {"value": v, "unit": u}
                      for k, (v, u) in workload.detail().items()}
    detail_metrics["error_rate"] = {"value": failed / attempted,
                                    "unit": "ratio"}
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "inputs": workload.inputs, "adaptive": workload.adaptive,
        "pass_walls_s": walls,
        "setup": {"session_s": session_s, "landing_s": landing,
                  "warm_up_s": warm_up},
        "checks_s": checks_s,
        "metrics": detail_metrics,
        "checks": [{"check": c, "ok": c_ok, "detail": d}
                   for c, c_ok, d in checks],
    }
    if args.trace:
        traced = tracers["traced"]
        values, absent, detail["spans"] = layers.compute(
            traced.spans, read_event_log(log_dir), workload.pass_name,
            traced.absent, extras)
        detail["absent_layers"] = absent
        detail["absent_functions"] = traced.absent
        metrics = {k: {"value": values[k], "unit": unit}
                   for k, (unit, _) in layers.PER_LAYER.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": wall_s, "unit": "s"},
            "pages_per_s": {"value": workload.per_pass / wall_s,
                            "unit": "1/s"},
            "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
        }
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return detail, result


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "graphgen_spark", "__init__.py")):
        print(f"perfbench: no graphgen_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Spark workers import the package; every temp file stays in the
    # checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # no JVM perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"]))
    tempfile.tempdir = None

    def _abort():
        print(f"perfbench: run exceeded {DEADLINE_S} s", file=sys.stderr)
        for pid in _descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        shutil.rmtree(work, ignore_errors=True)
        os._exit(3)

    watchdog = threading.Timer(DEADLINE_S, _abort)
    watchdog.daemon = True
    watchdog.start()
    try:
        detail, result = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        _reap_children()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass
        watchdog.cancel()
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
