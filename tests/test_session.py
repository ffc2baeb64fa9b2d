"""``session.get_spark``'s session defaults: the codegen cache that holds
a session's plans, and the local-only entries (two JIT threads on the
driver; Python workers run from ``graphgen_spark.worker_daemon``, which
keeps each zipimporter's directory instead of re-reading it at every
task) with the core count read from a local master."""

import os
import subprocess
import sys
import textwrap

from pyspark.sql import functions as F

from graphgen_spark import session
from graphgen_spark.session import DEFAULT_CPUS, _local_conf

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = "spark.python.daemon.module"
WORKER_PATH = "spark.executorEnv.PYTHONPATH"
JAVA = "spark.driver.defaultJavaOptions"
JIT = "-XX:CICompilerCount=2"


def _compilations(spark):
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_run_of_plans_compiles_nothing(spark):
    """150 projections that differ by a literal need more generated
    classes than Spark's default cache of 100 holds: with it, the
    second round recompiled every one."""
    def run_all():
        for i in range(150):
            spark.range(3).select((F.col("id") * 7 + i).alias("x")).collect()

    run_all()
    before = _compilations(spark)
    run_all()
    assert _compilations(spark) - before == 0


def test_session_conf_and_driver_jit_threads(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1024"
    runtime = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    assert JIT in list(runtime.getInputArguments())


def test_session_workers_keep_zip_directories(spark):
    def invalidate_caches_name(it):
        import zipimport

        import pandas as pd

        for _ in it:
            yield pd.DataFrame(
                {"name": [zipimport.zipimporter.invalidate_caches.__name__]})

    rows = spark.range(1).mapInPandas(
        invalidate_caches_name, "name string").collect()
    assert {r.name for r in rows} == {"_keep_zip_directories"}


def test_daemon_found_from_another_directory(tmp_path):
    """The daemon imports its module through the checkout root that
    ``get_spark`` puts on the worker path, not through the driver's
    working directory: without it every Python job fails."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from pyspark.sql import functions as F
        from graphgen_spark.session import get_spark
        spark = get_spark(master="local[2]", app_name="daemon-cwd")
        plus_one = F.udf(lambda x: x + 1, "long")
        print("ROW", spark.range(3).select(plus_one("id").alias("y"))
              .agg(F.sum("y")).first()[0])
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=240,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROW 6" in out.stdout.splitlines()


def test_local_master_gets_daemon_and_checkout_root():
    for master in ("local", "local[2]", "local[*]"):
        _, conf = _local_conf(master, {})
        assert conf == {DAEMON: "graphgen_spark.worker_daemon",
                        WORKER_PATH: ROOT, JAVA: JIT}


def test_checkout_root_merged_before_a_given_path():
    given = os.pathsep.join(["deps/a.zip", "deps/b"])
    _, conf = _local_conf("local[2]", {WORKER_PATH: given})
    assert conf[WORKER_PATH] == os.pathsep.join([ROOT, given])


def test_callers_driver_java_options_kept():
    _, conf = _local_conf("local[2]", {JAVA: "-Xss4m"})
    assert conf[JAVA] == "-Xss4m"


def test_cluster_master_keeps_pyspark_daemon():
    """No local-only entry (daemon, JIT threads) and the default core
    count for a cluster master."""
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443"):
        assert _local_conf(master, {}) == (DEFAULT_CPUS, {})


def test_local_master_cores():
    every = len(os.sched_getaffinity(0))
    for master, cores in [("local", 1), ("local[3]", 3), ("local[4,2]", 4),
                          ("local[*]", every), ("local[*,3]", every)]:
        assert _local_conf(master, {})[0] == cores, master


def test_zipped_package_keeps_pyspark_daemon(monkeypatch):
    """Shipped with ``--py-files``, the package has no directory to put
    on the worker path."""
    monkeypatch.setattr(session, "__file__", os.path.join(
        ROOT, "deps.zip", "graphgen_spark", "session.py"))
    assert _local_conf("local[2]", {}) == (2, {JAVA: JIT})
