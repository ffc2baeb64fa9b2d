"""``session.get_spark``'s worker daemon: a local session runs its Python
workers from ``graphgen_spark.worker_daemon``, which keeps each
zipimporter's directory instead of re-reading it at every task."""

import os
import subprocess
import sys
import textwrap

from graphgen_spark import session
from graphgen_spark.session import _worker_daemon_conf

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = "spark.python.daemon.module"
WORKER_PATH = "spark.executorEnv.PYTHONPATH"


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
        conf = _worker_daemon_conf(master, {})
        assert conf == {DAEMON: "graphgen_spark.worker_daemon",
                        WORKER_PATH: ROOT}


def test_checkout_root_merged_before_a_given_path():
    given = os.pathsep.join(["deps/a.zip", "deps/b"])
    conf = _worker_daemon_conf("local[2]", {WORKER_PATH: given})
    assert conf[WORKER_PATH] == os.pathsep.join([ROOT, given])


def test_cluster_master_keeps_pyspark_daemon():
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443"):
        assert _worker_daemon_conf(master, {}) == {}


def test_zipped_package_keeps_pyspark_daemon(monkeypatch):
    """Shipped with ``--py-files``, the package has no directory to put
    on the worker path."""
    monkeypatch.setattr(session, "__file__", os.path.join(
        ROOT, "deps.zip", "graphgen_spark", "session.py"))
    assert _worker_daemon_conf("local[2]", {}) == {}
