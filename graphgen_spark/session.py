"""SparkSession factory tuned for the KG-construction workload.

Defaults mirror what we would ship to a 1000-executor cluster via
``spark-submit --py-files``: AQE on (runtime re-plan + skew-join
splitting), Arrow on (every Python touchpoint is a vectorized pandas
UDF), shuffle partitions sized to the parallelism level.  In the
sandbox we run ``local[N]`` and treat N as the executor count.

A local session also runs its Python workers from
``graphgen_spark.worker_daemon``, which stops PySpark re-reading every
zip archive's directory at the start of each task (about 0.15 s of
every Python task, and private pages in every worker).  That holds
only when the master is ``local...`` and the package is imported from a
directory: the checkout root then goes first on
``spark.executorEnv.PYTHONPATH``, so the daemon finds its module
whatever the working directory.  A cluster master, or a package
shipped as a zip (``--py-files``), keeps PySpark's own daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    master: str | None = None,
    app_name: str = "graphgen_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-oriented defaults.

    AQE coalesces small shuffle partitions and splits skewed ones at
    runtime, so ``shuffle_partitions`` is an upper bound, not a tuning
    knob we must get exactly right per stage.

    A ``local...`` master with the package on disk gets the repo worker
    daemon and the checkout root in front of any
    ``spark.executorEnv.PYTHONPATH`` in ``extra_conf`` (see the module
    docstring).
    """
    cpus = DEFAULT_CPUS
    if master is None:
        master = f"local[{cpus}]"
    elif master.startswith("local[") and master != "local[*]":
        cpus = int(master[len("local[") : -1])
    if shuffle_partitions is None:
        # 2x the core count: enough granularity for AQE to rebalance
        # without drowning tiny stages in task overhead.
        shuffle_partitions = max(cpus * 2, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    conf = dict(extra_conf or {})
    conf.update(_worker_daemon_conf(master, conf))
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _worker_daemon_conf(master: str, conf: dict) -> dict:
    """The conf entries that run a local session's Python workers from
    ``graphgen_spark.worker_daemon``: none for a non-local master or a
    package imported from a zip."""
    package = os.path.dirname(os.path.abspath(__file__))
    if not master.startswith("local") or not os.path.isdir(package):
        return {}
    path = [os.path.dirname(package), conf.get("spark.executorEnv.PYTHONPATH")]
    return {
        "spark.python.daemon.module": "graphgen_spark.worker_daemon",
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(filter(None, path)),
    }


def widen_narrow(df: DataFrame, key: Column) -> DataFrame:
    """``df`` hash-repartitioned by ``key`` to the session's parallelism
    when it has fewer partitions than that, else ``df`` itself.

    A small parquet input arrives as ONE split, which would run a
    per-row Python hop in one task.  An input already that wide (any
    real crawl dump) is left alone, so raw text is never shuffled at
    scale.  So is one whose plan holds an exchange: under AQE, counting
    its partitions would run that exchange as a job of its own."""
    if "Exchange" in str(df._jdf.queryExecution().executedPlan()):
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par, key)
