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

Every session keeps 1024 generated classes
(``spark.sql.codegen.cache.maxEntries``; Spark keeps 100).  A rebuild
runs the same small plans on every crawl batch, and one perfbench
``kg_build`` pass alone needs about 240 classes: with 100 the LRU
missed on every pass, so each pass recompiled 179-190 classes
(``corpus_dedup``: 61-62).  With 1024, the second pass compiled 34 and
each later one 4-10 (``corpus_dedup``: 2, then 0).  1024 is about 3x
the largest plan set measured (``bench.py`` compiles 362-368
classes under it) and still bounded.

A local session's driver JVM also runs two JIT compiler threads
(``-XX:CICompilerCount=2`` in ``spark.driver.defaultJavaOptions``, the
minimum under tiered compilation; Spark puts it before
``spark.driver.extraJavaOptions``).  There HotSpot's compiler threads
take the same cores as every task thread: over a whole perfbench
``kg_build`` run on 4 vCPUs they used 45-56 CPU-s, against 9-11 CPU-s
for all task threads, and 31-39 CPU-s with the flag.

Each part alone, one perfbench run per seed on 4 vCPUs (median
pages/s): ``kg_build`` (seeds 131-135) 16.9 at Spark's defaults, 21.8
with the cache, 19.0 with the flag, 24.9 with both; ``corpus_dedup``
(seeds 141-144) 531, 644, 589 and 639.  The flag is what lowers peak
RSS (``kg_build`` 1987 -> 1937 MB alone).  Both together over 10
interleaved ``kg_build`` pairs: 21.9 -> 27.2 pages/s, better in 10/10.
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

    Every session keeps 1024 generated classes, so a plan run again
    is not compiled again: with Spark's 100, each perfbench
    ``kg_build`` pass recompiled 179-190 classes; with 1024, 4-10 from
    its third pass on.  A ``local...`` master also runs two JIT
    compiler threads on the driver, which there share the cores with
    every task thread (the module docstring has the measurements
    behind both).  A ``local...`` master with the package on disk gets
    the repo worker daemon and the checkout root in front of any
    ``spark.executorEnv.PYTHONPATH`` in ``extra_conf``.  Any other
    entry of ``extra_conf`` wins over these defaults.

    ``local`` runs 1 core, ``local[N]`` and ``local[N,F]`` (F allowed
    task failures) N, ``local[*]`` and ``local[*,F]`` every core this
    process may run on; the default shuffle width is twice that.
    """
    if master is None:
        master = f"local[{DEFAULT_CPUS}]"
    conf = dict(extra_conf or {})
    cpus, local = _local_conf(master, conf)
    conf.update(local)
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
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _local_conf(master: str, conf: dict) -> tuple[int, dict]:
    """The core count ``master`` runs and the conf entries only a
    ``local...`` master gets, merged with the caller's ``conf``: two
    JIT threads on the driver unless ``conf`` sets its default Java
    options, and the worker daemon with the checkout root on the
    worker path unless the package is imported from a zip.  A
    non-local master gets ``DEFAULT_CPUS`` and no entries."""
    if not master.startswith("local"):
        return DEFAULT_CPUS, {}
    cpus = DEFAULT_CPUS
    if master == "local":
        cpus = 1
    elif master.startswith("local["):
        threads = master[len("local[") : -1].split(",")[0]
        cpus = len(os.sched_getaffinity(0)) if threads == "*" else int(threads)
    java = "spark.driver.defaultJavaOptions"
    entries = {java: conf.get(java, "-XX:CICompilerCount=2")}
    package = os.path.dirname(os.path.abspath(__file__))
    if os.path.isdir(package):
        path = [os.path.dirname(package), conf.get("spark.executorEnv.PYTHONPATH")]
        entries["spark.python.daemon.module"] = "graphgen_spark.worker_daemon"
        entries["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(filter(None, path))
    return cpus, entries


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
