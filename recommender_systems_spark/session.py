"""SparkSession construction.

One builder for the whole engine. Defaults are chosen for correctness at
100 TB scale first, local[N] testing second:

- AQE on (dynamic shuffle-partition coalescing, skew-join splitting,
  runtime broadcast demotion/promotion). MovieLens-style workloads are
  power-law skewed (reference README.md:21), so skew handling is not
  optional.
- Arrow enabled for every pandas boundary (Pandas UDFs, toPandas).
- Explicit UTC session timezone so timestamp semantics match the DuckDB
  oracle.
- ``spark.sql.shuffle.partitions`` is a *starting* value; AQE coalesces
  down. On a real cluster this should be ~2-3x total cores; callers can
  override via env.
- Local masters run Python workers under ``pydaemon``, PySpark's daemon
  with one rule added: a worker re-reads a zip archive's directory only
  when the file changed. Without it every Python task (pandas UDF
  solves, SGD partitions, fold-in) spends about 0.25 s of CPU re-parsing
  the ~27k directory entries of pyspark.zip, the spark-core jar and
  py4j. The daemon module is imported from the directory that holds this
  package (``spark.executorEnv.PYTHONPATH``), which local executors share
  with the driver. Cluster executors may not have the package on their
  path when the daemon starts, so other masters keep PySpark's daemon.
- SQL Python UDF errors keep their full tracebacks. Spark starts one
  worker daemon per distinct worker environment, and the
  simplified-traceback flag is the one variable in which SQL UDF
  workers differ from RDD workers (the read of a ``createDataFrame``
  list, ``rdd.map``). With it off both share one daemon, so the first
  RDD job of a process does not start a second one (about 1.3 s on 4
  cores; a cold-start request's first history read).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def worker_conf(master: str) -> dict[str, str]:
    """Python-worker settings for ``master``: the ``pydaemon`` daemon for
    local masters, nothing for any other."""
    if master != "local" and not master.startswith("local["):
        return {}
    return {
        "spark.python.daemon.module": "recommender_systems_spark.pydaemon",
        "spark.executorEnv.PYTHONPATH": _PKG_PARENT,
    }


def get_spark(
    app_name: str = "recommender_systems_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback
    ``local[*]``) so the same entry points run unchanged on a cluster,
    where ``master`` is supplied by spark-submit and this arg is None
    but the builder's existing conf wins.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    for k, v in {**worker_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
