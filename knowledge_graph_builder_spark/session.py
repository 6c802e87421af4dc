"""SparkSession factory with the scale-oriented defaults the pipeline
assumes: AQE (with skew-join splitting), Arrow transfer for the extraction
kernel, and shuffle partitions sized to the local core count.

On a real cluster the same settings apply; only master/memory change
(driven by spark-submit, whose settings win over these defaults).
Nothing here is local-mode-specific logic.

Python workers fork from the package's own daemon (``daemon.py``,
``WORKER_DAEMON``), which stops every task from re-reading unchanged zip
archives. ``get_spark`` selects it only when it starts the JVM itself and
the workers can import the package (it is in the working directory, on
``PYTHONPATH`` or in site-packages). Under a launcher (spark-submit with
``--py-files``) the daemon process cannot import the package, so
pyspark's own daemon stays. An explicit ``extra_conf`` value wins.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

WORKER_DAEMON = {"spark.python.daemon.module": f"{__package__}.daemon"}


def _launcher_conf() -> set[str] | None:
    """Keys a launcher (spark-submit, the pyspark shell) already set in
    the JVM this process joined; None when pyspark starts its own JVM."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:  # pyspark/java_gateway.py
        return None
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()
    return {k for k, _ in SparkConf().getAll()}


def _workers_import_package() -> bool:
    """Whether a Python worker finds this package: ``python -m`` puts the
    working directory first on its path, then PYTHONPATH, site-packages."""
    root = os.path.realpath(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep), *site.getsitepackages()]
    return any(p and os.path.realpath(p) == root for p in paths)


def get_spark(
    app_name: str = "knowledge_graph_builder_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    defaults = {
        "spark.master": os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus or '*'}]",
        "spark.sql.shuffle.partitions": cpus if cpus and cpus.isdigit() else "32",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    }
    # under spark-submit the launcher's master and conf win over these
    # defaults; explicit arguments still win over both
    preset = _launcher_conf()
    if preset is None and _workers_import_package():
        defaults.update(WORKER_DAEMON)
    conf = {k: v for k, v in defaults.items() if k not in (preset or ())}
    # The zero-shuffle pipeline (a conv_id-bucketed transcripts table
    # read at as many kernel partitions as buckets, so Spark drops the
    # extraction repartition) depends on Spark honoring the bucketed
    # layout. Once the Exchange is gone, Spark 4.x's
    # DisableUnnecessaryBucketedScan rule demotes the bucketed scan
    # because no remaining operator *requires* the distribution: the
    # kernel consumes co-location as a data-layout precondition
    # invisible to the planner. A demoted scan re-splits files by size
    # and silently breaks conversation co-location at production file
    # sizes, so the optimization stays off; extract_from_transcripts
    # pins it in sessions built elsewhere.
    conf["spark.sql.sources.bucketing.autoBucketedScan.enabled"] = "false"
    if master:
        conf["spark.master"] = master
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.update(extra_conf or {})

    spark = SparkSession.builder.appName(app_name).config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def health_check(spark: SparkSession) -> dict:
    """Q4 — connectivity probe (reference main.py:47-62): one trivial job
    proves the session schedules and executes."""
    n = spark.range(1).count()
    return {
        "status": "healthy" if n == 1 else "unhealthy",
        "spark_version": spark.version,
        "default_parallelism": spark.sparkContext.defaultParallelism,
    }
