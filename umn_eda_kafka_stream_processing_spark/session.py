"""SparkSession factory.

Defaults are chosen for the two deployment shapes this engine targets:

* local[N] single-JVM testing (what CI and the driver run), and
* a large multi-executor cluster reading ~100 TB — every default that
  matters at scale (AQE, skew-join handling, partition sizing,
  broadcast threshold) is set here rather than hard-coded in
  operators, so cluster deployments can override via --conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "umn_eda_kafka_stream_processing_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    ``master``/``shuffle_partitions`` default from the environment:
    ``SPARK_GRAFT_CPUS`` (driver contract) sets local parallelism.
    On a real cluster, pass ``master=None`` with ``spark.master`` set
    externally; nothing here assumes single-node.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # local mode: match cores. Cluster mode: AQE coalesces from a
        # high initial number, so this is a safe floor either way.
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime re-planning — coalesce small shuffle partitions,
        # convert to broadcast joins when a side turns out small, and
        # split skewed partitions. Essential at 100 TB where static
        # planning guesses wrong.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Dimension tables (nation/region/supplier/part at any SF;
        # artists/venues/events in the reference domain) stay far under
        # this; fact-fact joins stay sort-merge.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Arrow for all pandas interchange (Pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # 128 MB input splits: good parquet scan granularity both
        # locally and on a cluster.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _put_package_on_worker_path(spark.sparkContext)
    return spark


def _put_package_on_worker_path(sc) -> None:
    """Prepend this package's parent directory to the Python workers'
    PYTHONPATH. The package is not installed, and a worker otherwise
    imports it only through its working directory, so UDFs that
    import it fail when the driver runs from any other directory.
    ``sc.environment`` is what every Python UDF ships to its workers,
    so this also covers a session that already existed."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in sc.environment.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in paths:
        sc.environment["PYTHONPATH"] = os.pathsep.join([root, *paths])
