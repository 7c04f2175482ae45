"""SparkSession factory tuned for the engine's workload shape.

Single place where scale-oriented defaults live: AQE on (runtime
coalescing + skew-join splitting), Arrow for the few pandas-UDF paths,
and a shuffle-partition count sized from the environment rather than
Spark's static default of 200 (pathological both at tiny local scale
and at 100 TB cluster scale — AQE coalesces down, but the initial
number should track cluster parallelism).

Partition discovery gets the same cap: reading more than 32 directories
(``spark.sql.sources.parallelPartitionDiscovery.threshold``), such as a
bucketed layout's 64 ``bucket_id=`` directories, lists them in a Spark
job of ``min(paths, spark.sql.sources.parallelPartitionDiscovery.parallelism)``
tasks. Spark's default of 10000 gives one task per directory; here the
parallelism is ``min(cpus, shuffle partitions)``, so every
``spark.read.parquet`` of a layout (the sinks' index re-read,
``PartitionedDataset.dataframe()`` and the loaders built on it) lists
with a job no wider than a shuffle.

Python workers fork from ``dataset_grouper_spark.worker_daemon``
(``spark.python.daemon.module``) instead of ``pyspark.daemon``. Every
task start calls ``importlib.invalidate_caches()``, and before Python
3.13 that makes each cached zipimporter re-read its whole archive
(pyspark.zip, the spark-core jar, py4j): ~200 ms CPU per task, most of
a small pandas-UDF task's cost. The daemon re-reads an archive only
when its stat key changed, so every pandas UDF, ``mapInPandas`` and
Python data-source read task skips that tax. Python data-source
*planner* processes (``pyspark.sql.worker.*``) do not start from the
daemon and still pay it. Pass ``extra_conf={"spark.python.daemon.module":
"pyspark.daemon"}`` to restore Spark's own daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dataset_grouper_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster, pass ``master=None`` and let spark-submit decide;
    locally, defaults to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing + skew-join splitting. The
        # reference has no skew handling at all (SURVEY §4) — giant
        # groups are a real risk it just truncates; AQE splits them.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # listing jobs no wider than a shuffle (see the module docstring)
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.parallelism",
            str(min(int(cpus), shuffle_partitions)),
        )
        # Arrow batches for the pandas-UDF paths (packing compat codec,
        # multimodal decode); 10-100x over row-at-a-time Python UDFs.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # let Python data sources (delta_lite) receive pushed filters
        # for file-level skipping; Spark 4.1 defaults this OFF
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # shuffle/spill codec (guide §2.3): parameterized, LOCAL
        # DEFAULT UNCHANGED (lz4) so bench numbers stay comparable
        # across rounds. On a real cluster set
        # SPARK_GRAFT_IO_CODEC=zstd: measured shuffle-bytes-written on
        # the 5 heaviest-shuffle queries drop 32-65% (r14,
        # OPTIMIZATION_r14.md table) — bytes that cross NICs at 100 TB
        # but are free on local disk, which is why local wall-clock
        # (+3-10% CPU) cannot justify flipping the default here.
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Python workers fork from this daemon (see the module docstring);
        # extra_conf may set "pyspark.daemon" back
        .config("spark.python.daemon.module", "dataset_grouper_spark.worker_daemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
