"""SparkSession factory tuned for this engine.

Local mode is the sandbox stand-in for a multi-executor cluster: we design
for partition-parallel execution (AQE, skew-join handling, Arrow batching)
and verify scaling by running the same job at N and 4N cores (``perfbench``
at ``SPARK_GRAFT_CPUS=N`` and ``=4N``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "arroyo_spark",
    cores: int | str = "*",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` maps to ``local[cores]``; shuffle partitions default to the
    core count (never the 200 default — wrong at both tiny and huge scale;
    on a real cluster this would be sized to ~2-3x total executor cores).
    """
    if shuffle_partitions is None:
        shuffle_partitions = cores if isinstance(cores, int) else os.cpu_count() or 32

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # INT96 (the legacy default) writes NO min/max statistics, so a
        # ts-clustered table cannot prune row groups and ts pushdown dies
        # at the scan. MICROS is the modern annotated type: full stats,
        # full pushdown, exact under the UTC session contract.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local mode = single JVM: the driver heap IS the executor heap.
        # 16g measured best on this box: the same streaming job at local[32]
        # ran 31.8s with 16g vs 206s with 64g (oversized G1 heap collapses
        # under 32 threads + state store); undersized heaps GC-thrash
        # large cached datasets instead — size to the working set.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # checkpoint renames through FileSystem.rename, not the default
        # FileContext manager: without Hadoop's native library, FileContext
        # on the local file system forks a `readlink` process per rename
        # (every state delta, checksum sidecar, offsets/commits/source log
        # entry). JFR jdk.ProcessStart over a perfbench flagship run
        # (4 cores): 1,856 of 2,616 process starts were readlink, and 0
        # with this manager. Same file format; a second writer of a log
        # entry is still refused. An overwrite is best effort, as Spark's
        # contract allows: the Spark distribution's `file` scheme (Hive's
        # ProxyLocalFileSystem) keeps an existing file, as HDFS does.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
