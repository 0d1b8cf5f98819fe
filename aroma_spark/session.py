"""SparkSession factory tuned for the rollup engine.

Defaults are sized for the sandbox (local[N], 32 cores) but every knob is
the one you would set on a 1000-executor cluster too: AQE on (runtime
re-planning + skew-join splitting), Arrow on (vectorized Python exchange),
UTC session timezone (parity with the DuckDB oracle and any cross-engine
consumer), shuffle partitions ~ cores locally (on a cluster: 2-3x total
cores, or let AQE coalesce).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "aroma_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32 in the
    sandbox). On a real cluster you pass ``--master yarn``/k8s via
    spark-submit and leave ``master=None`` here.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core avoids both
        # under-parallelism and 200-partition tiny-task overhead.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if n in ("", "*") else int(n)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        # parquet files written by other engines (duckdb) carry NTZ
        # timestamps; with a UTC session, reading them as TIMESTAMP is
        # value-identical and keeps unix_micros()/date_trunc() applicable.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # local mode runs every executor thread in the driver JVM: size the
        # heap for the machine (GC pressure at 8g measurably serialized
        # 32-core shuffles; 48g restored 2x+ scaling in the dedup stage).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # commit each task's files without the serial driver-side rename
        # pass (v1); day-partitioned tier writes touch ~10^3 files.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()

