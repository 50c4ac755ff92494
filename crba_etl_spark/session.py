"""SparkSession builder tuned for the CDC apply workload.

Defaults are scale-aware: AQE on (runtime shuffle coalescing + skew-join
splitting), Arrow on (vectorized pandas-UDF transfer), shuffle partitions
sized to cores in local mode (on a real cluster this should be
2-3x total executor cores; AQE coalesces down from there).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "crba_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with scale-appropriate defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]).
    ``shuffle_partitions`` defaults to the local parallelism so a shuffle
    produces one partition per core; AQE may coalesce further at runtime.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = os.cpu_count() if inner == "*" else int(inner)
        else:
            shuffle_partitions = 200

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # generated fixtures + driver testdata carry tz-naive parquet
        # timestamps; read them as TIMESTAMP (UTC session) not ntz, so
        # schemas stay stable across writers (pyarrow/DuckDB/Spark)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # every action's SparkListenerSQLExecutionStart carries a plan
        # DESCRIPTION string built by QueryExecution.explainString even
        # with the UI off; for deep composed plans (cached relations
        # print their full child plan at every reference) the default
        # ~2 GB cap let that string grow to hundreds of MB and the
        # single-threaded build dominated the driver (observed: 540 s of
        # StringConcat in one epoch apply). 2 MB is far above any plan
        # the plan-assertion tests inspect, and bounds the cost.
        .config("spark.sql.maxPlanStringLength", "2097152")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        # codegen-heavy workloads outgrow the JVM's default 240 MB JIT
        # code cache: measured here, sustained replay throughput
        # collapsed 2.5x ~35s into every run (latest epochs of each
        # bench) once the cache filled and compilation degraded; 512 MB
        # removes it entirely (defaultJavaOptions so user
        # extraJavaOptions still compose)
        .config(
            "spark.driver.defaultJavaOptions", "-XX:ReservedCodeCacheSize=512m"
        )
        # parquet scan parallelism: keep file-split sizing at default 128M;
        # our tables are written with many small files at test SF, so cap
        # the open cost so splits coalesce.
        .config("spark.sql.files.openCostInBytes", "1048576")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
