"""SparkSession factory with scale-appropriate defaults.

Single place that pins the configs the engine depends on:
- AQE on (runtime coalesce / skew handling),
- Arrow on (all Python kernels are Arrow-batched, never per-row),
- UTC session timezone (oracle parity with DuckDB's UTC-naive timestamps),
- shuffle partitions sized to cores for local mode (not the 200 default),
- driver heap at half the host's RAM, capped at 24g (``SPARK_DRIVER_MEM``
  overrides),
- Python workers forked from ``pydaemon``, which keeps PySpark's per-task
  ``invalidate_caches`` from re-reading Spark's archives on the worker path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half of physical RAM, capped at 24g: a heap larger than RAM lets the
    JVM grow into the OOM killer instead of collecting."""
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(1, min(24, int(ram_gb // 2)))}g"


def get_spark(
    cores: int | None = None,
    app_name: str = "etl_sql_duckdb_parquet__spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` → ``local[*]``.  On a real cluster this module is not
    used — ``spark-submit`` provides the session and these configs move to
    ``spark-defaults.conf``; nothing else in the engine assumes local mode.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    # SPARK_GRAFT_MASTER overrides the master URL — e.g.
    # "local-cluster[4,1,4096]" runs 4 REAL executor JVMs (separate
    # processes, cross-executor netty shuffle) on this host; used by
    # tools/scaling_bench.py --mode executors for cluster-shaped scaling
    # evidence without a cluster manager.
    master = os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cores}]"
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # zstd shuffle/spill compression: ~30% fewer shuffle bytes than
        # lz4 on token data for ~equal CPU — less DRAM/disk/network
        # pressure, which is what limits the salted encode shuffle at
        # high parallelism (measured: 1-core 21.9s vs 22.9s, 4-core
        # 7.0s vs 7.8s on the 46M-token scaling workload)
        .config("spark.io.compression.codec", "zstd")
        # throughput GC, threads bounded to the cores this session owns:
        # G1's concurrent refinement burned ~10 CPU-s per 37 CPU-s job at
        # local[4] (measured 37.1 → 27.0 total CPU-s, wall 9.9 → 7.4 s on
        # the 46M-token encode). On a cluster put the same flags in
        # spark.executor.extraJavaOptions with ParallelGCThreads =
        # executor cores.
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:+UseParallelGC -XX:ParallelGCThreads={max(2, cores)}",
        )
        # parquet min/max statistics on multi-MB binary blob columns would
        # embed truncated blob copies in every footer — cap them
        .config("spark.hadoop.parquet.statistics.truncate.length", "16")
        .config("spark.hadoop.parquet.columnindex.truncate.length", "16")
        # the worker daemon imports this package, whatever the JVM's cwd
        .config("spark.executorEnv.PYTHONPATH", repo_root)
        .config("spark.python.daemon.module", f"{__package__}.pydaemon")
    )
    if master.startswith("local-cluster"):
        # executor JVMs are separate processes: same GC policy as the driver
        builder = builder.config(
            "spark.executor.extraJavaOptions",
            "-XX:+UseParallelGC -XX:ParallelGCThreads=2",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
