"""SparkSession factory tuned for the engine.

Scale notes (100 TB / 1000-executor design):
- AQE on: runtime coalescing + skew-join splitting cover most shuffle
  sizing, and the bucket rewrites size their one exchange by column so
  AQE's coalescing sets their task count. AQE does not rebalance the
  shuffle feeding a MERGE inside ``foreachBatch``: a delta merge's hot
  keys collapse in the winner aggregation's map-side partial
  aggregation, before its key exchange; a COW merge's exchange is on
  ``_bucket``, so a hot key's duplicate deliveries cross it and
  collapse in the partial aggregation after it (see
  ``LakeTable._winner_per_key`` and ``_bucket_winners``).
- ``spark.sql.shuffle.partitions`` defaults to the local core count in
  the sandbox; on a real cluster it should be ~2-3x total cores and is
  left overridable via env.
- Arrow execution enabled: every Python-side kernel in this repo is an
  Arrow-vectorized pandas UDF (no per-row Python), per BASELINE.json.
- Every Python UDF task pays a fixed cost, so fewer, larger tasks are
  cheaper. Most of it was PySpark's per-task
  ``importlib.invalidate_caches()``, which before CPython 3.13 re-reads
  every zip archive on the worker's import path (``pyspark.zip``, the
  spark-core jar): ~0.17 CPU-s per task. Importing the package installs
  a stat-checked re-read (``dist.py``); ~0.12 CPU-s per task remains on
  a 4-core VM, two thirds of it in the JVM.
- PySpark's DataFrame debugging is off: with it on, every DataFrame and
  Column API call captures the Python call stack and makes about five
  extra driver-to-JVM round trips to record it. A commit builds its
  plan from hundreds of such calls, so this is per-commit fixed cost;
  error messages lose only the Python line of the failing expression.
- Parallel file listing starts at 1024 paths, not Spark's 32: the lake
  reads explicit data-file lists from its manifests, and above the
  threshold Spark spends a whole listing job (~0.4 s locally) on
  stat-ing them before every read. On an object store, where a driver
  stat is a remote call, pass a lower value through ``extra_conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "clinical_trials_etl_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores``: parallelism for local mode (the bench harness passes 8
    vs 32 to evidence the two-cluster-size scaling criterion).
    """
    cores = str(cores or DEFAULT_CPUS)
    shuffle_partitions = int(shuffle_partitions or cores)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                "1024")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # INT96 timestamps carry no parquet min/max statistics (their
        # ordering is undefined by the spec); TIMESTAMP_MICROS restores
        # footer stats, which the lake's manifest-level file skipping
        # reads (lake/table.py::_parquet_footer)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
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
