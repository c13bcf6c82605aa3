"""SparkSession factory with scale-oriented defaults.

The reference runs on one JVM thread (Application.scala:30-40); here every
knob is chosen for a multi-executor cluster and merely *tested* on
``local[N]``:

- AQE on (runtime partition coalescing + skew-join splitting), because the
  transcript workload has mega-conversations and hot entities
  (BASELINE.json north_rule).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE's coalescing makes the initial number non-critical.
- Arrow enabled for the vectorized pandas-UDF extraction stage.
- Session timezone pinned to UTC so results compare bit-for-bit against
  the DuckDB oracle (DuckDB timestamps are UTC-naive).
- Every Parquet file the engine writes is zstd-compressed with v2 data
  pages, decided here and nowhere else: the graph sink, stage
  checkpoints, lineage/metrics and analytics outputs all inherit it.
  ``kg_build`` writes 0.31 bytes per input byte with the graph sink's
  key-sorted files (``plans/graph_sink.py``). The encoding alone was
  measured on the hash-spread files the sink wrote before: 0.89 bytes
  per input byte instead of 1.92 with snappy v1 pages; v2 prefix-codes
  the string ids (DELTA_BYTE_ARRAY). Spark, pyarrow and DuckDB read
  the files back.
- Generated classes are reused across ops. A cold build + writes
  compiles ~150 classes, and Spark's cache is 4 LRU segments of a
  quarter of ``spark.sql.codegen.cache.maxEntries`` each: at its
  default of 100 every repeat of the op recompiled ~165 classes, at 200
  about 40, at ``CODEGEN_CACHE_ENTRIES`` none. Class names carry no
  codegen stage id: AQE numbers stages in the order it plans them,
  which depends on timing, so the same code under a new number missed
  the cache (2-10 compiles per repeat).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP = "gfftoneo4j-spark"
CODEGEN_CACHE_ENTRIES = 250


def get_spark(
    app: str = DEFAULT_APP,
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) or 32.
    In local mode one JVM hosts everything, so ``spark.driver.memory``
    is the only memory knob; it must be set before the JVM starts and is
    therefore configurable via $SPARK_GRAFT_DRIVER_MEM only.
    """
    cpus = cpus if cpus is not None else os.environ.get("SPARK_GRAFT_CPUS", "32")
    n = int(cpus)
    shuffle = shuffle_partitions if shuffle_partitions is not None else max(n, 8)
    # Shuffle/spill dir: a cluster executor writes shuffle blocks to its
    # own local NVMe; in this single-VM sandbox /tmp is one virtio disk
    # that serializes 32 concurrent shuffle writers. tmpfs (/dev/shm) is
    # the faithful local stand-in. Overridable via SPARK_GRAFT_LOCAL_DIR.
    local_dir = os.environ.get(
        "SPARK_GRAFT_LOCAL_DIR",
        "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else None,
    )
    # master override: `local-cluster[W,C,M]` runs W separate executor
    # JVMs with C cores each — the faithful local stand-in for a real
    # cluster (one 32-thread JVM is NOT: allocator/GC contention caps a
    # single JVM well below 32 cores; production executors are 4-8 cores
    # for the same reason).
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{n}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.hadoop.parquet.writer.version", "v2")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
