"""SparkSession factory with scale-aware defaults.

Design notes (100 TB-minded even though tests run on a host-sized
``local[N]``):

- AQE is always on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic join-strategy demotion are exactly the knobs that
  keep a 1000-executor job healthy without hand-tuning per query.
- ``spark.sql.shuffle.partitions`` defaults locally to the core count but
  is a parameter — on a real cluster you set it ~2-3× total cores and let
  AQE coalesce down.
- Local cores and driver heap follow the host (``local_cores``,
  ``driver_memory``); ``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEMORY``
  override them.
- Arrow is enabled for the Pandas-UDF paths (similarity / TF-IDF /
  embedding kernels); everything in the hot relational path stays
  JVM-side.
- Parquet remains snappy-compressed (the reference's at-rest format,
  ``producer/kafka_to_s3_bronze.py:66``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

MEMINFO = "/proc/meminfo"
#: Bounds of the host-sized driver heap. Spark refuses a heap below ~470 MB;
#: the cap keeps big hosts at the 16g long multi-query sessions were sized for.
MIN_DRIVER_MEMORY_MB = 1024
MAX_DRIVER_MEMORY_MB = 16 * 1024
#: Generated classes Spark's JVM-wide codegen cache keeps (its default is
#: 100). One medallion pass generates ~300 distinct classes and the
#: extended catalog (``plans.extended_queries``) 944, so at 100 every class
#: was evicted before its query ran again: each warm medallion pass
#: recompiled 286-309 classes with Janino, and the catalog's second pass
#: 944, each then loaded and JIT-compiled anew. At 2048 (~2x the catalog)
#: a warm medallion pass compiles 8-10 and the catalog's second pass 28,
#: in 24.1 s instead of 29.3 s, and metaspace grows less (4-core host,
#: counted by ``CodegenMetrics.METRIC_COMPILATION_TIME``).
CODEGEN_CACHE_ENTRIES = 2048


def local_cores() -> int:
    """Cores of a local session and its default shuffle partitions:
    ``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def driver_memory() -> str:
    """``spark.driver.memory``: ``$SPARK_DRIVER_MEMORY``, else half the
    host's available memory (``MemAvailable``), kept within
    [MIN_DRIVER_MEMORY_MB, MAX_DRIVER_MEMORY_MB]. In local mode this heap
    also hosts every executor thread."""
    override = os.environ.get("SPARK_DRIVER_MEMORY")
    if override:
        return override
    mb = MAX_DRIVER_MEMORY_MB
    with open(MEMINFO) as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                mb = min(max(int(line.split()[1]) // 2048, MIN_DRIVER_MEMORY_MB),
                         MAX_DRIVER_MEMORY_MB)
                break
    return f"{mb}m"


def get_spark(
    app_name: str = "binance_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[local_cores()]`` for local runs; on a
    cluster, leave it unset and submit via spark-submit.
    """
    cpus = local_cores()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.session.timeZone", "UTC")
        # Small dims (fee/tax rules ~10 rows) must broadcast; default 10 MB
        # threshold is fine, keep explicit for documentation.
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.driver.memory", driver_memory())
        .config("spark.cleaner.periodicGC.interval", "60min")
        # Static and JVM-wide: it takes effect only in the first session of
        # the process, which every entry point starts here.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Long multi-query sessions overflowed the JVM's default 240 MB code
        # cache, after which HotSpot stops JIT-compiling and whole-stage
        # "codegen" runs interpreted (measured 10-70× degradation late in an
        # 18-query bench session). The cause was Spark's 100-entry codegen
        # cache: evicted generated classes were recompiled and loaded again,
        # and each reload was JIT-compiled into the code cache anew.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=2g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.ui.enabled", "false")
    )
    # Parallel test shards (scripts/par_suite.py) give each worker its own
    # warehouse so saveAsTable targets never collide; unset = Spark default
    # (./spark-warehouse), which single-process runs keep.
    wh = os.environ.get("SPARK_WAREHOUSE_DIR")
    if wh:
        builder = builder.config("spark.sql.warehouse.dir", wh)
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def local_rows(spark: SparkSession, rows, schema):
    """Single-partition DataFrame from a driver-local row list — the
    right way to write tiny metadata files (manifests, index meta,
    codebooks) as ONE parquet part.

    The obvious spelling, ``createDataFrame(rows).coalesce(1)``, is a
    performance trap: createDataFrame parallelizes the list into
    defaultParallelism Python partitions, and a no-shuffle coalesce(1)
    computes ALL of them SEQUENTIALLY inside one task — on local[32]
    that is 32 serialized Python-worker round trips, measured ~5 s per
    write for a one-row manifest (round 10; it dominated the snapshot
    commit loop at 75% of per-commit wall). Parallelizing to ONE
    partition up front keeps the single-output-file property at exactly
    one worker round trip (~0.35 s warm)."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )
