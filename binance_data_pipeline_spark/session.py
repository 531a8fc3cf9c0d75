"""SparkSession factory with scale-aware defaults.

Design notes (100 TB-minded even though tests run on ``local[32]``):

- AQE is always on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic join-strategy demotion are exactly the knobs that
  keep a 1000-executor job healthy without hand-tuning per query.
- ``spark.sql.shuffle.partitions`` defaults small locally (32) but is a
  parameter — on a real cluster you set it ~2-3× total cores and let AQE
  coalesce down.
- Arrow is enabled for the Pandas-UDF paths (similarity / TF-IDF /
  embedding kernels); everything in the hot relational path stays
  JVM-side.
- Parquet remains snappy-compressed (the reference's at-rest format,
  ``producer/kafka_to_s3_bronze.py:66``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "binance_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32) for local runs;
    on a cluster, leave it unset and submit via spark-submit.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.session.timeZone", "UTC")
        # Small dims (fee/tax rules ~10 rows) must broadcast; default 10 MB
        # threshold is fine, keep explicit for documentation.
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # local-mode: driver heap hosts all executor threads — size for the
        # 128 GiB box so multi-query sessions don't degrade into full-GC
        # churn (measured: late-bench queries slowed 10-20× at 8g)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.cleaner.periodicGC.interval", "60min")
        # Long multi-query sessions generate a unique codegen class per
        # plan; the JVM's default 240 MB code cache fills and HotSpot stops
        # JIT-compiling → whole-stage "codegen" runs interpreted (measured
        # 10-70× degradation late in a 18-query bench session).
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
