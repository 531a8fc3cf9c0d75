"""Parquet table catalog helpers.

Stand-in for both the reference's S3 bronze layout (Hive-partitioned
``date=/hour=`` keys, ``producer/kafka_to_s3_bronze.py:49-54``) and its
BigQuery warehouse tables. Tables here are partitioned Parquet directories;
registering them as temp views gives the SQL surface, and Spark's partition
pruning replaces BigQuery's parameterized-predicate scan reduction
(``producer/build_fact_fee_tax.py:23-37``).

Table schemas are pinned the way a metastore pins them: the first read of
a table infers its schema (one Spark job over a parquet footer), later
reads hand that schema to the reader and run no job at all. The pin lives
in ``operators/metacache`` keyed on the table's recursive leaf-file listing
and the parquet-inference conf, so any rewrite or append re-infers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.metacache import cached_meta

#: Canonical driver test tables (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver parquet table. Column pruning and filter pushdown
    reach the scan because nothing materializes in between.

    The schema is pinned: it is inferred once (the Spark job
    ``spark.read.parquet`` runs to read a footer) and memoized in
    ``operators/metacache`` under the table path's recursive leaf-file
    listing — (path, length, mtime) of every file, nested ``date=/hour=``
    partitions included — and the ``nanosAsLong`` conf, which changes
    the inferred ``ts`` type. It is re-inferred whenever a file under the
    path is added, replaced or removed, or the conf flips; otherwise the
    read is ``spark.read.schema(pinned).parquet(path)``, which costs one
    FileSystem listing and runs no Spark job. A missing table is never
    memoized and raises Spark's own ``AnalysisException``
    (``PATH_NOT_FOUND``).

    The ``events`` table's ``ts`` column has shifted physical encodings
    across driver testdata generations, so normalize by the *actual* dtype
    read back rather than assuming one encoding:

    - ``bigint`` — TIMESTAMP(NANOS) read as LongType via the
      ``nanosAsLong`` legacy conf; rebuild TimestampType with integer
      division to micros (``ts div 1000`` — never float division, which
      would lose precision on ~1.7e18 nanosecond values).
    - ``timestamp_ntz`` — plain ``timestamp[us]`` with no zone; cast to
      the session-TZ TimestampType (session pinned to UTC below, so the
      wall-clock values are preserved and match the TZ-naive oracle).
    - ``timestamp`` — already canonical; leave alone.

    All three arrive at the identical canonical schema. Each rewrite is a
    projection over the scan, so pushdown still reaches the parquet reader.
    """
    if name == "events":
        # must be set before the scan's schema inference (harmless when the
        # file is not nanos-encoded; kept for backward compat with older
        # testdata generations)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # pin the session to UTC so the NTZ cast is wall-clock-preserving
        # and to_date/date_trunc agree with the TZ-naive oracle even if
        # the caller's session uses a different zone
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    schema = cached_meta(
        spark, path, lambda: spark.read.parquet(path).schema, ns="schema:" + nanos
    )
    df = spark.read.schema(schema).parquet(path)
    if name == "events":
        ts_dtype = dict(df.dtypes).get("ts")
        if ts_dtype == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_dtype == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_testdata(spark: SparkSession, sf_dir: str, tables=TESTDATA_TABLES) -> None:
    """Register the driver tables as temp views (idempotent).

    Routed through :func:`load_table` so a view and a DataFrame of the same
    table expose the identical schema (in particular the normalized
    ``events.ts`` type).
    """
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def append_with_schema_evolution(df: DataFrame, path: str) -> DataFrame:
    """Append allowing field addition — the warehouse-sink semantics of the
    reference's BigQuery loads (`autodetect` + `ALLOW_FIELD_ADDITION`,
    airflow/dags/ingest_binance_last_3_days.py:92-96): new columns appear,
    old rows read them as null. Returns the merged-schema view of the
    table (read with mergeSchema=true; pin the merged schema in a catalog
    for production reads so every scan doesn't pay footer-merging)."""
    df.write.mode("append").parquet(path)
    spark = df.sparkSession
    return spark.read.option("mergeSchema", "true").parquet(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    mode: str = "append",
) -> None:
    """Write a partitioned Parquet table (snappy by session default).

    Mirrors the reference's bronze layout (date=/hour= Hive keys) but derives
    the partition per-row via ``partitionBy`` — strictly more correct than the
    reference's first-record-of-batch approximation
    (``producer/kafka_to_s3_bronze.py:63-64``).
    """
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)
