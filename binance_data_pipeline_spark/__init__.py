"""binance_data_pipeline_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first rebuild of the capabilities of the reference
pipeline ``s2520758/binance-data-pipeline`` (a Binance market-data medallion
pipeline: WebSocket→Kafka→bronze Parquet, REST backfill, dbt staging/fact
models, pandas revenue job), re-expressed entirely with the PySpark
DataFrame / SQL / Structured Streaming APIs, plus the extended operator
surface a large-scale training-data pipeline needs (dedup, similarity
search, text analysis).

Layout:
    session     SparkSession factory with scale-aware defaults
    schemas     canonical StructTypes (trade envelope, bronze, rules, facts)
    catalog     parquet table registration / IO helpers
    sources/    ingest-side operators (JSON envelope parse, REST grid, CSV dim)
    operators/  relational + pipeline operators (clean, incremental, dedup,
                similarity, text, as-of join, sessionize)
    plans/      the query catalog (drives ``__spark_entry__.queries()``)
    streaming/  Structured Streaming ingest + windowed analytics
    quality     dbt-test-equivalent data-quality assertion runner
"""

__version__ = "0.1.0"
