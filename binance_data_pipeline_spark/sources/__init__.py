"""Ingest-side operators.

json_envelope   parse/flatten the Binance combined-stream envelope (P1-P3)
rest_backfill   REST fetch-grid batch source (S5), fetcher injected
csv_rules       fee/tax rules dimension from CSV (S9)
kafka_wire      Kafka wire-protocol socket harness (S2/S3 runtime leg)
snapshot_source format("snapshot_table") DataSource: batch + streaming reads of snapshot tables
"""
