"""Iceberg table layout for the transcript corpus and tier warehouse.

The north_rule targets Iceberg tables at 10^12-turn scale. This sandbox
has no iceberg-spark-runtime jar (gated by
``session.is_iceberg_available``), so the engine runs on a parquet
warehouse with the identical directory layout; this module carries the
DDL the real deployment issues, and a writer that uses Iceberg when
available.

Layout rationale (100 TB):
- ``days(ts)`` hidden partitioning: retention pruning, incremental
  re-rollup, and time-scoped scans all prune at the manifest level;
- ``bucket(64, conv_id)``: per-conversation operators (turn windows,
  codec chunks, dedup survivors) scan co-located files and storage-
  partitioned joins skip the exchange entirely.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from aroma_spark.session import is_iceberg_available

TRANSCRIPTS_DDL = """
CREATE TABLE IF NOT EXISTS {catalog}.{db}.transcripts (
  conv_id  STRING NOT NULL,
  turn_idx INT    NOT NULL,
  role     STRING,
  text     STRING,
  tool     STRING,
  ts       TIMESTAMP NOT NULL
)
USING iceberg
PARTITIONED BY (days(ts), bucket(64, conv_id))
TBLPROPERTIES (
  'write.parquet.compression-codec' = 'zstd',
  'write.distribution-mode' = 'hash',
  'write.target-file-size-bytes' = '536870912'
)
""".strip()

TIER_DDL = """
CREATE TABLE IF NOT EXISTS {catalog}.{db}.rollup_{tier} (
  conv_id        STRING NOT NULL,
  bucket_ts      TIMESTAMP NOT NULL,
  n_points       BIGINT,
  sum_latency_us BIGINT,
  min_latency_us BIGINT,
  max_latency_us BIGINT,
  sum_text_len   BIGINT,
  sum_tool_calls BIGINT,
  first_ts       TIMESTAMP,
  last_ts        TIMESTAMP
)
USING iceberg
PARTITIONED BY (days(bucket_ts))
TBLPROPERTIES ('write.parquet.compression-codec' = 'zstd')
""".strip()


def ensure_tables(
    spark: SparkSession, catalog: str = "local", db: str = "aroma"
) -> bool:
    """Create the Iceberg tables when a catalog exists; else no-op.

    Returns True when Iceberg DDL was issued (the parquet-warehouse
    fallback in plans/checkpoint.py handles the False path)."""
    if not is_iceberg_available(spark):
        return False
    spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{db}")
    spark.sql(TRANSCRIPTS_DDL.format(catalog=catalog, db=db))
    for tier in ("1m", "1h", "1d"):
        spark.sql(TIER_DDL.format(catalog=catalog, db=db, tier=tier))
    return True
