"""Correctness gates: each output is checked against a DuckDB reference.

- Rollup tiers: ``reference_tiers`` recomputes each tier from the raw
  transcript parquet (distinct rows, ``lag`` per ``conv_id ORDER BY
  turn_idx``, ``GROUP BY conv_id, date_trunc``, the shape of the
  registry's ``rollup_*`` oracles); ``warehouse_tiers`` digests what the
  job wrote. Both digests (row count and sum of row hashes over
  canonical types) are computed by DuckDB.
- Codec blobs: ``warehouse_blobs`` decodes the blobs a job wrote with
  the library's decoders and digests the series; ``reference_blobs``
  digests the same series recomputed from the raw input.
- Query results: compared with their ``oracle_sql()`` twin by
  ``scripts/validate_oracle.compare``, the repo's own Spark-vs-DuckDB
  gate (see ``workloads.QueryMix``).
- Curate: stage row counts of the written job against
  ``curate_stats`` over the same documents.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa

TIER_UNITS = {"1m": "minute", "1h": "hour", "1d": "day"}

_TIER_ROW = (
    "conv_id::VARCHAR, bucket_ts::TIMESTAMP, n_points::BIGINT, "
    "sum_latency_us::BIGINT, min_latency_us::BIGINT, max_latency_us::BIGINT, "
    "sum_text_len::BIGINT, sum_tool_calls::BIGINT, first_ts::TIMESTAMP, "
    "last_ts::TIMESTAMP"
)
_BLOB_ROW = "conv_id::VARCHAR, day::DATE, seq_idx::BIGINT, ts_us::BIGINT, value::DOUBLE"


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET temp_directory='{tmp_dir}'")
    return con


def _digest(con: duckdb.DuckDBPyConnection, rows_sql: str, row: str = _TIER_ROW) -> str:
    n, h = con.execute(
        f"SELECT count(*), COALESCE(sum(hash({row})::HUGEINT), 0)::VARCHAR FROM ({rows_sql})"
    ).fetchone()
    return f"{n}:{h}"


def _signals_sql(transcripts: str) -> str:
    """The pipeline's signal frame over the raw input, in DuckDB."""
    return f"""WITH t AS (
  SELECT DISTINCT conv_id, turn_idx, role, text, tool, ts::TIMESTAMP AS ts
  FROM read_parquet('{transcripts}'))
SELECT conv_id, turn_idx, ts,
       COALESCE(epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY conv_id ORDER BY turn_idx), 0) AS it,
       CAST(COALESCE(length(text), 0) AS BIGINT) AS tl,
       CASE WHEN tool IS NOT NULL AND tool <> '' THEN 1 ELSE 0 END AS tc
FROM t"""


def reference_tiers(con: duckdb.DuckDBPyConnection, transcripts: str) -> dict[str, str]:
    """Tier digests recomputed from the raw transcript parquet glob."""
    return {
        tier: _digest(
            con,
            f"""SELECT conv_id, date_trunc('{unit}', ts) AS bucket_ts, count(*) AS n_points,
       sum(it) AS sum_latency_us, min(it) AS min_latency_us, max(it) AS max_latency_us,
       sum(tl) AS sum_text_len, sum(tc) AS sum_tool_calls,
       min(ts) AS first_ts, max(ts) AS last_ts
FROM ({_signals_sql(transcripts)}) GROUP BY ALL""",
        )
        for tier, unit in TIER_UNITS.items()
    }


def warehouse_tiers(con: duckdb.DuckDBPyConnection, root: str) -> dict[str, str]:
    """Digests of the tier parquet a rollup job left under ``root``."""
    return {
        tier: _digest(
            con,
            f"SELECT * FROM read_parquet('{root}/tier={tier}/*/*.parquet', "
            "hive_partitioning = false)",
        )
        for tier in TIER_UNITS
    }


def reference_blobs(con: duckdb.DuckDBPyConnection, transcripts: str) -> str:
    """Digest of the series the codec branch encodes: per (conv_id, day),
    ts and inter_time_us in turn order."""
    return _digest(
        con,
        f"""SELECT conv_id, ts::DATE AS day,
       row_number() OVER (PARTITION BY conv_id, ts::DATE ORDER BY turn_idx) - 1 AS seq_idx,
       epoch_us(ts) AS ts_us, it AS value
FROM ({_signals_sql(transcripts)})""",
        _BLOB_ROW,
    )


def warehouse_blobs(con: duckdb.DuckDBPyConnection, root: str) -> str:
    """Digest of the blobs under ``root/blobs``, decoded with the
    library's own decoders."""
    from aroma_spark.functions.codecs import decode_dod_many, decode_gorilla_many

    blobs = con.execute(
        f"SELECT conv_id, day, n, ts_blob, val_blob FROM read_parquet('{root}/blobs/*.parquet')"
    ).arrow()
    ts = decode_dod_many(blobs.column("ts_blob").to_pylist())
    vals = decode_gorilla_many(blobs.column("val_blob").to_pylist())
    ns = np.array([len(t) for t in ts], dtype=np.int64)
    if not np.array_equal(ns, blobs.column("n").to_numpy()) or ns.tolist() != [len(v) for v in vals]:
        return "blob lengths differ from their n column"
    decoded = pa.table(
        {
            "conv_id": np.repeat(blobs.column("conv_id").to_numpy(zero_copy_only=False), ns),
            "day": np.repeat(blobs.column("day").to_numpy(zero_copy_only=False), ns),
            "seq_idx": np.concatenate([np.arange(n, dtype=np.int64) for n in ns]),
            "ts_us": np.concatenate(ts),
            "value": np.concatenate(vals),
        }
    )
    con.register("decoded_blobs", decoded)
    try:
        return _digest(con, "SELECT * FROM decoded_blobs", _BLOB_ROW)
    finally:
        con.unregister("decoded_blobs")


def curate_written(con: duckdb.DuckDBPyConnection, out_root: str, metrics: dict) -> dict[str, int]:
    """The same counts from a ``curate_corpus`` run: its stage metrics,
    with ``packed`` counted as distinct bins of the written stage."""
    got = {s: int(m["rows"]) for s, m in metrics.items()}
    got["packed"] = con.execute(
        "SELECT count(DISTINCT (bucket, bin_idx)) FROM "
        f"read_parquet('{out_root}/stage=packed/*.parquet')"
    ).fetchone()[0]
    return got
