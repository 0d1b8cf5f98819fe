"""Deterministic synthetic transcript generation — fully distributed.

Replaces the reference's downloaded corpora (Breakfast/MultiTHUMOS/
neurawkes archives, reference: src/aroma/datasets/breakfast.py:193-223,
multithumos.py:244-295) with an in-engine seeded generator, since
BASELINE.json forbids external data. Everything is derived from
``spark.range`` row ids through ``xxhash64`` — no driver-side loops, no
Python RNG — so the same (seed, n_turns) produces bit-identical tables at
any parallelism and any scale (10^12 rows is just a bigger range).

Shape knobs mirror the fixture requirements (FIXTURES.md §1): Zipf-ish
hot-conversation skew, irregular inter-arrival gaps including >1h holes,
exact-duplicate rows, NULL/empty ``tool``, ``ts`` ties, single-turn
conversations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ROLES = ("user", "assistant", "system", "tool")


def synth_transcripts(
    spark: SparkSession,
    n_turns: int = 100_000,
    n_convs: int = 1_000,
    seed: int = 42,
    start_ts: str = "2024-01-01 00:00:00",
    dup_frac_mod: int = 50,
    partitions: int | None = None,
    gap_divisor: int = 1,
) -> DataFrame:
    """Seeded transcript table ``(conv_id, turn_idx, role, text, tool, ts)``.

    Skew: conversation assignment uses u^3 over the id-hash, so low
    conv ids are "hot" (a few conversations hold a large share of turns —
    the long-sequence skew visible in the reference corpus shapes, 25 vs
    1235 events: reference src/aroma/datasets/breakfast.py:172 vs
    multithumos.py:103).

    Gaps: integer microsecond increments with a heavy tail (occasional
    multi-hour holes) so 1m/1h buckets can be empty and gap-fill is
    exercised. ``ts`` is a per-conversation running sum (window cumsum —
    one shuffle, scales linearly).
    """
    df = spark.range(0, n_turns, 1, partitions or spark.sparkContext.defaultParallelism)
    h = F.abs(F.xxhash64(F.col("id"), F.lit(seed)))
    u = (h % 1_000_000) / 1_000_000.0  # uniform [0,1), deterministic

    df = df.select(
        F.col("id"),
        h.alias("h"),
        # u^3 -> Zipf-ish skew toward low conversation ids
        F.least(
            F.lit(n_convs - 1), F.floor(F.pow(u, F.lit(3.0)) * n_convs).cast("long")
        ).alias("conv_num"),
    )
    h2 = F.abs(F.xxhash64(F.col("h"), F.lit(seed + 1)))
    # base gap 1-120s; every 97th turn adds a >1h hole; every 31st is a 0-gap tie
    # gap_divisor > 1 compresses the corpus time-span (denser traffic,
    # fewer day partitions) without changing any other property.
    gap_us = (
        (
            F.when(F.col("h") % 31 == 0, F.lit(0))
            .when(F.col("h") % 97 == 0, (F.lit(3_600) + h2 % 7_200) * 1_000_000)
            .otherwise((F.lit(1) + h2 % 120) * 1_000_000 + h2 % 999_983)
        )
        / gap_divisor
    ).cast("long")

    from pyspark.sql import Window

    w = Window.partitionBy("conv_num").orderBy("id")
    df = df.select(
        "id",
        "h",
        "conv_num",
        F.sum(gap_us).over(w).alias("ofs_us"),
        (F.row_number().over(w) - 1).alias("turn_idx"),
    )

    role = F.element_at(
        F.array(*[F.lit(r) for r in ROLES]),
        # weight user/assistant heavier: 0,1,0,1,2,0,1,3 pattern
        (F.element_at(
            F.array(*[F.lit(i) for i in (0, 1, 0, 1, 2, 0, 1, 3)]),
            (F.col("h") % 8 + 1).cast("int"),
        ) + 1).cast("int"),
    )
    n_words = (F.col("h") % 37 + 1).cast("int")
    word = F.concat(F.lit("tok"), (F.abs(F.xxhash64("h", F.lit(seed + 2))) % 5000))
    text = F.concat_ws(" ", F.array_repeat(word, n_words))
    tool = F.when(
        (F.col("h") % 5 == 0) & (role == "tool"),
        F.concat(F.lit("fn_"), (F.col("h") % 20)),
    ).otherwise(F.lit(None).cast("string"))

    out = df.select(
        F.concat(F.lit("c"), F.lpad(F.col("conv_num").cast("string"), 6, "0")).alias(
            "conv_id"
        ),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        F.timestamp_micros(
            F.unix_micros(F.to_timestamp(F.lit(start_ts))) + F.col("ofs_us")
        ).alias("ts"),
        F.col("h"),
    )
    # exact-duplicate injection (dedup fixture, reference
    # src/aroma/datasets/breakfast.py:597-618): re-emit a deterministic
    # subset of full rows verbatim.
    dups = out.where(F.col("h") % dup_frac_mod == 0)
    return out.unionAll(dups).drop("h")
