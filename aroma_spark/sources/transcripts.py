"""Transcript sources.

The engine's canonical input is a table
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)`` (BASELINE.json input_hint). Two loaders:

- :func:`load_transcripts` — read a parquet transcript table.
- :func:`signals_from_events` — the one derivation from the driver's
  ``events`` stream table (event_id, ts, user_id, event_type, value,
  props): ``user_id`` is the conversation, turns are ordered by
  ``(ts, event_id)``, and the W1 signal columns ride the same window.
  :func:`transcripts_from_events` is its projection onto the transcript
  shape. This keeps every engine query DuckDB-oracle-checkable on
  shared parquet.

Analog of the reference's source scans (reference:
src/aroma/datasets/breakfast.py:459-464 PathLister -> FileFilter ->
TxtAnnotationReader), re-expressed as a Catalyst scan + projection so
filter/column pushdown reach parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

TABLES = (
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
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


INT64_MAX = (1 << 63) - 1


def _digit_prefix_ranges(prefix: str) -> list[tuple[int, int]] | None:
    """int64 ranges whose union is exactly {x >= 0 : str(x) startswith
    prefix}, for a plain decimal-digit prefix; ``None`` when the prefix
    is not digit-only (sign, letters — caller falls back to the string
    predicate). A digit prefix never matches a negative (its string
    starts with '-'), and no int64's string has a leading zero except
    "0" itself, so a prefix with a leading zero matches only x==0 for
    prefix "0" and nothing otherwise.
    """
    if not prefix or not prefix.isdigit():
        return None
    if prefix[0] == "0":
        return [(0, 0)] if prefix == "0" else []
    ranges: list[tuple[int, int]] = []
    lo, width = int(prefix), 1  # numbers of total length len(prefix)+k
    while lo <= INT64_MAX:
        ranges.append((lo, min(lo + width - 1, INT64_MAX)))
        lo, width = lo * 10, width * 10
    return ranges


def signals_from_events(
    spark: SparkSession, sf_dir: str, conv_prefix: str | None = None
) -> DataFrame:
    """Derive the canonical transcript table from ``events``, fused with
    the W1 signal columns, in ONE window pass.

    The transcript columns mirror (exactly — the DuckDB oracles depend
    on it) :data:`TRANSCRIPTS_SQL`::

        SELECT CAST(user_id AS VARCHAR)              AS conv_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,
               event_type                            AS role,
               props                                 AS text,
               CASE WHEN event_type IN ('click','purchase')
                    THEN event_type END              AS tool,
               ts
        FROM events

    The row_number is the stable-ordering rule (reference:
    src/aroma/datasets/multithumos.py:520-521 — sort by (start_time,
    action_index) with a deterministic tie-break; here (ts, event_id)).
    One shuffle on user_id; at 100 TB this is a single hash exchange that
    every downstream per-conversation operator reuses.

    The signal columns equal ``with_signals`` over the transcript
    columns (oracle-verified), but physically one Window operator
    instead of two: ``turn_idx``
    (row_number) and the W1 inter-time lag share the same
    (conv_id | ts, event_id) window spec — ordering by ``turn_idx`` is
    by construction the same total order — so Catalyst plans a single
    Exchange + a single Sort where the composed form paid a second
    full sort (conv_id, turn_idx) that re-ordered already-ordered data.

    ``text_len``/``tool_call`` are computed in the pre-window
    projection: consumers that never touch the raw ``text`` payload
    (the whole rollup lattice) let column pruning drop ``text`` below
    the exchange, so the shuffle carries an int64 instead of the
    document body — guide §2.3's "project before the exchange".

    ``conv_prefix``: conversation-id prefix predicate, applied BEFORE the
    window. A prefix filter selects whole conversations, so it commutes
    with the per-conversation window — filtering at the scan prunes
    both the read and the shuffle. For a digit-only prefix the predicate
    is rewritten into exact int64 ranges on the raw ``user_id`` column
    (``_digit_prefix_ranges``): ``StartsWith(CAST(user_id AS STRING))``
    alone cannot reach parquet row-group statistics through the cast,
    while the equivalent range union pushes as ordinary min/max
    comparisons — at 100 TB that is the difference between scanning
    every row group and touching ~1/10th of them. The string
    ``startswith`` is still applied after projection (semantic truth for
    non-digit prefixes and string-typed warehouses; redundant-but-free
    when the ranges already pruned).
    """
    ev = load_table(spark, sf_dir, "events")
    if conv_prefix is not None:
        ranges = _digit_prefix_ranges(conv_prefix)
        if ranges is not None and not isinstance(
            ev.schema["user_id"].dataType, StringType
        ):
            cond = F.lit(False)
            for lo, hi in ranges:
                cond = cond | F.col("user_id").between(lo, hi)
            ev = ev.where(cond)
    text_col = F.col("props")
    ev = ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_type").alias("role"),
        text_col.alias("text"),
        F.when(
            F.col("event_type").isin("click", "purchase"), F.col("event_type")
        ).alias("tool"),
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        F.coalesce(F.length(text_col), F.lit(0)).cast("long").alias("text_len"),
        F.when(
            F.col("event_type").isin("click", "purchase"), F.lit(1)
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("tool_call"),
    )
    # window partitioned by conv_id (not the raw user_id): Catalyst's
    # push-through-window rule moves conv_id predicates below the
    # exchange, so downstream filters prune the shuffle. NOTE they prune
    # the shuffle only, NOT parquet row groups: StartsWith lands in the
    # scan's DataFilters but the CAST(user_id AS STRING) underneath
    # blocks parquet-level pushdown — which is why conv_prefix above
    # rewrites digit prefixes into user_id ranges at the scan.
    w = Window.partitionBy("conv_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts"))
    out = ev.select(
        "conv_id",
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        "role",
        "text",
        "tool",
        "ts",
        F.coalesce(ts_us - F.lag(ts_us, 1).over(w), F.lit(0))
        .cast("long")
        .alias("inter_time_us"),
        "text_len",
        "tool_call",
    )
    if conv_prefix is not None:
        out = out.where(F.col("conv_id").startswith(conv_prefix))
    return out


def transcripts_from_events(
    spark: SparkSession, sf_dir: str, conv_prefix: str | None = None
) -> DataFrame:
    """The canonical transcript table derived from ``events``: a
    projection of :func:`signals_from_events`.

    Column pruning makes the projection free: Catalyst drops the unused
    ``lag`` window expression and the ``text_len``/``tool_call``
    projections, so the plan is one Exchange, one Sort and one Window
    holding only ``row_number`` over the same scan.
    """
    return signals_from_events(spark, sf_dir, conv_prefix).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )


# SQL fragment kept in lockstep with transcripts_from_events(); the
# oracle entries CTE-prefix their queries with it.
TRANSCRIPTS_SQL = """
SELECT CAST(user_id AS VARCHAR) AS conv_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,
       event_type AS role,
       props AS text,
       CASE WHEN event_type IN ('click','purchase') THEN event_type END AS tool,
       ts
FROM events
""".strip()


def load_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """Read a materialized transcript table (parquet warehouse layout)."""
    df = spark.read.parquet(path)
    return df.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
