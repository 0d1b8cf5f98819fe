"""Vocabulary as a broadcast dimension table.

The reference's ``Vocabulary`` (token<->index bijection over a Counter;
reference: src/aroma/utils/vocab.py:22-35) becomes a small DataFrame
``(token, count, index)``; encoding is a broadcast hash join instead of a
per-token dict lookup (reference: src/aroma/datasets/breakfast.py:713-719).

Ordering semantics pinned by the reference's tests:

- sort_by_count: count DESC, ties broken by token DESC (``reverse=True``
  over the tuple — reference: src/aroma/utils/vocab.py:289-327; tie
  behavior asserted in tests/unit/utils/test_vocab.py:142-148);
- sort_by_token: lexicographic ASC (vocab.py:329-354);
- most_common(k): count DESC (vocab.py:356-381) — here with an explicit
  token tie-break for distributed determinism;
- add/sub: Counter + / - ; sub drops tokens with count <= 0
  (vocab.py:236-287).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def build_vocab(
    df: DataFrame, token_col: str, order: str = "count"
) -> DataFrame:
    """(token, count, index) from a token column.

    ``order='count'``: count desc, token desc (reference sort_by_count);
    ``order='token'``: token asc (reference sort_by_token).

    The groupBy is a full-shuffle hash agg with map-side partials (cheap:
    cardinality = vocab size). The row_number window is a single-partition
    sort over the *vocabulary*, not the data — fine for dims up to ~10^7.
    """
    counts = (
        df.where(F.col(token_col).isNotNull())
        .groupBy(F.col(token_col).alias("token"))
        .agg(F.count(F.lit(1)).cast("long").alias("count"))
    )
    if order == "count":
        w = Window.orderBy(F.desc("count"), F.desc("token"))
    elif order == "token":
        w = Window.orderBy(F.asc("token"))
    else:
        raise ValueError(f"unknown vocab order: {order!r}")
    return counts.select(
        "token", "count", (F.row_number().over(w) - 1).cast("long").alias("index")
    )


def encode_tokens(
    df: DataFrame,
    vocab: DataFrame,
    token_col: str,
    missing_index: int = -1,
    on_unseen: str = "missing",
) -> DataFrame:
    """Broadcast-join encode: token -> index, in ``<token_col>_index``.

    The reference raises KeyError on unseen tokens (src/aroma/utils/
    vocab.py:75-98, pinned by tests/unit/utils/test_vocab.py); a
    distributed engine cannot raise per-row, so:

    - ``on_unseen='missing'`` (default): unseen tokens map to
      ``missing_index`` (the reference's own missing constant -1,
      src/aroma/datasets/breakfast.py:64) via a left join + coalesce;
    - ``on_unseen='error'``: the reference's strict contract — an eager
      limit-1 probe for join misses raises KeyError naming sample
      unseen tokens. Costs one extra (cheap, broadcast-join) job.
    """
    if on_unseen not in ("missing", "error"):
        raise ValueError(f"unknown on_unseen mode: {on_unseen!r}")
    index_col = f"{token_col}_index"
    dim = vocab.select(
        F.col("token").alias(token_col), F.col("index").alias(index_col)
    )
    out = df.join(F.broadcast(dim), on=token_col, how="left")
    if on_unseen == "error":
        unseen = [
            r[0]
            for r in out.where(F.col(index_col).isNull())
            .select(token_col)
            .distinct()
            .limit(5)
            .collect()
        ]
        if unseen:
            raise KeyError(
                f"tokens not in vocabulary (on_unseen='error'): {unseen}"
            )
    return out.withColumn(
        index_col, F.coalesce(F.col(index_col), F.lit(missing_index)).cast("long")
    )


def top_k_tokens(vocab: DataFrame, k: int) -> DataFrame:
    """most_common(k): count desc, token desc tie-break (deterministic)."""
    return vocab.orderBy(F.desc("count"), F.desc("token")).limit(k)


def vocab_add(a: DataFrame, b: DataFrame, order: str = "count") -> DataFrame:
    """Multiset union: Counter.__add__ (UNION ALL + re-agg)."""
    merged = (
        a.select("token", "count")
        .unionByName(b.select("token", "count"))
        .groupBy("token")
        .agg(F.sum("count").cast("long").alias("count"))
    )
    return _reindex(merged, order)


def vocab_sub(a: DataFrame, b: DataFrame, order: str = "count") -> DataFrame:
    """Counter.__sub__: counts subtract; tokens with count <= 0 drop."""
    merged = (
        a.select("token", "count")
        .join(
            b.select("token", F.col("count").alias("count_b")), "token", "left"
        )
        .select(
            "token",
            (F.col("count") - F.coalesce("count_b", F.lit(0)))
            .cast("long")
            .alias("count"),
        )
        .where(F.col("count") > 0)
    )
    return _reindex(merged, order)


def _reindex(counts: DataFrame, order: str) -> DataFrame:
    w = (
        Window.orderBy(F.desc("count"), F.desc("token"))
        if order == "count"
        else Window.orderBy(F.asc("token"))
    )
    return counts.select(
        "token", "count", (F.row_number().over(w) - 1).cast("long").alias("index")
    )

