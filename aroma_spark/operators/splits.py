"""Deterministic dataset splits for training-data pipelines.

The reference splits by *fixed membership lists* (DATASET_SPLITS,
reference: src/aroma/datasets/breakfast.py:112-134) and by id prefix
(multithumos.py:545-574) — both covered by operators/vocab filters.
This module adds the split primitive a 100 TB corpus needs: a
*hash-based* split, where membership is a pure function of the row key,
so it is stable across runs, machines, and engine versions, needs no
membership table, and never shuffles — the split column is a map-side
expression the optimizer can push around freely.

The hash is md5 over ``salt || ':' || key`` (first 8 hex digits as a
uniform u32), portable to any engine with md5 — the DuckDB oracle
computes the identical assignment.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _unit_hash(key: Column, salt: str) -> Column:
    """Uniform value in [0, 1) from md5(salt:key) — stable everywhere."""
    h = F.md5(F.concat(F.lit(f"{salt}:"), key.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") / F.lit(
        4294967296.0
    )


def with_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float] | None = None,
    salt: str = "split",
    split_col: str = "split",
) -> DataFrame:
    """Assign each row to a named split by hashing ``key_col``.

    ``weights`` maps split name -> fraction (must sum to ~1; assignment
    uses cumulative thresholds in the given order). Rows sharing a key
    always land in the same split — hash the *document* key to prevent
    near-duplicate leakage across train/test, or a group key (e.g.
    conv_id) to keep whole conversations together.
    """
    if weights is None:
        weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    total = sum(weights.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split weights sum to {total}, expected 1.0")
    u = _unit_hash(F.col(key_col), salt)
    names = list(weights)
    expr = F.lit(names[-1])
    acc = 0.0
    cases = []
    for name in names[:-1]:
        acc += weights[name]
        cases.append((acc, name))
    for bound, name in reversed(cases):
        expr = F.when(u < F.lit(bound), F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: str = "sample",
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff
    ``md5-hash(key) < fraction[stratum]``.

    Unlike ``df.sample``, membership is a pure function of the key —
    reproducible across runs/engines (the DuckDB oracle computes the
    identical sample), stable under repartitioning, and free of RNG
    state. Sampling by a *group* key (conv_id) keeps groups intact.
    A map-side filter: no shuffle, pushes to the scan.
    """
    u = _unit_hash(F.col(key_col), salt)
    frac = F.lit(float(default_fraction))
    for name, f in fractions.items():
        frac = F.when(F.col(strata_col) == name, F.lit(float(f))).otherwise(
            frac
        )
    return df.where(u < frac)


def split_counts(df: DataFrame, key_col: str, salt: str = "split") -> DataFrame:
    """(split, n_rows, n_keys) — the balance check for a hash split."""
    with_s = with_split(df, key_col, salt=salt)
    return with_s.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct(key_col).cast("long").alias("n_keys"),
    )


def split_leakage_audit(
    df: DataFrame,
    key_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """The split-integrity audit a training pipeline must pass before
    anything trains: every key lands in EXACTLY one split
    (completeness: the split sizes sum to the corpus; exclusivity: no
    key carries two labels). Because :func:`with_split` derives the
    label from a pure hash of the key, violations can only come from
    key duplication upstream — which is exactly what this catches,
    per split pair, without trusting the property it is checking.

    One pass assigns labels; a per-key aggregate counts DISTINCT
    labels per key (>1 = leakage); ONE summary row. All int64.

    Emits ``n_keys, n_rows, n_train, n_val, n_test, n_multi_label,
    complete`` (``complete`` = the three splits sum to n_rows).
    """
    labeled = with_split(df, key_col=key_col, salt=salt)
    per_key = labeled.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("split").cast("long").alias("n_labels"),
    )
    agg = labeled.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
        .cast("long")
        .alias("n_val"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("long")
        .alias("n_test"),
    )
    keys = per_key.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.when(F.col("n_labels") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_multi_label"),
    )
    return agg.crossJoin(keys).select(
        "n_keys",
        "n_rows",
        "n_train",
        "n_val",
        "n_test",
        "n_multi_label",
        (
            F.col("n_train") + F.col("n_val") + F.col("n_test")
            == F.col("n_rows")
        ).alias("complete"),
    )
