"""with_global_rank must equal row_number() OVER (ORDER BY ...) exactly.

The r6 optimization replaced the seven unpartitioned rank windows with
the two-phase range-partition rank (operators/ranking.py); this pins
the equivalence on frames larger than the partition count, with
ascending/descending mixed orders and tie-break columns, plus the
total-count column.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from aroma_spark.operators.ranking import with_global_cumsum, with_global_rank


def _reference(df, order_by):
    w = Window.orderBy(*order_by)
    return df.select(
        "*",
        F.row_number().over(w).cast("long").alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("n"),
    )


def test_matches_single_partition_window(spark):
    rows = [(i, (i * 37) % 101, f"u{i:03d}") for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v long, name string")
    order = [F.col("v").asc(), F.col("id").asc()]
    got = (
        with_global_rank(df, order, rank_col="rk", total_col="n")
        .orderBy("id")
        .collect()
    )
    want = _reference(df, order).orderBy("id").collect()
    assert [(r.id, r.rk, r.n) for r in got] == [
        (r.id, r.rk, r.n) for r in want
    ]


def test_descending_with_ties(spark):
    rows = [(i, i % 7) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, v long")
    order = [F.col("v").desc(), F.col("id").asc()]
    got = with_global_rank(df, order, rank_col="rk").orderBy("id").collect()
    want = _reference(df, order).orderBy("id").collect()
    assert [(r.id, r.rk) for r in got] == [(r.id, r.rk) for r in want]


def test_cumsum_matches_single_partition_window(spark):
    rows = [(i, (i * 13) % 50 + 1) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, v long")
    order = [F.col("v").desc(), F.col("id").asc()]
    w = (
        Window.orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = (
        df.select("id", F.sum("v").over(w).alias("cum"))
        .orderBy("id")
        .collect()
    )
    got = (
        with_global_cumsum(df, order, "v", cum_col="cum", total_col="tot")
        .orderBy("id")
        .collect()
    )
    assert [(r.id, r.cum) for r in got] == [(r.id, r.cum) for r in want]
    total = sum(v for _, v in rows)
    assert all(r.tot == total for r in got)


@pytest.mark.parametrize(
    "helper, out_col",
    [
        (lambda df, order: with_global_rank(df, order, "rk"), "rk"),
        (lambda df, order: with_global_cumsum(df, order, "v", "cum"), "cum"),
    ],
    ids=["rank", "cumsum"],
)
def test_empty_frame(spark, helper, out_col):
    df = spark.createDataFrame([], "id long, v long")
    out = helper(df, [F.col("v").asc(), F.col("id").asc()])
    assert out.count() == 0
    assert out.dtypes == [("id", "bigint"), ("v", "bigint"), (out_col, "bigint")]
