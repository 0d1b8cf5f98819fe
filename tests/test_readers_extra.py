"""Transcript projection of the events table: pruning and prefix pushdown."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_transcripts_projection_prunes_signal_columns(spark, tmp_path):
    """transcripts_from_events is a projection of signals_from_events:
    column pruning must leave one Exchange, one Window (row_number only,
    no lag), and push a conv_id predicate below the Exchange."""
    import datetime as dt

    from aroma_spark.sources.transcripts import transcripts_from_events

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(seconds=7 * i), i % 3, "click" if i % 2 else "msg",
         float(i), f"p{i}")
        for i in range(12)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))

    tr = transcripts_from_events(spark, str(tmp_path))
    one = tr.where(F.col("conv_id") == "1")
    for df in (tr, one):
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        assert sum("Window [" in ln for ln in lines) == 1, plan
        assert sum("Exchange " in ln for ln in lines) == 1, plan
        assert "lag(" not in plan, plan
    # the plan prints top-down: lines after the Exchange run below it
    ex = next(i for i, ln in enumerate(lines) if "Exchange " in ln)
    assert any(
        "Filter" in ln and "as string) = 1)" in ln for ln in lines[ex:]
    ), plan
    assert one.count() == 4

def test_digit_prefix_ranges_exact():
    """The int64-range rewrite is EXACTLY the string-prefix predicate."""
    from aroma_spark.sources.transcripts import _digit_prefix_ranges

    for prefix in ("1", "9", "42", "100", "0"):
        rs = _digit_prefix_ranges(prefix)
        got = {x for lo, hi in rs for x in range(lo, min(hi, 10**5) + 1)}
        want = {x for x in range(10**5 + 1) if str(x).startswith(prefix)}
        assert got == want, prefix
    assert _digit_prefix_ranges("07") == []  # no int64 prints "07..."
    assert _digit_prefix_ranges("-3") is None  # non-digit -> fallback
    assert _digit_prefix_ranges("x") is None


def test_conv_prefix_matches_startswith(spark):
    """conv_prefix (range-pushdown path) == plain startswith filter."""
    from aroma_spark.sources.transcripts import transcripts_from_events

    sf = "/root/testdata/sf0.001"
    fast = transcripts_from_events(spark, sf, conv_prefix="1")
    slow = transcripts_from_events(spark, sf).where(
        F.col("conv_id").startswith("1")
    )
    assert fast.exceptAll(slow).isEmpty() and slow.exceptAll(fast).isEmpty()
    # and the ranges actually reach the parquet scan
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(user_id), Or(" in plan
