"""P1 projection + M1 vocab state round trip."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from aroma_spark.operators.vocab import build_vocab, load_vocab, save_vocab
from aroma_spark.sources.readers import project_neurawkes


def test_project_neurawkes_renames_and_drops(spark):
    rows = [(0, 3, 1.5, "extra"), (0, 1, 2.25, "extra")]
    df = spark.createDataFrame(
        rows, "seq_id long, type_event long, time_since_start double, junk string"
    )
    out = project_neurawkes(df)
    assert set(out.columns) == {"event_type_index", "start_time", "seq_id"}
    got = out.toPandas().sort_values("start_time")
    assert got.event_type_index.tolist() == [3, 1]
    assert math.isclose(got.start_time.iloc[1], 2.25)
    assert dict(out.dtypes)["start_time"] == "float"  # reference float32
    assert dict(out.dtypes)["event_type_index"] == "bigint"  # reference int64


def test_vocab_state_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([("a",), ("b",), ("b",)], "tok string")
    v = build_vocab(df, "tok")
    p = str(tmp_path / "vocab")
    save_vocab(v, p)
    back = load_vocab(spark, p)
    assert sorted(back.collect()) == sorted(v.collect())


def test_sort_by_entity_desc(spark):
    from aroma_spark.sources.readers import sort_by_entity

    df = spark.createDataFrame(
        [("v2", 1), ("v1", 2), ("v3", 3)], "video_id string, x int"
    )
    asc = [r.video_id for r in sort_by_entity(df).collect()]
    desc = [r.video_id for r in sort_by_entity(df, descending=True).collect()]
    assert asc == ["v1", "v2", "v3"]
    assert desc == ["v3", "v2", "v1"]


def test_vocab_equal(spark, tiny_transcripts):
    from aroma_spark.operators.vocab import build_vocab, vocab_equal

    a = build_vocab(tiny_transcripts, "role", order="count")
    b = build_vocab(tiny_transcripts, "role", order="count")
    c = build_vocab(tiny_transcripts, "role", order="token")
    assert vocab_equal(a, b)
    # same counts, different index order -> not equal (reference semantics)
    assert not vocab_equal(a, c)


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
    from aroma_spark.operators.vocab import filter_by_prefix
    from aroma_spark.sources.transcripts import transcripts_from_events

    sf = "/root/testdata/sf0.001"
    fast = transcripts_from_events(spark, sf, conv_prefix="1")
    slow = filter_by_prefix(
        transcripts_from_events(spark, sf), "conv_id", "1"
    )
    assert fast.exceptAll(slow).isEmpty() and slow.exceptAll(fast).isEmpty()
    # and the ranges actually reach the parquet scan
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(user_id), Or(" in plan
