"""scan_by_key: a key run split across Arrow batches is stitched back.

Every per-key recurrence (EWMA, Holt, LTTB, next-fit packing, the codec
encode) must give the same rows whether a key's run arrives in one
Arrow batch or in many.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from aroma_spark.operators.codec_ops import codec_roundtrip
from aroma_spark.operators.downsample import lttb_downsample
from aroma_spark.operators.packing import pack_nextfit
from aroma_spark.operators.smoothing import ewma_smooth, holt_smooth

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"

# conv "a": 40 turns over two days, "b": one turn, "c": 17 turns — at 7
# rows a batch, "a" and "c" (and a's (conv, day) runs) span several batches
TURNS = {"a": 40, "b": 1, "c": 17}


def _signals(spark):
    t0 = dt.datetime(2024, 1, 1, 20, 0, 0)
    rows = []
    for conv, n in TURNS.items():
        ts = t0
        for i in range(n):
            gap = (i * 7919 + len(conv)) % 5000 + 60
            ts = ts + dt.timedelta(seconds=gap)
            rows.append((conv, i, ts, (i * 37 + 11) % 97, gap * 1_000_000))
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, ts timestamp, text_len long, "
        "inter_time_us long",
    )


def _documents(spark):
    rows = [(i, " ".join(["tok"] * ((i * 13) % 9 + 1))) for i in range(60)]
    return spark.createDataFrame(rows, "doc_id long, text string")


QUERIES = {
    "ewma_smooth": lambda spark: ewma_smooth(_signals(spark), 0.3, "text_len"),
    "holt_smooth": lambda spark: holt_smooth(_signals(spark), 0.3, 0.1, "text_len"),
    "lttb_downsample": lambda spark: lttb_downsample(_signals(spark), 5, "text_len"),
    "pack_nextfit": lambda spark: pack_nextfit(
        _documents(spark), budget=20, n_buckets=2
    ),
    "codec_roundtrip": lambda spark: codec_roundtrip(_signals(spark)),
}


def _rows(df) -> pd.DataFrame:
    pdf = df.toPandas()
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_runs_split_across_arrow_batches(spark, name):
    query = QUERIES[name]
    want = _rows(query(spark))
    before = spark.conf.get(BATCH_CONF, None)
    try:
        spark.conf.set(BATCH_CONF, "7")
        got = _rows(query(spark))
    finally:
        if before is None:
            spark.conf.unset(BATCH_CONF)
        else:
            spark.conf.set(BATCH_CONF, before)
    assert len(want) > 0
    pd.testing.assert_frame_equal(got, want)
