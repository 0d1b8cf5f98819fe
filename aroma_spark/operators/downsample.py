"""Chart/observability downsampling: M4, LTTB, counter rate, time-weighted avg.

Classic time-series-store operators over the signal frame — all but
LTTB pure Catalyst (no Python), all one hash exchange keyed on conv_id /
(conv_id, bucket) — the same partitioning the tier lattice uses, so at
100 TB they slot into the existing shuffle rather than adding one:

- :func:`m4_downsample` — M4 aggregation (Jugel et al., "M4: A
  Visualization-Oriented Time Series Data Aggregation", VLDB 2014):
  per (series, time bucket) keep only the first / last / min / max
  points. M4 is pixel-perfect for line charts at the bucket-per-pixel
  width and, unlike LTTB, is a pure per-group aggregation — it
  parallelizes with map-side partial combine instead of a sequential
  sweep, which is why it is the scale path here.
- :func:`counter_increase` — reset-aware monotone-counter delta (the
  semantics of PromQL ``increase``): a sample below its predecessor is
  a counter reset, contributing its own value instead of a negative
  delta. Lag-diff window + bucket aggregation, integer-exact.
- :func:`time_weighted_avg` — LOCF time-weighted mean per bucket (the
  continuous-aggregate companion of gap-fill for irregular arrivals):
  each sample's value is weighted by how long it held until the next
  sample. Integer numerator/denominator (microseconds), one rounded
  float division at the end.

- :func:`lttb_downsample` — Largest-Triangle-Three-Buckets
  (Steinarsson 2013), the sequential chart downsampler, run per
  conversation in :func:`~aroma_spark.operators.segments.scan_by_key`
  (see its docstring for why M4 stays the whole-corpus scale path).

The reference has no downsampling; these generalize its prepared-
dataset aggregations (reference: src/aroma/datasets/breakfast.py:621)
per BASELINE.json north_rule into the downsample family every
retention engine ships. All four have exact DuckDB SQL twins in
``aroma_spark.registry`` (LTTB's twin replays the recurrence as
a recursive CTE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aroma_spark.operators.segments import scan_conversations


def m4_downsample(
    signals: DataFrame,
    unit: str = "hour",
    value_col: str = "inter_time_us",
) -> DataFrame:
    """Per (conv_id, bucket) keep the first/last/min/max points (M4).

    Selection is deterministic under any partitioning: each role is a
    lexicographic struct min/max — first = min(ts, turn_idx), last =
    max(ts, turn_idx), min = min(value, ts, turn_idx), max =
    max(value, ts, turn_idx) — so ties break identically on every
    engine. A point selected for several roles appears once (distinct).

    One aggregation shuffle on (conv_id, bucket); the explode fans out
    at most 4 rows per group, so the post-agg stage is tiny. No window
    sort: a hot conversation costs a combine, not a single-task sort.
    """
    v = F.col(value_col).cast("long")
    t = F.col("turn_idx").cast("long")
    ts_us = F.unix_micros(F.col("ts"))
    by_time = F.struct(ts_us.alias("ts_us"), t.alias("t"), v.alias("v"))
    by_value = F.struct(v.alias("v"), ts_us.alias("ts_us"), t.alias("t"))

    def _norm(prefix: str):
        c = F.col(prefix)
        return F.struct(
            c.getField("ts_us").alias("ts_us"),
            c.getField("t").alias("t"),
            c.getField("v").alias("v"),
        )

    agg = signals.groupBy(
        "conv_id", F.date_trunc(unit, F.col("ts")).alias("bucket_ts")
    ).agg(
        F.min(by_time).alias("__first"),
        F.max(by_time).alias("__last"),
        F.min(by_value).alias("__min"),
        F.max(by_value).alias("__max"),
    )
    pts = agg.select(
        "conv_id",
        "bucket_ts",
        F.explode(
            F.array(
                _norm("__first"),
                _norm("__last"),
                _norm("__min"),
                _norm("__max"),
            )
        ).alias("p"),
    )
    return pts.select(
        "conv_id",
        "bucket_ts",
        F.timestamp_micros(F.col("p.ts_us")).alias("ts"),
        F.col("p.t").alias("turn_idx"),
        F.col("p.v").alias("value"),
    ).distinct()


def counter_increase(
    df: DataFrame,
    unit: str = "hour",
    counter_col: str = "counter",
    order_col: str = "turn_idx",
) -> DataFrame:
    """Reset-aware increase of a cumulative counter per (conv, bucket).

    PromQL ``increase`` semantics: delta = value - prev if the counter
    did not decrease, else value (a decrease means the counter reset to
    zero and re-accumulated). The first sample of a conversation has no
    predecessor and contributes 0 (no extrapolation — documented
    difference from Prometheus' range-edge interpolation, which is not
    reproducible across engines). Deltas are attributed to the bucket
    of the LATER sample.

    One window exchange on conv_id reused by the bucket aggregation key
    prefix; all arithmetic is integer.
    """
    w = Window.partitionBy("conv_id").orderBy(order_col)
    v = F.col(counter_col).cast("long")
    prev = F.lag(v, 1).over(w)
    delta = (
        F.when(prev.isNull(), F.lit(0))
        .when(v < prev, v)
        .otherwise(v - prev)
        .cast("long")
    )
    reset = F.when(prev.isNotNull() & (v < prev), F.lit(1)).otherwise(F.lit(0))
    return (
        df.select(
            "conv_id",
            F.date_trunc(unit, F.col("ts")).alias("bucket_ts"),
            delta.alias("__d"),
            reset.alias("__r"),
        )
        .groupBy("conv_id", "bucket_ts")
        .agg(
            F.sum("__d").cast("long").alias("increase"),
            F.count(F.lit(1)).cast("long").alias("n_samples"),
            F.sum("__r").cast("long").alias("n_resets"),
        )
    )


def time_weighted_avg(
    signals: DataFrame,
    unit: str = "hour",
    value_col: str = "inter_time_us",
) -> DataFrame:
    """LOCF time-weighted mean per (conv, bucket) over irregular samples.

    Each sample's value holds from its timestamp until the next sample
    of the conversation (LOCF). Only segments whose BOTH endpoints fall
    in the same bucket are counted (segment-interior definition: no
    gap-fill grid is required, so the operator stays a single window +
    aggregation; boundary-spanning holds belong to :mod:`gapfill`'s
    grid semantics instead). Buckets whose samples have no in-bucket
    successor emit NULL weighted fields.

    ``weighted_sum`` (value x microseconds) and ``duration_us`` are
    exact integers — the re-aggregable partials; ``twa`` is the one
    rounded float division, computed last.

    Overflow bound: each segment weight is at most bucket_width_us (the
    segment lies inside one bucket), so int64 holds as long as
    max(value) x bucket_width_us x points_per_bucket < 2^63 — fine for
    bounded signals like text_len; for very large values (e.g. raw
    microsecond latencies under day-scale buckets) pre-scale the value
    or narrow the bucket.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    ts_us = F.unix_micros(F.col("ts"))
    b = F.date_trunc(unit, F.col("ts"))
    v = F.col(value_col).cast("long")
    nxt_ts = F.lead(ts_us, 1).over(w)
    nxt_b = F.lead(b, 1).over(w)
    dt = F.when(nxt_b == b, nxt_ts - ts_us)  # NULL outside the bucket
    out = (
        signals.select(
            "conv_id",
            b.alias("bucket_ts"),
            (v * dt).alias("__num"),
            dt.alias("__dt"),
        )
        .groupBy("conv_id", "bucket_ts")
        .agg(
            F.sum("__num").cast("long").alias("weighted_sum"),
            F.sum("__dt").cast("long").alias("duration_us"),
        )
    )
    return out.select(
        "conv_id",
        "bucket_ts",
        "weighted_sum",
        "duration_us",
        F.when(
            F.col("duration_us") > 0,
            F.round(
                F.col("weighted_sum").cast("double") / F.col("duration_us"), 6
            ),
        ).alias("twa"),
    )


def lttb_downsample(
    signals: DataFrame, n_out: int = 12, value_col: str = "text_len"
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling per conversation
    (Steinarsson, "Downsampling Time Series for Visual Representation",
    MSc thesis, U. Iceland 2013 — the other canonical chart
    downsampler next to :func:`m4_downsample`).

    Per conversation in stable turn order: first and last points are
    always kept; the middle points split into ``n_out - 2`` buckets and
    each bucket keeps the point forming the largest triangle with the
    PREVIOUSLY selected point and the NEXT bucket's centroid. That
    previous-point recurrence makes LTTB inherently sequential per
    series — which is exactly why M4 (a pure aggregation) is this
    engine's scale path and LTTB runs in
    :func:`~aroma_spark.operators.segments.scan_by_key`, one
    conversation run at a time.

    Determinism across engines (the DuckDB twin replays the recurrence
    as a recursive CTE): coordinates are exact int64 — x is
    microseconds relative to the conversation's first timestamp, y the
    integer signal; bucket ids are integer floor arithmetic; the
    triangle area against the next bucket's centroid (sum/count, never
    a float mean) is compared through ONE fixed double expression,

        |float(x_s*m - Sx) * float(y_c - y_s)
         - float(x_s - x_c) * float(y_s*m - Sy)|

    (the 2*area*m cross product with the centroid multiplied through by
    its count m, each parenthesized factor exact int64 before ONE
    rounding to double), ties broken by (x asc, turn_idx asc).
    Conversations with n <= n_out pass through whole (bucket = row
    index).

    Int64 bounds: x*m needs conv_span_us * bucket_size < 2^63 — a
    year-long conversation (3*10^13 us) holds to buckets of 3*10^5
    points; y*m the same with the signal's magnitude. Past that,
    pre-scale x to milliseconds.
    """
    if n_out < 3:
        raise ValueError(f"n_out must be >= 3, got {n_out}")
    import numpy as np
    import pandas as pd

    B = n_out - 2

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        x = pdf["ts"].values.astype("datetime64[us]").astype(np.int64)
        x = x - x.min()
        y = pdf["value"].values.astype(np.int64)
        turn = pdf["turn_idx"].values.astype(np.int64)
        if n <= n_out:
            out = pdf[["conv_id", "turn_idx", "ts", "value"]].copy()
            out["bucket"] = np.arange(n, dtype=np.int32)
            return out
        m_mid = n - 2
        # middle row j (0-based among rows 1..n-2) -> bucket 1 + j*B//m_mid;
        # bucket k (1..B) spans j in [ceil((k-1)*m/B), ceil(k*m/B))
        def jrange(k: int) -> tuple[int, int]:
            return (
                ((k - 1) * m_mid + B - 1) // B,
                (k * m_mid + B - 1) // B,
            )

        sel = [0]
        prev = 0
        for k in range(1, B + 1):
            lo_j, hi_j = jrange(k)
            cand = np.arange(1 + lo_j, 1 + hi_j)
            if k < B:
                nlo, nhi = jrange(k + 1)
                nxt = np.arange(1 + nlo, 1 + nhi)
            else:
                nxt = np.array([n - 1])
            m_c = len(nxt)
            sxc = int(np.sum(x[nxt]))
            syc = int(np.sum(y[nxt]))
            # one rounding per factor, then double arithmetic — the
            # exact expression the SQL twin evaluates
            f1 = np.float64(int(x[prev]) * m_c - sxc)
            f2 = (y[cand] - y[prev]).astype(np.float64)
            f3 = (int(x[prev]) - x[cand]).astype(np.float64)
            f4 = np.float64(int(y[prev]) * m_c - syc)
            area = np.abs(f1 * f2 - f3 * f4)
            order = np.lexsort((turn[cand], x[cand], -area))
            prev = int(cand[order[0]])
            sel.append(prev)
        sel.append(n - 1)
        out = pdf.iloc[sel][["conv_id", "turn_idx", "ts", "value"]].copy()
        out["bucket"] = np.arange(len(sel), dtype=np.int32)
        return out

    def pick_runs(pdf: pd.DataFrame, starts: np.ndarray) -> pd.DataFrame:
        ends = np.append(starts[1:], len(pdf))
        return pd.concat(
            [pick(pdf.iloc[s:e]) for s, e in zip(starts, ends)],
            ignore_index=True,
        )

    return scan_conversations(signals, value_col, "bigint", pick_runs, "bucket int")
