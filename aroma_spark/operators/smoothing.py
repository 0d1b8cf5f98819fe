"""Exponentially-weighted smoothing over per-conversation series.

EWMA is the classic irregular-series smoother (monitoring baselines,
trend extraction before anomaly rules). Its recurrence

    y_0 = x_0
    y_t = (1 - alpha) * y_{t-1} + alpha * x_t

is inherently sequential per key — the one class of operator Catalyst
cannot express (a running product has no algebraic partial). It runs
in the engine's one sorted-stream pass for per-key recurrences,
:func:`aroma_spark.operators.segments.scan_by_key`, keyed on conv_id.

Cross-engine exactness: the recurrence is evaluated in Python floats
(IEEE-754 doubles) with the literal expression order
``(1 - alpha) * y + alpha * x`` — the DuckDB twin's recursive CTE
spells the identical expression, so both engines execute the same
sequence of correctly-rounded operations and the trajectories match
bit-for-bit (no rounding fudge needed).

No reference analog (the reference smooths nothing); natural companion
of the north_star's gap-fill + rollup telemetry tiers.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from aroma_spark.operators.segments import scan_conversations


def ewma_smooth(
    signals: DataFrame,
    alpha: float = 0.3,
    value_col: str = "text_len",
) -> DataFrame:
    """Per-conversation EWMA of ``value_col`` in ``turn_idx`` order.

    Returns (conv_id, turn_idx, ts, value, ewma). ``alpha`` in (0, 1]:
    the weight of the newest sample.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    one_minus = 1.0 - alpha

    def smooth(pdf: pd.DataFrame, starts: np.ndarray) -> pd.DataFrame:
        heads = set(starts.tolist())
        out = []
        y = 0.0
        for i, x in enumerate(pdf["value"].tolist()):
            y = x if i in heads else one_minus * y + alpha * x
            out.append(y)
        return pdf.assign(ewma=out)

    return scan_conversations(signals, value_col, "double", smooth, "ewma double")


def holt_smooth(
    signals: DataFrame,
    alpha: float = 0.3,
    beta: float = 0.1,
    value_col: str = "text_len",
) -> DataFrame:
    """Per-conversation Holt double-exponential smoothing (level +
    trend) in ``turn_idx`` order — the trend-aware upgrade of
    :func:`ewma_smooth` (Holt 1957 / Winters 1960, public literature).

        level_t = alpha*x_t + (1-alpha)*(level_{t-1} + trend_{t-1})
        trend_t = beta*(level_t - level_{t-1}) + (1-beta)*trend_{t-1}

    Initialization: level_0 = x_0, trend_0 = 0 (no lookahead — the
    first turn carries no trend evidence; documented difference from
    the x_1 - x_0 init some texts use, which would make the first row
    depend on the second).

    Determinism: the recurrences are evaluated in the exact literal
    order written above — IEEE-754 multiply/add are correctly rounded,
    so the DuckDB twin (a recursive CTE spelling the identical
    expressions) reproduces every intermediate bit-for-bit, same as the
    EWMA oracle. Sequential per conversation, so it runs in
    :func:`~aroma_spark.operators.segments.scan_by_key` like
    :func:`ewma_smooth`.

    Returns (conv_id, turn_idx, ts, value, level, trend).
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if not 0.0 <= beta <= 1.0:
        raise ValueError(f"beta must be in [0, 1], got {beta}")
    one_minus_a = 1.0 - alpha
    one_minus_b = 1.0 - beta

    def smooth(pdf: pd.DataFrame, starts: np.ndarray) -> pd.DataFrame:
        heads = set(starts.tolist())
        levels = []
        trends = []
        lvl = trd = 0.0
        for i, x in enumerate(pdf["value"].tolist()):
            if i in heads:
                lvl, trd = x, 0.0
            else:
                prev = lvl
                lvl = alpha * x + one_minus_a * (lvl + trd)
                trd = beta * (lvl - prev) + one_minus_b * trd
            levels.append(lvl)
            trends.append(trd)
        return pdf.assign(level=levels, trend=trends)

    return scan_conversations(
        signals, value_col, "double", smooth, "level double, trend double"
    )
