"""One sorted-stream pass for sequential per-key work.

A recurrence whose state carries from row to row (EWMA, Holt, the LTTB
sweep, next-fit bin fill, the Gorilla / delta-of-delta encoders) has no
algebraic partial, so it runs in Python over each key's rows in order.
:func:`scan_by_key` is the one physical strategy for all of them:
``repartition(keys[0])`` + ``sortWithinPartitions(*keys, *order)`` + ONE
``mapInPandas`` pass, each key a contiguous run of the sorted batch.

Not ``groupBy(key).applyInPandas``: grouped-map makes one pandas frame
and one Python call per key, so its cost grows with the key count
(measured ~2 ms per group; the per-call UDF overhead of CIDR'22,
"Accelerating Python UDFs in Vectorized Query Execution"). Here the
call is per Arrow batch, after the same shuffle and sort. The shuffle is
on the first key only: a run's rows share it, and an input already
hash-partitioned on it (the conv_id signal window) needs no new one.
A hot key still runs in one task and is held in memory whole, as under
grouped-map (the per-conversation skew limit, operators/rolling.py).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame


def _run_starts(pdf: pd.DataFrame, keys: Sequence[str]) -> np.ndarray:
    """Row index of the first row of each run of equal ``keys`` values
    in a non-empty frame (int64, ``[0, ...]``)."""
    change = np.zeros(len(pdf) - 1, dtype=bool)
    for k in keys:
        col = pdf[k].to_numpy()
        change |= col[1:] != col[:-1]
    return np.concatenate([[0], change.nonzero()[0] + 1]).astype(np.int64)


def scan_by_key(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    fn: Callable[[pd.DataFrame, np.ndarray], pd.DataFrame],
    schema: str,
    clustered: bool = False,
) -> DataFrame:
    """Run ``fn(pdf, starts)`` over ``df`` sorted by (``keys``, ``order``).

    ``pdf`` holds whole runs of equal ``keys`` in order (RangeIndex): a
    run that continues into the next Arrow batch is held back and joined
    to the batch that closes it. ``starts`` is the int64 array of each
    run's first row, ``[0, ...]``. ``fn`` returns the rows of ``schema``.

    ``clustered=True`` skips the repartition and sort: valid only when
    every key's rows are already contiguous and in order within one
    partition.
    """
    if not clustered:
        df = df.repartition(keys[0]).sortWithinPartitions(*keys, *order)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        held: list[pd.DataFrame] = []  # the open last run, batch by batch
        for pdf in batches:
            if not len(pdf):
                continue
            if held and all(held[0][k].iat[0] == pdf[k].iat[-1] for k in keys):
                # runs are contiguous: the whole batch extends the open run
                held.append(pdf)
                continue
            if held:
                pdf = pd.concat([*held, pdf], ignore_index=True)
            starts = _run_starts(pdf, keys)
            held = [pdf.iloc[starts[-1] :]]
            if starts[-1]:
                yield fn(pdf.iloc[: starts[-1]], starts[:-1])
        if held:
            yield fn(pd.concat(held, ignore_index=True), np.zeros(1, np.int64))

    return df.mapInPandas(scan, schema)


def scan_conversations(
    signals: DataFrame, value_col: str, value_type: str, fn, out_cols: str
) -> DataFrame:
    """:func:`scan_by_key` over the conversations of a signal frame in
    ``turn_idx`` order: ``fn`` gets (conv_id, turn_idx, ts, value), value
    being ``value_col`` cast to ``value_type``, and adds ``out_cols``."""
    src = signals.selectExpr(
        "conv_id", "turn_idx", "ts", f"CAST({value_col} AS {value_type}) AS value"
    )
    schema = "conv_id string, turn_idx int, ts timestamp, value"
    return scan_by_key(
        src, ["conv_id"], ["turn_idx"], fn, f"{schema} {value_type}, {out_cols}"
    )
