"""Streaming seasonal volume expectation — the same-phase-history
check (:func:`~anomalydetector_spark.operators.trend.
seasonal_expectation`) as a stream, bit-for-bit equal to the batch
operator on every emitted window.

The check at row t needs only the values at row-index lags
``season_lag, 2·season_lag, … n_seasons·season_lag`` — so state per
series is a ring of the last ``season_lag·n_seasons`` micro-quantized
values plus the row counter: O(lag·seasons) forever (28 longs for the
weekly default). Arithmetic is the batch contract exactly: exact
integer ``(m·vq − s)`` numerators, the same pinned double chains, the
same zero-history / all-zero-history conventions.

Ordering/exactly-once: the shared ordered-walk machine
(``pairs.ordered_walk_fn``, the CUSUM/EWMA machinery) with the consume
pointer as the ledger — the row-index walk is order-sensitive by
definition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, LongType, StructField

from anomalydetector_spark.streaming.pairs import (
    SERIES_KEY,
    apply_stateful,
    duration_us,
    half_up_micro,
    ordered_walk_fn,
    walk_state_schema,
)

SEASONAL_STATE_SCHEMA = walk_state_schema(
    StructField("rn", LongType()),
    StructField("hist_vq", ArrayType(LongType())),
)

SEASONAL_SCHEMA = (
    "partition_key string, stat_name string, window_start timestamp, "
    "value double, expected double, rel_dev double, flagged boolean, "
    "n_history int"
)


def _make_seasonal_fn(
    season_lag: int,
    n_seasons: int,
    tolerance: float,
    dur_us: int,
    buffer_windows: int,
    trust_first: bool = False,
):
    depth = season_lag * n_seasons

    def step(key, walk, t0, v):
        rn, hist = walk
        vq = half_up_micro(v * 1e6)
        # history lookups: hist[-j*season_lag] for j = 1..n_seasons
        lags = [
            hist[-j * season_lag]
            for j in range(1, n_seasons + 1)
            if j * season_lag <= len(hist)
        ]
        m, s = len(lags), sum(lags)
        if m == 0:
            row = (None, None, False, 0)
        elif s != 0:
            # |s| denominator — matches the batch operator's
            # negative-history-sum handling (trend.py)
            rel = float(m * vq - s) / float(abs(s))
            row = (float(s) / float(m) / 1e6, rel, abs(rel) > tolerance, m)
        else:
            row = (float(s) / float(m) / 1e6, None, vq != 0, m)
        return (rn + 1, [*hist, vq][-depth:]), row

    return ordered_walk_fn(
        SEASONAL_SCHEMA, lambda key: (0, []), step, dur_us, buffer_windows,
        trust_first,
        {"expected": "Float64", "rel_dev": "Float64", "n_history": "int32"},
    )


def seasonal_expectation_stream(
    stat_series_stream: DataFrame,
    season_lag: int = 7,
    n_seasons: int = 4,
    tolerance: float = 0.5,
    window_duration: str = "1 day",
    buffer_windows: int = 8,
    trust_first: bool = False,
) -> DataFrame:
    """Seasonal-expectation-check a STREAM of finalized stat windows
    ``(partition_key, stat_name, window_start, value)``. Emitted rows
    are bit-equal to the batch operator on the same consumed prefix
    (pinned by test). No reference frame is needed — the seasonal
    history IS the state.

    COLD-START HORIZON: nothing emits for a fresh series until more
    than ``buffer_windows`` windows (default 8) have buffered — ≤ 8
    total windows never emit, first emission lags ~9 window durations.
    ``trust_first=True`` anchors on the first window seen (in-order
    sources only; see ``ordered_drain``)."""
    fn = _make_seasonal_fn(
        season_lag, n_seasons, tolerance, duration_us(window_duration),
        buffer_windows, trust_first,
    )
    return apply_stateful(
        stat_series_stream, SERIES_KEY, fn, SEASONAL_SCHEMA,
        SEASONAL_STATE_SCHEMA,
    )
