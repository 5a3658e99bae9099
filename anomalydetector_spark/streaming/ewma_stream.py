"""Streaming EWMA control chart — the small-shift lens as a stream,
bit-for-bit equal to the batch :func:`~anomalydetector_spark.operators.
trend.ewma_chart` on every emitted window.

The EWMA recursion ``E_t = λ·v_t + (1−λ)·E_{t−1}`` is already the
online form (unlike CUSUM no closed form is even needed): state per
series is just ``(E, f)`` where ``f = (1−λ)^{2t}`` drives the
time-varying control-limit width — O(1) forever. The recursion is
ONE function, :func:`~anomalydetector_spark.operators.trend.ewma_step`,
called by the batch walk and by this stream, so emitted rows are
bit-equal by construction.

Ordering/exactly-once: the shared ordered-walk machine
(:func:`~anomalydetector_spark.streaming.pairs.ordered_walk_fn` —
contiguous fast path, else after ``buffer_windows`` newer windows),
with the consume pointer as the ledger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField

from anomalydetector_spark.operators.trend import ewma_step, ewma_undefined
from anomalydetector_spark.streaming.pairs import (
    SERIES_KEY,
    apply_stateful,
    collect_reference,
    duration_us,
    ordered_walk_fn,
    walk_state_schema,
)

EWMA_STATE_SCHEMA = walk_state_schema(
    StructField("e", DoubleType()), StructField("f", DoubleType())
)

EWMA_SCHEMA = (
    "partition_key string, stat_name string, window_start timestamp, "
    "value double, ewma double, ucl double, lcl double, alarm boolean"
)


def _make_ewma_fn(
    refs: dict, lam: float, L: float, dur_us: int, buffer_windows: int,
    trust_first: bool = False,
):
    ewma = ewma_step(lam, L)

    def init(key):
        mu, sigma = refs.get(key) or (None, None)
        return (0.0 if ewma_undefined(mu, sigma) else mu, 1.0)

    def step(key, walk, t0, v):
        mu, sigma = refs.get(key) or (None, None)
        if ewma_undefined(mu, sigma):
            return walk, (None, None, None, False)
        e, f, ucl, lcl, alarm = ewma(*walk, v, mu, sigma)
        return (e, f), (e, ucl, lcl, alarm)

    return ordered_walk_fn(
        EWMA_SCHEMA, init, step, dur_us, buffer_windows, trust_first,
        dict.fromkeys(("ewma", "ucl", "lcl"), "Float64"),
    )


def ewma_stream(
    stat_series_stream: DataFrame,
    reference: DataFrame,
    lam: float = 0.25,
    L: float = 3.0,
    window_duration: str = "1 day",
    buffer_windows: int = 8,
    trust_first: bool = False,
) -> DataFrame:
    """EWMA-chart a STREAM of finalized stat windows ``(partition_key,
    stat_name, window_start, value)`` against a frozen per-series
    ``reference`` frame ``(partition_key, stat_name, mu, sigma)``.
    Emitted rows are bit-equal to batch ``ewma_chart(..., reference=
    ...)`` (pinned by test across micro-batch boundaries and
    kill/resume). Series absent from the reference emit NULL chart
    columns with ``alarm=false`` (the batch inner join drops them).

    COLD-START HORIZON: nothing emits for a fresh series until more
    than ``buffer_windows`` windows (default 8) have buffered — ≤ 8
    total windows never emit, first emission lags ~9 window durations.
    ``trust_first=True`` anchors on the first window seen (in-order
    sources only; see ``ordered_drain``)."""
    fn = _make_ewma_fn(
        collect_reference(reference), lam, L,
        duration_us(window_duration), buffer_windows, trust_first,
    )
    return apply_stateful(
        stat_series_stream, SERIES_KEY, fn, EWMA_SCHEMA, EWMA_STATE_SCHEMA
    )
