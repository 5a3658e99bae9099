"""Streaming CUSUM: the sustained-level-shift walk over a STREAM of
finalized stat windows, bit-for-bit equal to the batch operator's
REFERENCE mode (:func:`~anomalydetector_spark.operators.trend.
series_cusum` with a frozen ``(mu, sigma)`` frame) on the windows it
emits.

Why reference mode is the streaming contract: the batch default
standardizes against the FULL series mean/σ — a future window changes
every past z retroactively, which is incompatible with append-mode
emission. With a frozen reference (an in-control/training period, the
standard online-CUSUM setup), the walk ``S⁺_t = max(0, S⁺_{t−1} + z_t −
k)`` is a pure left-to-right function of the prefix, so the stream can
carry O(1) state per series and each emitted row is final.

State per (partition_key, stat_name) — constant size, forever::

    (version, last_ts_us, cp_q, cn_q, minp_q, minn_q,
     anchor_pos_us, anchor_neg_us, buf_ts_us[], buf_vals[])

``cp_q``/``cn_q`` are the cumulative sums Σ(±zq − kq) in exact integer
micro-z units (the same quantization as the batch: ``zq = round(z·1e6)``
with Spark's HALF_UP double rounding replicated via shortest-repr
BigDecimal); ``minp/minn`` their strict running minima;
``anchor_*_us`` the timestamp at the running-min argmin (the
changepoint estimate — NULL until the walk first dips below zero,
matching the batch argmin-encoding convention bit for bit).

Ordering: CUSUM is ORDER-SENSITIVE, so unlike the pair machine this
stream cannot skip a window and go on. The shared ordered-walk machine
(``pairs.ordered_walk_fn``) keeps a small reorder buffer and CONSUMES
the oldest buffered window only when it is contiguous with the last
consumed one (the fast path) or when ``buffer_windows`` newer windows
have accumulated behind it (the near-sorted horizon has passed — any
still-missing older window is declared lost and will be DROPPED on late
arrival, the same drop-beyond-horizon rule as the incremental SR
scorer). Replayed windows at or before the consume pointer are dropped
by the pointer itself — exactly-once without a ledger. This module
contributes only the walk step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField

from anomalydetector_spark.streaming.pairs import (
    ORDERED_NONE,
    SERIES_KEY,
    apply_stateful,
    collect_reference,
    duration_us,
    half_up_micro,
    ordered_walk_fn,
    walk_state_schema,
)

CUSUM_STATE_SCHEMA = walk_state_schema(
    *(
        StructField(name, LongType())
        for name in (
            "cp_q", "cn_q", "minp_q", "minn_q",
            "anchor_pos_us", "anchor_neg_us",
        )
    )
)

CUSUM_SCHEMA = (
    "partition_key string, stat_name string, window_start timestamp, "
    "value double, z double, s_pos double, s_neg double, "
    "alarm_pos boolean, alarm_neg boolean, alarm boolean, "
    "cp_pos timestamp, cp_neg timestamp"
)


def _make_walk_fn(
    refs: dict, k: float, h: float, dur_us: int, buffer_windows: int,
    trust_first: bool = False,
):
    kq = round(k * 1e6)
    hq = round(h * 1e6)

    def step(key, walk, t0, v):
        mu, sigma = refs.get(key) or (None, None)
        if sigma is None or not sigma > 0:
            return walk, (None, None, None, False, False, False, None, None)
        cp_q, cn_q, minp_q, minn_q, anch_p, anch_n = walk
        z = (v - mu) / sigma
        zq = half_up_micro(z * 1e6)
        cp_q += zq - kq
        cn_q += -zq - kq
        # strict-min argmin == the batch's encoded min (earliest
        # index at the minimum: a tie keeps the earlier anchor)
        if cp_q < minp_q:
            minp_q, anch_p = cp_q, t0
        if cn_q < minn_q:
            minn_q, anch_n = cn_q, t0
        s_pos = float(cp_q - min(0, minp_q)) / 1e6
        s_neg = float(cn_q - min(0, minn_q)) / 1e6
        a_p = s_pos > hq / 1e6
        a_n = s_neg > hq / 1e6
        return (cp_q, cn_q, minp_q, minn_q, anch_p, anch_n), (
            z, s_pos, s_neg, a_p, a_n, a_p or a_n,
            anch_p if minp_q < 0 else None,
            anch_n if minn_q < 0 else None,
        )

    return ordered_walk_fn(
        CUSUM_SCHEMA,
        lambda key: (0, 0, 0, 0, ORDERED_NONE, ORDERED_NONE),
        step, dur_us, buffer_windows, trust_first,
    )


def cusum_walk_stream(
    stat_series_stream: DataFrame,
    reference: DataFrame,
    k: float = 0.5,
    h: float = 5.0,
    window_duration: str = "1 day",
    buffer_windows: int = 8,
    trust_first: bool = False,
) -> DataFrame:
    """Walk a STREAM of finalized stat windows ``(partition_key,
    stat_name, window_start, value)`` through the two-sided CUSUM with
    a frozen per-series ``reference`` frame ``(partition_key, stat_name,
    mu, sigma)`` (a bounded BATCH frame — typically
    :func:`~anomalydetector_spark.operators.trend.cusum_reference` over
    the training period, collected once to the driver and shipped in
    the state-function closure).

    Output schema and values match batch ``series_cusum(...,
    reference=...)`` bit for bit on every emitted window (pinned by
    test across micro-batch boundaries and kill/resume). A series
    absent from the reference emits NULL z/walks with ``alarm=false``
    (the batch inner-join drops them instead — the stream surfaces them
    loudly; filter on ``z IS NOT NULL`` for strict parity).

    COLD-START HORIZON: the ordered-drain consume rule has no anchor
    before the first consumed window, so a fresh series emits nothing
    until MORE than ``buffer_windows`` windows (default 8) have
    accumulated — a series with ≤ 8 total windows never emits, and the
    first emission lags ~9 window durations. Pass ``trust_first=True``
    for sources known to deliver windows in order: the first window
    seen anchors the walk immediately (an even-earlier window arriving
    later is then dropped).
    """
    fn = _make_walk_fn(
        collect_reference(reference), k, h,
        duration_us(window_duration), buffer_windows, trust_first,
    )
    return apply_stateful(
        stat_series_stream, SERIES_KEY, fn, CUSUM_SCHEMA, CUSUM_STATE_SCHEMA
    )
