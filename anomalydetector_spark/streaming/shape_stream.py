"""Streaming shape drift: JS divergence of the per-window lang
distribution vs the previous window, over a STREAM of finalized stat
windows (the stage-1 output of ``streaming_window_stats``).

The exactly-once consecutive-window pairing (reorder buffer + emitted
ledger, near-sorted arrival, restart-replay immunity) is the shared
machine in :mod:`~anomalydetector_spark.streaming.pairs`; this module
contributes only the shape-specific halves: pivoting the long-format
stat rows into per-window probability vectors, and the JS/TVD math per
pair.

Granularity note: the streaming distribution is BUCKETED to the
configured ``langs`` plus an ``other`` residual mass (1 − Σ fracs,
clipped at 0), because stage 1 only emits fractions for the configured
list — a shift between two unlisted languages is invisible here (it
lands inside ``other``). The batch operator sees every observed
category; when all traffic is within the configured list the two produce
identical values (pinned by test).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame

from anomalydetector_spark.plans.fused import DEFAULT_LANGS
from anomalydetector_spark.streaming.pairs import (
    PAIR_STATE_SCHEMA,
    apply_stateful,
    duration_us as _duration_us,
    epoch_us,
    vector_pair_fn,
)


# kept as the historical export name; the layout (and the v2
# loud-failure rationale) lives with the shared machine in pairs.py
DIV_STATE_SCHEMA = PAIR_STATE_SCHEMA

DIV_SCHEMA = (
    "partition_key string, window_start timestamp, "
    "js_divergence double, tvd double"
)


def _make_div_fn(
    langs: tuple[str, ...], dur_us: int, buffer_windows: int
):
    frac_cols = [f"lang_frac_{l}" for l in langs]

    def vectors(key, pdf):
        pdf = pdf[pdf["stat_name"].isin(frac_cols)]
        if pdf.empty:
            return None
        wide = (
            pdf.pivot_table(
                index="window_start",
                columns="stat_name",
                values="value",
                aggfunc="last",
            )
            .reindex(columns=frac_cols)
            .sort_index()
        )
        # stage 1 unpivots one wide row per window, so a window's
        # fracs always land in one micro-batch — a missing column
        # would mean corrupt input; fail loud rather than renormalize
        if wide.isna().any().any():
            raise ValueError(
                f"incomplete lang_frac window rows for key {key}"
            )
        probs = wide.to_numpy(dtype="float64")
        other = np.clip(1.0 - probs.sum(axis=1), 0.0, None)
        return epoch_us(wide.index), np.column_stack([probs, other])

    def score(q, p):
        m = (p + q) / 2.0
        with np.errstate(divide="ignore", invalid="ignore"):
            js = 0.5 * np.where(
                p > 0, p * np.log2(np.divide(p, m, where=m > 0)), 0.0
            ).sum() + 0.5 * np.where(
                q > 0, q * np.log2(np.divide(q, m, where=m > 0)), 0.0
            ).sum()
        return float(js), float(np.abs(p - q).sum() / 2.0)

    return vector_pair_fn(
        DIV_SCHEMA, vectors, score, len(langs) + 1, dur_us, buffer_windows
    )


def js_divergence_stream(
    stat_series_stream: DataFrame,
    window_duration: str = "1 day",
    langs: tuple[str, ...] = DEFAULT_LANGS,
    buffer_windows: int = 64,
) -> DataFrame:
    """Shape-drift scores from a stream of finalized stat windows (the
    long-format output of :func:`streaming_window_stats`): one row per
    contiguous (previous, current) window pair per partition, emitted
    exactly once when both windows have arrived."""
    fn = _make_div_fn(
        tuple(langs), _duration_us(window_duration), buffer_windows
    )
    return apply_stateful(
        stat_series_stream, ["partition_key"], fn, DIV_SCHEMA,
        DIV_STATE_SCHEMA,
    )
