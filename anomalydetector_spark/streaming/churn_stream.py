"""Streaming top-k churn: heavy-hitter SET stability between
consecutive finalized windows — the membership drift lens as a stream,
value-equal to the batch :func:`~anomalydetector_spark.operators.
divergence.topk_churn` on the same windows.

Two stages, storage-chained like every stage-2 drift stream here:

1. :func:`streaming_window_topk` — ONE watermarked windowed
   aggregation: per (window, partition) the count of each CONFIGURED
   candidate category (fixed aggregate expressions — a streaming query
   cannot chain a per-category aggregation under a per-window one),
   then the deterministic in-row top-k (``(n desc, cat asc)`` struct
   sort — the batch operator's exact tie-break). Like the shape
   stream's lang bucketing, the candidate list bounds the open
   category set: a category outside it is invisible (document the
   candidates as you would a histogram's bins).
2. :func:`topk_churn_stream` — the shared consecutive-window pair
   machine (``pairs.pair_step``: reorder buffer + emitted-window
   ledger, exactly-once across replays, the same loop every pair
   stream runs) over a string-set codec: the buffer holds each
   window's top-k ARRAY (flattened strings + per-window lengths in
   ``CHURN_STATE_SCHEMA``), and each pair emits the exact integer set
   comparison with ONE final division.
"""

from __future__ import annotations

from itertools import islice

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from anomalydetector_spark.streaming.pairs import (
    apply_stateful,
    duration_us,
    epoch_us,
    pair_frame,
    pair_step,
    stage1_input,
)

CHURN_STATE_SCHEMA = StructType(
    [
        StructField("version", LongType()),
        StructField("ts_us", ArrayType(LongType())),
        StructField("sets_flat", ArrayType(StringType())),
        StructField("set_lens", ArrayType(LongType())),
        StructField("emitted_ts", ArrayType(LongType())),
    ]
)

STATE_VERSION = 1

CHURN_SCHEMA = (
    "partition_key string, window_start timestamp, jaccard double, "
    "n_kept bigint, n_new bigint, n_dropped bigint, "
    "k_cur bigint, k_prev bigint"
)


def streaming_window_topk(
    stream: DataFrame,
    cat_col: str,
    candidates: list[str] | tuple[str, ...],
    k: int = 10,
    window_duration: str = "1 day",
    watermark_delay: str | None = "2 days",
    partition_by: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """One finalized row per (window, partition): ``(partition_key,
    window_start, topk array<string>)`` — the deterministic top-k of
    the CONFIGURED candidate categories by count (``n desc, cat asc``;
    zero-count candidates never enter the set)."""
    aggs = [
        F.sum((F.col(cat_col) == c).cast("long")).alias(f"_c{i}")
        for i, c in enumerate(candidates)
    ]
    src = stage1_input(stream, partition_by, watermark_delay, ts_col)
    agg = src.groupBy(
        F.window(F.col(ts_col), window_duration).alias("w"),
        "partition_key",
    ).agg(*aggs)
    # in-row deterministic top-k: sort (-n, cat) structs, slice, strip
    entries = F.array(
        *[
            F.struct(
                (-F.col(f"_c{i}")).alias("neg_n"),
                F.lit(c).alias("cat"),
                F.col(f"_c{i}").alias("n"),
            )
            for i, c in enumerate(candidates)
        ]
    )
    topk = F.slice(
        F.filter(F.array_sort(entries), lambda e: e["n"] > 0),
        1,
        k,
    )
    return agg.select(
        "partition_key",
        F.col("w.start").alias("window_start"),
        F.transform(topk, lambda e: e["cat"]).alias("topk"),
    )


def _decode_sets(ts_us, flat, lens):
    it = iter(flat)
    return {t: list(islice(it, int(n))) for t, n in zip(ts_us, lens)}


def _encode_sets(sets):
    return [c for s in sets for c in s], [len(s) for s in sets]


def _churn(prev, cur):
    # exact integer set comparison with ONE final division
    cur_set, prev_set = set(cur), set(prev)
    kept = len(cur_set & prev_set)
    new_n = len(cur_set - prev_set)
    dropped = len(prev_set - cur_set)
    union = kept + new_n + dropped
    return (
        float(kept) / float(union) if union else None,
        kept, new_n, dropped, kept + new_n, kept + dropped,
    )


def _make_churn_fn(dur_us: int, buffer_windows: int):
    def fn(key, pdfs, state):
        new = pd.concat(list(pdfs), ignore_index=True)
        items = zip(
            epoch_us(new["window_start"]).tolist(), map(list, new["topk"])
        )
        pairs = pair_step(
            state, items, dur_us, buffer_windows, STATE_VERSION,
            _decode_sets, _encode_sets,
        )
        if not pairs:
            return iter(())
        return iter((pair_frame(key, pairs, _churn, CHURN_SCHEMA),))

    return fn


def topk_churn_stream(
    topk_stream: DataFrame,
    window_duration: str = "1 day",
    buffer_windows: int = 8,
) -> DataFrame:
    """Consecutive-window churn over a STREAM of finalized top-k rows
    (:func:`streaming_window_topk` output). Exactly-once via the
    emitted-window ledger; a window whose predecessor never arrives
    inside the buffer horizon is skipped — the batch operator's
    omit-after-gap semantics."""
    fn = _make_churn_fn(duration_us(window_duration), buffer_windows)
    return apply_stateful(
        topk_stream, ["partition_key"], fn, CHURN_SCHEMA, CHURN_STATE_SCHEMA
    )
