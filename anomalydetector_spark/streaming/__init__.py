"""Structured Streaming surface of the validation engine.

The reference is batch-only (SURVEY.md §2.6: no streaming anywhere), but
a continuously-crawled pages table is naturally a stream; this package
re-expresses the engine's stats→SR pipeline as two chained streaming
stages (storage-chained, because Spark restricts arbitrary stateful-op
chaining inside one query):

1. :func:`streaming_window_stats` — watermarked tumbling-window stats
   (built-in windowed aggregation; late data handled by the watermark),
2. :func:`sr_score_stream` — stateful SR scoring with
   ``applyInPandasWithState``: per (partition, stat) the state carries the
   full window series seen so far, and each new finalized window is
   scored against that history with the reference SR kernel.

Plus :func:`dedup_ingest_stream` (exactly-once url dedup at ingest)
and the stage-2 drift lenses, all on the shared state machines in
:mod:`~anomalydetector_spark.streaming.pairs`:

* pair streams (one row per contiguous (previous, current) window
  pair, reorder buffer + emitted ledger): :func:`js_divergence_stream`
  (lang-distribution JS/TVD), :func:`numeric_drift_stream` and
  :func:`psi_drift_stream` over :func:`streaming_window_histogram`
  (L∞/TVD/EMD, PSI/χ²/Cramér's V), :func:`topk_churn_stream` over
  :func:`streaming_window_topk` (heavy-hitter set churn);
* ordered walks (consume pointer + reorder buffer, O(1) state per
  series): :func:`cusum_walk_stream` and :func:`ewma_stream` against a
  frozen reference frame, :func:`seasonal_expectation_stream`.

Plus :func:`streaming_window_corr` (exact per-window Pearson, one
built-in windowed aggregation). Every lens is bit- or value-equal to
its batch operator on the windows it emits.
"""

from anomalydetector_spark.streaming.cusum_stream import (  # noqa: F401
    CUSUM_SCHEMA,
    CUSUM_STATE_SCHEMA,
    cusum_walk_stream,
)
from anomalydetector_spark.streaming.ewma_stream import (  # noqa: F401
    EWMA_SCHEMA,
    EWMA_STATE_SCHEMA,
    ewma_stream,
)
from anomalydetector_spark.streaming.seasonal_stream import (  # noqa: F401
    SEASONAL_SCHEMA,
    SEASONAL_STATE_SCHEMA,
    seasonal_expectation_stream,
)
from anomalydetector_spark.streaming.churn_stream import (  # noqa: F401
    CHURN_SCHEMA,
    CHURN_STATE_SCHEMA,
    streaming_window_topk,
    topk_churn_stream,
)
from anomalydetector_spark.streaming.drift_stream import (  # noqa: F401
    SCORED_SCHEMA,
    STAT_STATE_SCHEMA,
    sr_score_stream,
    streaming_window_stats,
)
from anomalydetector_spark.streaming.ingest import (  # noqa: F401
    dedup_ingest_stream,
)
from anomalydetector_spark.streaming.numeric_stream import (  # noqa: F401
    CORR_SCHEMA,
    HIST_SCHEMA,
    NUMERIC_DRIFT_SCHEMA,
    PSI_DRIFT_SCHEMA,
    numeric_drift_stream,
    psi_drift_stream,
    streaming_window_corr,
    streaming_window_histogram,
)
from anomalydetector_spark.streaming.shape_stream import (  # noqa: F401
    DIV_SCHEMA,
    DIV_STATE_SCHEMA,
    js_divergence_stream,
)
