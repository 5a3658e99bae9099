"""Stage-2 streaming mechanics — the one home of every stage-2 lens's
state machine; each lens module contributes only its per-window math.

Stage 1 (``streaming_window_stats`` / ``_histogram`` / ``_corr`` /
``_topk``, all opening with :func:`stage1_input`) finalizes windows in
event-time order, but its commit writes several unordered part files
and the stage-2 file source replays them in discovery order — so
windows arrive NEAR-sorted, not sorted, and a stage-1 restart can
replay old windows. Two machines absorb that:

* **Pair streams** — shape JS/TVD (``shape_stream``), numeric
  L∞/TVD/EMD and PSI/χ² (``numeric_stream``), top-k churn
  (``churn_stream``) — emit one comparison row per contiguous
  (previous, current) window pair, exactly once. State per partition is
  a small reorder BUFFER (the last ``buffer_windows`` window payloads)
  plus the emitted-window LEDGER (every emitted window's timestamp, 8
  bytes each): a window's row is emitted in whatever micro-batch first
  sees BOTH the window and its predecessor (:func:`complete_pairs`) —
  the ledger outlives the payload buffer, so even a stage-1 restart
  that replays windows far older than the buffer horizon cannot
  double-emit. A window whose predecessor never arrives inside the
  buffer horizon is skipped — the same omit-after-gap semantics as the
  batch operators (operators/divergence.py). :func:`pair_step` runs
  one micro-batch over any payload codec; :func:`window_pairs` is the
  float-vector codec (``PAIR_STATE_SCHEMA``: flattened row-major vector
  buffer keyed by window timestamp, plus the ledger), and churn keeps
  its own string-set codec.
* **Ordered walks** — CUSUM, EWMA, seasonal expectation — are
  ORDER-SENSITIVE: they cannot skip a window and go on.
  :func:`ordered_walk_fn` owns the state layout ``(version,
  last_ts_us, *walk, buf_ts_us[], buf_vals[])``, the ingest rule (drop
  replays at or before the consume pointer — the pointer IS the ledger
  — drop NULL/NaN values like the batch filter, keep the first copy),
  the :func:`ordered_drain` consume rule, the state update and the
  output frame; a lens is an ``init(key) -> walk`` plus a ``step(key,
  walk, ts_us, value) -> (walk, row)``.

``PAIR_STATE_SCHEMA``'s explicit ``version`` field exists purely to make
a pre-ledger (v1) checkpoint fail LOUDLY on resume: Spark's state-schema
compatibility check compares field TYPES only, and v1's per-slot
emitted-flags column was also ``array<long>`` — without the extra field
a v1 checkpoint would resume silently, its 0/1 flags misread as ledger
timestamps, and already-emitted buffered windows would double-emit. The
field-count mismatch forces the rejection the upgrade needs; re-drive
stage 2 from the stat parquet (the source of truth) with a fresh
checkpoint.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from anomalydetector_spark.plans.fused import duration_seconds

PAIR_STATE_SCHEMA = StructType(
    [
        StructField("version", LongType()),
        StructField("ts_us", ArrayType(LongType())),
        StructField("vecs_flat", ArrayType(DoubleType())),
        StructField("emitted_ts", ArrayType(LongType())),
    ]
)

STATE_VERSION = 2
WALK_STATE_VERSION = 1

# ledger cap: a pathological-granularity backstop, not a tuning knob —
# a decade of daily windows is ~29 KB of ledger
EMITTED_RETENTION = 1_000_000

ORDERED_NONE = -(1 << 62)  # "no window consumed yet" sentinel

SERIES_KEY = ("partition_key", "stat_name")


def duration_us(duration: str) -> int:
    """:func:`~anomalydetector_spark.plans.fused.duration_seconds` (the
    one window-duration grammar) in microseconds."""
    return duration_seconds(duration) * 1_000_000


def half_up_micro(x: float) -> int:
    """Spark ``round(double, 0)`` semantics: shortest decimal repr →
    BigDecimal HALF_UP — required for bit-parity with the batch
    ``F.round`` (Python's ``round`` is banker's and disagrees on exact
    .5 reprs)."""
    return int(Decimal(repr(x)).quantize(0, rounding=ROUND_HALF_UP))


def epoch_us(ts) -> np.ndarray:
    """Timestamps (a Series or an Index) as int64 epoch microseconds."""
    return np.asarray(ts.astype("datetime64[us]").astype("int64"))


def schema_names(schema: str) -> list[str]:
    return [c.split()[0] for c in schema.split(",")]


def stage1_input(
    stream: DataFrame,
    partition_by: str | None,
    watermark_delay: str | None,
    ts_col: str,
) -> DataFrame:
    """The stage-1 prologue: ``withWatermark`` (skipped when
    ``watermark_delay`` is None — required when chaining after another
    stateful stage that already set it; Spark disallows redefining the
    watermark inside one query) plus the ``partition_key`` column
    (``'global'``, or ``partition_by`` as a string)."""
    if watermark_delay is not None:
        stream = stream.withWatermark(ts_col, watermark_delay)
    return stream.withColumn(
        "partition_key",
        F.lit("global")
        if partition_by is None
        else F.col(partition_by).cast("string"),
    )


def apply_stateful(
    stream: DataFrame, keys, fn, schema: str, state_schema: StructType
) -> DataFrame:
    """Append-mode ``applyInPandasWithState`` with no timeout: a stat
    series lives as long as its table does."""
    return stream.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def collect_reference(reference: DataFrame) -> dict:
    """The frozen per-series ``(mu, sigma)`` frame (a bounded BATCH
    frame, e.g. ``trend.cusum_reference`` over a training period),
    collected once and shipped in the state-function closure."""
    rows = reference.select(*SERIES_KEY, "mu", "sigma").collect()
    return {(r.partition_key, r.stat_name): (r.mu, r.sigma) for r in rows}


# ---- pair streams ----


def complete_pairs(buf: dict, emitted: set, dur_us: int) -> list:
    """Every buffered window whose predecessor is buffered and which the
    ledger has not emitted, as ``(ts_us, prev, cur)`` in timestamp
    order. The ledger (not a buffer-slot flag) decides emission, so a
    stage-1 restart replaying windows OLDER than the buffer horizon
    still cannot double-emit them."""
    return [
        (t, buf[t - dur_us], buf[t])
        for t in sorted(buf)
        if t not in emitted and t - dur_us in buf
    ]


def pair_step(state, items, dur_us, buffer_windows, version, decode, encode):
    """One micro-batch of the pair machine: ``decode(ts_us, *fields)``
    rebuilds the buffer from ``state = (version, ts_us, *fields,
    emitted_ts)``, this micro-batch's ``(ts_us, payload)`` ``items``
    merge in (finalized windows are immutable — the first copy wins),
    newly completed pairs are returned and the buffer trimmed to the
    last ``buffer_windows`` windows is persisted via ``encode(payloads)
    -> fields`` together with the ledger."""
    buf, emitted = {}, set()
    if state.exists:
        _ver, s_ts, *fields, s_em = state.get
        buf = decode([int(t) for t in s_ts], *fields)
        emitted = {int(t) for t in s_em}
    for t, x in items:
        buf.setdefault(int(t), x)
    out = complete_pairs(buf, emitted, dur_us)
    emitted.update(t for t, _, _ in out)
    kept = sorted(buf)[-buffer_windows:]
    state.update(
        (
            version,
            kept,
            *encode([buf[t] for t in kept]),
            sorted(emitted)[-EMITTED_RETENTION:],
        )
    )
    return out


def window_pairs(
    state,
    ts_us: np.ndarray,
    vecs: np.ndarray,
    n_vec: int,
    dur_us: int,
    buffer_windows: int,
) -> list[tuple[int, np.ndarray, np.ndarray]]:
    """:func:`pair_step` over float64 vectors (``PAIR_STATE_SCHEMA``):
    merge this micro-batch's ``(ts_us[i], vecs[i])`` finalized windows
    and return every NEWLY completed ``(window_ts_us, prev_vec,
    cur_vec)`` pair in timestamp order (exactly once across the
    stream's lifetime)."""
    return pair_step(
        state, zip(ts_us, vecs), dur_us, buffer_windows, STATE_VERSION,
        lambda ts, flat: dict(
            zip(ts, np.asarray(flat, dtype="float64").reshape(len(ts), n_vec))
        ),
        lambda vs: ([float(x) for v in vs for x in v],),
    )


def pair_frame(key: tuple, pairs: list, score, schema: str) -> pd.DataFrame:
    """One output row ``(partition_key, window_start, *score(prev,
    cur))`` per pair, in ``schema`` column order."""
    return pd.DataFrame(
        [
            (key[0], pd.Timestamp(t, unit="us"), *score(prev, cur))
            for t, prev, cur in pairs
        ],
        columns=schema_names(schema),
    )


def vector_pair_fn(schema, vectors, score, n_vec, dur_us, buffer_windows):
    """State function of a float-vector pair stream:
    ``vectors(key, pdf)`` turns a micro-batch into ``(ts_us, vecs)`` (or
    None when it holds no window), ``score(prev, cur)`` is the per-pair
    math. Always yields one (possibly empty) frame."""

    def fn(key, pdfs, state):
        batch = vectors(key, pd.concat(list(pdfs), ignore_index=True))
        pairs = (
            window_pairs(state, *batch, n_vec, dur_us, buffer_windows)
            if batch is not None
            else []
        )
        yield pair_frame(key, pairs, score, schema)

    return fn


# ---- ordered walks ----


def walk_state_schema(*walk: StructField) -> StructType:
    """``(version, last_ts_us, *walk, buf_ts_us[], buf_vals[])``."""
    return StructType(
        [
            StructField("version", LongType()),
            StructField("last_ts_us", LongType()),
            *walk,
            StructField("buf_ts_us", ArrayType(LongType())),
            StructField("buf_vals", ArrayType(DoubleType())),
        ]
    )


def ordered_drain(
    buf: dict, last_ts: int, dur_us: int, horizon: int,
    trust_first: bool = False,
) -> tuple[list, int]:
    """Shared consume rule for ORDER-SENSITIVE walks (CUSUM, EWMA,
    seasonal): pop buffered ``{ts_us: value}`` windows in strict
    timestamp order — the oldest window is consumable when it is
    contiguous with the last consumed one (``last_ts + dur_us``, the
    fast path) or when more than ``horizon`` newer windows have
    accumulated behind it (the near-sorted horizon has passed; a
    still-missing older window is declared lost and the caller's
    pointer will drop it on late arrival). Returns the consumed
    ``[(ts, value), ...]`` and the advanced pointer.

    COLD START: before anything has been consumed (``last_ts ==
    ORDERED_NONE``) the contiguous fast path has no anchor, so nothing
    drains until MORE than ``horizon`` windows are buffered — a series
    with ≤ ``horizon`` total windows never emits, and first results
    lag ~``horizon + 1`` window durations. ``trust_first=True`` opts
    out: the oldest buffered window is declared the stream's first and
    consumed immediately — correct for sources known to deliver in
    order, but an earlier window arriving later is then dropped."""
    out = []
    while buf:
        t0 = min(buf)
        cold = last_ts == ORDERED_NONE
        contiguous = (not cold and t0 == last_ts + dur_us) or (
            cold and trust_first
        )
        if not contiguous and len(buf) <= horizon:
            break
        out.append((t0, buf.pop(t0)))
        last_ts = t0
    return out, last_ts


def ordered_walk_fn(
    schema: str, init, step, dur_us: int, buffer_windows: int,
    trust_first: bool = False, dtypes: dict | None = None,
):
    """State function of an ordered walk keyed by ``SERIES_KEY`` over
    ``(window_start, value)`` rows. Each consumed window becomes the
    output row ``(key..., window_start, value, *row)`` in ``schema``
    column order; ``timestamp`` columns after ``window_start`` carry
    epoch µs (None → NULL), ``dtypes`` pins the rest (e.g. nullable
    ``Float64``)."""
    names = schema_names(schema)
    stamps = [
        name
        for name, typ in (c.split() for c in schema.split(","))
        if typ == "timestamp"
    ]

    def fn(key, pdfs, state):
        new = pd.concat(list(pdfs), ignore_index=True)
        key = tuple(key)
        if state.exists:
            _ver, last_ts, *walk, buf_ts, buf_vals = state.get
            buf = dict(zip((int(t) for t in buf_ts), buf_vals))
        else:
            last_ts, walk, buf = ORDERED_NONE, init(key), {}
        for t, v in zip(
            epoch_us(new["window_start"]).tolist(), new["value"].tolist()
        ):
            # the pointer IS the ledger: consumed windows never re-enter;
            # NULL/NaN values are excluded like the batch filter
            if (last_ts == ORDERED_NONE or t > last_ts) and (
                v is not None and v == v
            ):
                buf.setdefault(t, float(v))
        consumed, last_ts = ordered_drain(
            buf, last_ts, dur_us, buffer_windows, trust_first
        )
        rows = []
        for t, v in consumed:
            walk, row = step(key, walk, t, v)
            rows.append((t, v, *row))
        kept = sorted(buf)
        state.update(
            (
                WALK_STATE_VERSION, int(last_ts), *walk,
                kept, [float(buf[t]) for t in kept],
            )
        )
        if not rows:
            return iter(())
        out = pd.DataFrame(rows, columns=names[2:])
        out.insert(0, "partition_key", key[0])
        out.insert(1, "stat_name", key[1])
        for c in stamps:
            out[c] = pd.to_datetime(out[c], unit="us", errors="coerce")
        return iter((out.astype(dtypes or {}),))

    return fn
