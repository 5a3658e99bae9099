"""The benchmark's workloads: inputs made from the seed, one op, and the
checks every op must pass.

Each workload is a closed loop with one client: an op starts when the
previous one has ended. The engine only ever sees the generated tables;
ground truth comes from an independent DataFrame program (or from
``datagen.truth()``) built once in setup, outside the timing.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
from pyspark.sql import functions as F

from anomalydetector_spark import datagen, incremental, manifest, stats
from anomalydetector_spark.drift import lens_consensus
from anomalydetector_spark.engine import ValidationConfig, run_validation
from anomalydetector_spark.kernel.sr import MIN_POINTS, SrParams, sr_detect
from anomalydetector_spark.operators import trend
from anomalydetector_spark.operators.snapshot import partition_digests
from anomalydetector_spark.plans import fused
from anomalydetector_spark.sources import tables

# start of datagen's window grid (generate_pages' default start_ts), one
# window per day
WINDOW0 = datetime(2025, 1, 1)
BUCKETS = 32
CHANGED_BUCKETS = 3


@dataclass
class OpResult:
    """What one op produced, collected for the checks."""

    verdicts: list
    violations: Counter  # (check_name, url) -> rows
    scored: list  # drift_scored rows
    drift_verdicts: list
    checks: dict = field(default_factory=dict)  # name -> passed
    violation_recall: float = 0.0
    drift_recall: float = 0.0
    drift_detection: dict = field(default_factory=dict)  # stat -> share
    digest: str = ""


def materialize(df) -> None:
    """Compute every column of every row without moving data to the
    driver."""
    df.write.format("noop").mode("overwrite").save()


def violation_truth(pages, domains) -> Counter:
    """(check_name, url) multiset of the rows the engine must report,
    derived without engine code (as tools/violation_recall.py does)."""
    dup_urls = pages.groupBy("url").count().filter(F.col("count") > 1)
    rows = (
        pages.join(dup_urls.select("url"), "url", "left_semi")
        .select(F.lit("unique_url").alias("check_name"), "url")
        .unionByName(
            pages.filter(F.col("domain").isNotNull())
            .join(domains, "domain", "left_anti")
            .select(F.lit("ref_domain").alias("check_name"), "url")
        )
        .unionByName(
            pages.filter(F.col("warc_ts").isNull()).select(
                F.lit("not_null_warc_ts").alias("check_name"), "url"
            )
        )
    )
    return Counter((r.check_name, r.url) for r in rows.collect())


def drift_truth(partitions) -> set:
    """(partition_key, stat_name, window_start) of every injected drift
    window, in every partition whose rows cover the whole window grid."""
    wins = datagen.truth()["drift_windows"]
    return {
        (p, stat, WINDOW0 + timedelta(days=w))
        for p in partitions
        for stat, w in wins.items()
    }


def full_partitions(pages, partition_by: str | None) -> list[str]:
    """Partitions with rows in every window of datagen's grid: the ones
    whose stat series are long enough to score. (A bucket holding only
    the dangling domains of ``REF_WIN`` has rows in one window.)"""
    if partition_by is None:
        return ["global"]
    n = datagen.truth()["n_windows"]
    rows = (
        pages.groupBy(partition_by)
        .agg(F.countDistinct("wid").alias("w"))
        .filter(F.col("w") == n)
        .collect()
    )
    return sorted(r[0] for r in rows)


def drift_detection(truth: set, flagged: set) -> dict[str, float]:
    """Per injected stat, the share of partitions that flag its window."""
    out: dict[str, list] = {}
    for key in truth:
        out.setdefault(key[1], []).append(key in flagged)
    return {stat: sum(v) / len(v) for stat, v in sorted(out.items())}


def regimes_found(truth: set, flagged: set) -> tuple[int, int]:
    """(regimes found, regimes injected). A regime is one injected drift
    window; ``datagen.truth()`` lists the stats that show it (the lang
    shift shows in both ``lang_frac_en`` and ``lang_frac_zh``). It is
    found in a partition when any of its stats flags its window, and
    found overall when at least half the partitions find it: SR scores
    each partition's series on its own, and a small partition can miss a
    shift the others show."""
    parts: dict = {}  # window -> partition -> found
    for p, stat, w in truth:
        by_part = parts.setdefault(w, {})
        by_part[p] = by_part.get(p, False) or (p, stat, w) in flagged
    found = sum(sum(v.values()) >= len(v) / 2 for v in parts.values())
    return found, len(parts)


def verdict_digest(verdicts, drift_verdicts) -> str:
    """sha256 of the sorted hard-check and drift verdict rows."""
    rows = sorted(
        repr(
            (
                r.check_name,
                r.partition_key,
                r.passed,
                r.violation_count,
                r.rows_scanned,
            )
        )
        for r in verdicts
    ) + sorted(
        repr(
            (
                r.partition_key,
                r.stat_name,
                r.n_windows,
                r.n_anomalous,
                r.verdict,
                None if r.max_score is None else round(r.max_score, 9),
            )
        )
        for r in drift_verdicts
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def sr_parity(tr, scored, params: SrParams) -> bool:
    """Re-score every series the engine scored with the numpy kernel in
    the driver; the engine's score and is_anomaly must match. Only the
    kernel calls are inside the ``kernel.sr_detect`` span."""
    series: dict = {}
    for r in scored:
        series.setdefault((r.partition_key, r.stat_name), []).append(r)
    engine = []  # (values, score, is_anomaly) per scorable series
    for rows in series.values():
        if len(rows) < MIN_POINTS:
            continue
        rows.sort(key=lambda r: r.window_start)
        engine.append(
            (
                np.array([r.value for r in rows], dtype=float),
                np.array([np.nan if r.score is None else r.score for r in rows]),
                np.array([bool(r.is_anomaly) for r in rows]),
            )
        )
    with tr.span("kernel.sr_detect") as s:
        kernel = [sr_detect(np.arange(len(v)), v, params) for v, _, _ in engine]
        s.counts["series"] = len(engine)
    return all(
        np.allclose(score, k["score"], rtol=1e-9, atol=1e-12, equal_nan=True)
        and np.array_equal(anom, np.asarray(k["isAnomaly"], dtype=bool))
        for (_, score, anom), k in zip(engine, kernel)
    )


class Workload:
    """One workload: ``prepare`` (one set-up repetition), ``build_truth``
    (once, untimed), ``op`` (timed), ``check`` and ``probe`` (untimed;
    ``probe`` runs in traced runs only)."""

    name = ""
    rows = 0
    config = ValidationConfig()

    def __init__(self, spark, tracer, seed: int, workdir: str):
        self.spark = spark
        self.tr = tracer
        self.seed = seed
        self.workdir = workdir
        self.truth_violations: Counter = Counter()
        self.truth_drift: set = set()
        self.first_digest: str | None = None
        # the referential dimension: seed-independent, built once
        self.domains = datagen.domains_dim(spark).cache()
        self.domains.count()

    def check(self, out: OpResult) -> OpResult:
        """The per-op correctness gate; also fills both recalls."""
        truth = self.truth_violations
        hit = sum((truth & out.violations).values())
        out.violation_recall = hit / sum(truth.values()) if truth else 1.0
        out.checks["violations_match_truth"] = out.violations == truth

        flagged = {
            (r.partition_key, r.stat_name, r.window_start)
            for r in out.scored
            if r.is_anomaly
        }
        out.drift_detection = drift_detection(self.truth_drift, flagged)
        found, injected = regimes_found(self.truth_drift, flagged)
        out.drift_recall = found / injected
        out.checks["drift_flags_match_truth"] = found == injected

        out.digest = verdict_digest(out.verdicts, out.drift_verdicts)
        if self.first_digest is None:
            self.first_digest = out.digest
        out.checks["verdict_digest_stable"] = out.digest == self.first_digest

        out.checks["sr_parity"] = sr_parity(self.tr, out.scored, self.config.sr)
        return out

    def op_counts(self) -> dict:
        """Per-layer counts of the last op that no span records."""
        return {}

    def probe_fused(self, pages, input_rows: int, partition_by: str) -> None:
        """Traced runs only: time the two shared scans on their own by
        calling the fused planner directly and counting each aggregate."""
        cfg = self.config
        keyed = fused.keyed_input(pages, cfg.window_duration, partition_by)
        scans = fused.build_fused_scans(
            keyed, ref_dim=self.domains, unique_key=cfg.unique_key
        )
        with self.tr.span("fused.cube") as s:
            s.counts["rows"] = scans.cube.count()
            s.counts["input_rows"] = input_rows
        with self.tr.span("fused.profile") as s:
            s.counts["rows"] = scans.profile.count()


class DriftPartitioned(Workload):
    """A cached pages table with a 32-bucket domain column, validated per
    bucket with SR margins: ``run_validation``, then verdicts, violations,
    drift scores and drift verdicts collected and the stat series
    counted. The CUSUM and EWMA lenses run in traced runs only, as probes
    on the op's stat series: with them in the op, a cold op took ~50 s,
    more than the benchmark's time budget allows per run."""

    name = "drift_partitioned"
    rows = 150_000
    config = ValidationConfig(partition_by="bucket", sr=SrParams(with_margin=True))
    cusum = (0.5, 5.0)  # (k, h)
    ewma = (0.2, 3.0)  # (lambda, L)

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.pages = None

    def prepare(self) -> None:
        if self.pages is not None:
            self.pages.unpersist(blocking=True)
        with self.tr.span("datagen.generate") as s:
            df = datagen.generate_pages(self.spark, self.rows, seed=self.seed)
            df = df.withColumn("bucket", stats.domain_bucket(BUCKETS)).cache()
            s.counts["rows"] = df.count()
        self.pages = df
        self.input_rows = s.counts["rows"]

    def build_truth(self) -> None:
        self.truth_violations = violation_truth(self.pages, self.domains)
        self.truth_drift = drift_truth(full_partitions(self.pages, "bucket"))

    def op(self):
        tr = self.tr
        with tr.span("engine.plan"):
            res = run_validation(self.pages, self.domains, self.config)
        with tr.span("engine.verdicts") as s:
            verdicts = res.verdicts.collect()
            s.counts["rows"] = len(verdicts)
        with tr.span("engine.violations") as s:
            viol = res.violations.collect()
            s.counts["rows"] = len(viol)
        with tr.span("stats.series") as s:
            s.counts["rows"] = res.stat_series.count()
        with tr.span("drift.score") as s:
            scored = res.drift_scored.collect()
            s.counts["series"] = len({(r.partition_key, r.stat_name) for r in scored})
        with tr.span("drift.verdicts"):
            dverdicts = res.drift_verdicts.collect()
        out = OpResult(
            verdicts, Counter((r.check_name, r.url) for r in viol), scored, dverdicts
        )
        return out, res

    def probe(self, res) -> None:
        self.probe_fused(self.pages, self.input_rows, "bucket")
        keys = ["partition_key", "stat_name"]
        with self.tr.span("trend.cusum"):
            cs = trend.series_cusum(
                res.stat_series, keys, "window_start", "value", *self.cusum
            )
            trend.cusum_verdicts(cs, keys, "window_start").collect()
        with self.tr.span("trend.ewma"):
            ew = trend.ewma_chart(res.stat_series, keys, "window_start", "value", *self.ewma)
            materialize(ew)
        with self.tr.span("trend.consensus"):
            materialize(lens_consensus(res.drift_scored, cs, ew))

    def release(self, res) -> None:
        res.unpersist()


class IncrementalResume(Workload):
    """Day-0 and day-1 parquet snapshots partitioned by domain bucket,
    with ``CHANGED_BUCKETS`` buckets edited on day 1 and the day-0
    digests stored. One op: incremental validation against the stored
    digests, violations and drift verdicts written to parquet, verdicts
    appended to a fresh manifest, then the same append again, which must
    skip every row."""

    name = "incremental_resume"
    rows = 100_000
    config = ValidationConfig()

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.day0 = os.path.join(self.workdir, "day0")
        self.day1 = os.path.join(self.workdir, "day1")
        self.digest_store = os.path.join(self.workdir, "digests")
        self.compare_cols: list[str] = []
        # the buckets edited on day 1: any but the hot domain's
        hot = (
            self.spark.createDataFrame([(datagen.HOT_DOMAIN,)], "domain string")
            .select(stats.domain_bucket(BUCKETS))
            .first()[0]
        )
        cold = sorted(f"dom_b{i}" for i in range(BUCKETS) if f"dom_b{i}" != hot)
        self.changed = sorted(random.Random(self.seed).sample(cold, CHANGED_BUCKETS))
        self.n_ops = 0

    def prepare(self) -> None:
        spark = self.spark
        with self.tr.span("datagen.generate") as s:
            pages = datagen.generate_pages(spark, self.rows, seed=self.seed).withColumn(
                "bucket", stats.domain_bucket(BUCKETS)
            )
            with self.tr.span("sources.write_snapshots"):
                pages.write.mode("overwrite").partitionBy("bucket").parquet(self.day0)
                day0 = spark.read.parquet(self.day0)
                day0.withColumn(
                    "text",
                    F.when(
                        F.col("bucket").isin(self.changed),
                        F.concat(F.col("text"), F.lit(" rev2")),
                    ).otherwise(F.col("text")),
                ).write.mode("overwrite").partitionBy("bucket").parquet(self.day1)
            self.compare_cols = incremental.resolve_compare_cols(day0, "bucket", None)
            with self.tr.span("incremental.store_digests"):
                digests = partition_digests(day0, "bucket", self.compare_cols)
                if os.path.isdir(self.digest_store):
                    shutil.rmtree(self.digest_store)
                incremental.write_partition_digests(
                    digests, self.digest_store, "day0", "bucket", self.compare_cols
                )
            s.counts["rows"] = spark.read.parquet(self.day1).count()
        self.input_rows = s.counts["rows"]

    def build_truth(self) -> None:
        new = self.spark.read.parquet(self.day1)
        subset = new.filter(F.col("bucket").isin(self.changed))
        self.truth_violations = violation_truth(subset, self.domains)
        self.truth_drift = drift_truth(
            sorted(set(self.changed) & set(full_partitions(subset, "bucket")))
        )

    def op(self):
        spark, tr = self.spark, self.tr
        out_dir = os.path.join(self.workdir, f"out{self.n_ops}")
        manifest_path = os.path.join(out_dir, "manifest")
        self.n_ops += 1
        new = spark.read.parquet(self.day1)
        with tr.span("incremental.validate") as s:
            old_digests = incremental.read_partition_digests(
                spark, self.digest_store, "day0", "bucket", self.compare_cols
            )
            inc = incremental.incremental_validate(
                None,
                new,
                "bucket",
                self.domains,
                self.config,
                compare_cols=self.compare_cols,
                old_digests=old_digests,
            )
            s.counts["partitions_total"] = inc.churn.count()
            s.counts["partitions_revalidated"] = len(inc.todo)
        res = inc.result
        with tr.span("engine.verdicts") as s:
            verdicts = res.verdicts.collect()
            s.counts["rows"] = len(verdicts)
        with tr.span("stats.series") as s:
            s.counts["rows"] = res.stat_series.count()
        with tr.span("drift.score") as s:
            scored = res.drift_scored.collect()
            s.counts["series"] = len({(r.partition_key, r.stat_name) for r in scored})
        with tr.span("drift.verdicts"):
            dverdicts = res.drift_verdicts.collect()
        with tr.span("sources.write"):
            tables.write_output_bucketed(res.violations, os.path.join(out_dir, "violations"))
            tables.write_output(res.drift_verdicts, os.path.join(out_dir, "drift_verdicts"))
        with tr.span("manifest.append"):
            first = manifest.run_with_resume(spark, res.verdicts, "day1", manifest_path).collect()
        with tr.span("manifest.resume"):
            second = manifest.run_with_resume(spark, res.verdicts, "day1", manifest_path).collect()
        self.last = {"inc": inc, "out_dir": out_dir, "first": first, "second": second}
        return OpResult(verdicts, Counter(), scored, dverdicts), inc

    def check(self, out: OpResult) -> OpResult:
        """Reads back what the op wrote, then the common checks."""
        spark, last = self.spark, self.last
        viol = spark.read.parquet(os.path.join(last["out_dir"], "violations")).collect()
        out.violations = Counter((r.check_name, r.url) for r in viol)
        last["violation_rows"] = len(viol)
        last["manifest_rows"] = manifest.read_manifest(
            spark, os.path.join(last["out_dir"], "manifest")
        ).count()
        out = super().check(out)
        out.checks["revalidated_exactly_changed"] = last["inc"].todo == self.changed
        n = len(out.verdicts)
        # a fresh manifest takes every verdict once; the resume appends none
        out.checks["resume_skips_every_row"] = last["manifest_rows"] == n
        key = lambda r: (r.partition_spec, r.check_name, r.verdict)  # noqa: E731
        out.checks["resume_view_unchanged"] = sorted(map(key, last["first"])) == sorted(
            map(key, last["second"])
        ) and len(last["first"]) == n
        return out

    def op_counts(self) -> dict:
        last = self.last
        n = len(last["first"])
        return {
            "manifest.rows_appended": last["manifest_rows"],
            "manifest.rows_skipped_on_resume": 2 * n - last["manifest_rows"],
            "sources.bytes_written": dir_bytes(last["out_dir"], skip="manifest"),
            "engine.violation_rows": last["violation_rows"],
        }

    def probe(self, inc) -> None:
        new = self.spark.read.parquet(self.day1)
        with self.tr.span("incremental.digest") as s:
            s.counts["partitions"] = partition_digests(new, "bucket", self.compare_cols).count()
        subset = new.filter(F.col("bucket").isin(self.changed))
        self.probe_fused(subset, subset.count(), "bucket")

    def release(self, inc) -> None:
        inc.unpersist()


def dir_bytes(path: str, skip: str = "") -> int:
    """Bytes of the files under ``path``, leaving out the subdirectory
    ``skip``."""
    total = 0
    for dirpath, dirnames, files in os.walk(path):
        if skip in dirnames:
            dirnames.remove(skip)
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


WORKLOADS = {w.name: w for w in (DriftPartitioned, IncrementalResume)}
