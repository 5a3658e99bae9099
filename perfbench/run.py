#!/usr/bin/env python3
"""Validation-engine benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload drift_partitioned --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. The benchmark sizes Spark to the host,
builds the workload's inputs from ``--seed`` (set-up, repeated
``SETUP_REPS`` times), builds ground truth, then runs ops in a closed loop
with one client for ``--seconds`` (at least one op), checking every op.
The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

SETUP_REPS = 3
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A quarter of the host's RAM, between 1 and 4 GiB: the inputs are
    at most a few hundred MB cached, and the host is shared."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    gib = min(4, max(1, kib // (4 * 1024 * 1024)))
    return f"{gib}g"


def size_host(workdir: str) -> dict:
    """Environment for the session and its Python workers: CPUs and
    driver memory from the host, the package importable from any working
    directory, every scratch file inside ``workdir``."""
    local, tmp = os.path.join(workdir, "local"), os.path.join(workdir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(host_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYTHONDONTWRITEBYTECODE": "1",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # collected timestamps come back as naive datetimes in local time
        "TZ": "UTC",
    }
    os.environ.update(env)
    time.tzset()
    return {
        # no hsperfdata file in /tmp; native libraries unpack into tmp
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def read_steal_jiffies() -> float:
    with open("/proc/stat") as f:
        return float(f.readline().split()[8])  # cpu user nice system idle iowait irq softirq steal


class HostNoise:
    """Context only, never a gate: steal% of the host's CPUs over the run
    (hypervisor steal is invisible to loadavg) and the 1-minute loadavg
    at its end."""

    def __init__(self):
        self.t0 = time.monotonic()
        self.s0 = read_steal_jiffies()

    def read(self) -> dict[str, tuple[float, str]]:
        dt = time.monotonic() - self.t0
        hz = os.sysconf("SC_CLK_TCK")
        steal = 100.0 * (read_steal_jiffies() - self.s0) / hz / (dt * (os.cpu_count() or 1))
        return {
            "host.loadavg_1m": (os.getloadavg()[0], "load"),
            "host.steal_pct": (steal, "%"),
        }


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM (VmHWM)."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kib / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def median_or_zero(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def run(args, workload_cls, workdir: str) -> dict:
    noise = HostNoise()
    conf = size_host(workdir)

    from spans import Tracer

    t0 = time.perf_counter()
    from anomalydetector_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    tr = Tracer(spark.sparkContext, bool(args.trace))
    with tr.span("session.first_job"):
        spark.range(1).count()
    start_s = time.perf_counter() - t0
    try:
        wl = workload_cls(spark, tr, args.seed, workdir)
        prep = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t)
        wl.build_truth()

        ops = []  # (seconds, OpResult | None)
        loop_t0 = time.perf_counter()
        while not ops or time.perf_counter() - loop_t0 < args.seconds:
            tr.op_id = len(ops)
            dt = out = res = None
            t = time.perf_counter()
            try:
                with tr.span("op"):
                    out, res = wl.op()
                dt = time.perf_counter() - t
                out = wl.check(out)
                if args.trace:
                    wl.probe(res)
            except Exception:  # the op counts as failed; the loop goes on
                traceback.print_exc()
                out = None
                if dt is None:
                    dt = time.perf_counter() - t
            finally:
                tr.op_id = -1
            ops.append((dt, out))
            if res is not None:
                wl.release(res)
        jvm_rss = jvm_peak_rss_mb(spark)
        layer = layer_metrics(tr, wl, ops, start_s, prep, jvm_rss, args) if args.trace else {}
    finally:
        stop_spark(spark)

    failed = [o for _, o in ops if o is None or not all(o.checks.values())]
    good = [o for _, o in ops if o is not None]
    op_p50 = statistics.median(dt for dt, _ in ops)
    e2e = {
        "setup_s": (start_s + statistics.median(prep), "s"),
        "op_p50_s": (op_p50, "s"),
        "docs_per_s": (wl.input_rows / op_p50, "docs/s"),
        "violation_recall": (min((o.violation_recall for o in good), default=0.0), "fraction"),
        "drift_recall": (min((o.drift_recall for o in good), default=0.0), "fraction"),
        "ok_frac": (1.0 - len(failed) / len(ops), "fraction"),
    }
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "input_docs": wl.input_rows,
        "op_samples": len(ops),
        "op_s": [dt for dt, _ in ops],
        "failed_frac": len(failed) / len(ops),
        "checks": [o.checks if o else "raised" for _, o in ops],
        "drift_detection": [o.drift_detection if o else None for _, o in ops],
        "verdict_digest": [o.digest if o else None for _, o in ops],
        "setup_reps_s": prep,
        "session_start_s": start_s,
        # JVM + Python driver; varies by a fifth from run to run with heap
        # growth, so it is context here and session.jvm_peak_rss_mb per layer
        "peak_rss_mb": jvm_rss
        + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        "cpus": host_cpus(),
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }
    host = noise.read()
    context.update({k: v for k, (v, _) in host.items()})
    metrics = {**layer, **host} if args.trace else e2e
    return {
        "context": context,
        "result": {
            "correct": not failed,
            "attempted": len(ops),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


LAYERS = (
    "session", "datagen", "fused", "engine", "stats", "drift",
    "kernel", "trend", "incremental", "sources", "manifest",
)


def layer_metrics(tr, wl, ops, start_s, prep, jvm_rss, args) -> dict:
    """Per-layer metrics of a traced run, from its spans (medians over
    ops for op stages, over repetitions for set-up stages)."""
    tr.resolve_jobs()
    os.makedirs(OUT, exist_ok=True)
    tr.dump(os.path.join(OUT, f"spans-{args.workload}-seed{args.seed}.jsonl"))

    def per_op(name, what="duration"):
        by_op: dict[int, float] = {}
        for s in tr.spans:
            if s.name == name:
                v = s.duration if what == "duration" else s.counts.get(what, 0)
                by_op[s.op_id] = by_op.get(s.op_id, 0.0) + v
        return median_or_zero(list(by_op.values()))

    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = (start_s, "s")
    m["session.jvm_peak_rss_mb"] = (jvm_rss, "MB")
    m["datagen.generate_s"] = (statistics.median(prep), "s")
    m["datagen.rows"] = (wl.input_rows, "count")
    cube_rows = per_op("fused.cube", "rows")
    m["fused.cube_s"] = (per_op("fused.cube"), "s")
    m["fused.cube_rows"] = (cube_rows, "count")
    m["fused.profile_s"] = (per_op("fused.profile"), "s")
    m["fused.profile_rows"] = (per_op("fused.profile", "rows"), "count")
    m["fused.rows_per_cube_row"] = (
        per_op("fused.cube", "input_rows") / cube_rows if cube_rows else 0.0,
        "ratio",
    )
    m["engine.plan_s"] = (per_op("engine.plan"), "s")
    m["engine.verdicts_s"] = (per_op("engine.verdicts"), "s")
    m["engine.verdict_rows"] = (per_op("engine.verdicts", "rows"), "count")
    m["engine.violations_s"] = (per_op("engine.violations"), "s")
    m["engine.violation_rows"] = (per_op("engine.violations", "rows"), "count")
    m["stats.series_s"] = (per_op("stats.series"), "s")
    m["stats.series_rows"] = (per_op("stats.series", "rows"), "count")
    score_s = per_op("drift.score")
    series = per_op("drift.score", "series")
    sr_s = per_op("kernel.sr_detect")
    m["drift.score_s"] = (score_s, "s")
    m["drift.verdicts_s"] = (per_op("drift.verdicts"), "s")
    m["drift.series"] = (series, "count")
    m["drift.series_per_s"] = (series / score_s if score_s else 0.0, "1/s")
    m["drift.kernel_share"] = (sr_s / score_s if score_s else 0.0, "ratio")
    m["kernel.sr_detect_s"] = (sr_s, "s")
    m["kernel.series_per_s"] = (
        per_op("kernel.sr_detect", "series") / sr_s if sr_s else 0.0,
        "1/s",
    )
    m["trend.cusum_s"] = (per_op("trend.cusum"), "s")
    m["trend.ewma_s"] = (per_op("trend.ewma"), "s")
    m["trend.consensus_s"] = (per_op("trend.consensus"), "s")
    m["incremental.digest_s"] = (per_op("incremental.digest"), "s")
    m["incremental.validate_s"] = (per_op("incremental.validate"), "s")
    m["incremental.partitions_total"] = (
        per_op("incremental.validate", "partitions_total"), "count")
    m["incremental.partitions_revalidated"] = (
        per_op("incremental.validate", "partitions_revalidated"), "count")
    m["sources.write_s"] = (per_op("sources.write"), "s")
    m["sources.bytes_written"] = (0.0, "bytes")
    m["manifest.append_s"] = (per_op("manifest.append"), "s")
    m["manifest.resume_s"] = (per_op("manifest.resume"), "s")
    m["manifest.rows_appended"] = (0.0, "count")
    m["manifest.rows_skipped_on_resume"] = (0.0, "count")
    for k, v in wl.op_counts().items():
        m[k] = (float(v), m[k][1])

    self_s = tr.self_times()
    for layer in LAYERS:
        spans = [s for s in tr.spans if s.layer == layer]
        m[f"{layer}.self_s"] = (self_s.get(layer, 0.0), "s")
        m[f"{layer}.jobs"] = (sum(s.jobs for s in spans), "count")
        m[f"{layer}.tasks"] = (sum(s.tasks for s in spans), "count")
        m[f"{layer}.tasks_failed"] = (sum(s.tasks_failed for s in spans), "count")

    traced = statistics.median(dt for dt, _ in ops)
    untraced = untraced_op_p50(args.workload)
    m["trace.op_p50_s"] = (traced, "s")
    m["trace.untraced_op_p50_s"] = (untraced, "s")
    m["trace.overhead_s"] = (traced - untraced if untraced else 0.0, "s")
    return m


def untraced_op_p50(workload: str) -> float:
    """Median op_p50_s of the untraced runs of ``workload`` already made
    in this checkout (0 when there are none)."""
    vals = []
    if os.path.isdir(OUT):
        for name in os.listdir(OUT):
            if name.startswith(f"result-{workload}-") and name.endswith("-trace0.json"):
                with open(os.path.join(OUT, name)) as f:
                    vals.append(json.load(f)["result"]["metrics"]["op_p50_s"]["value"])
    return median_or_zero(vals)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "anomalydetector_spark", "engine.py")):
        print(
            "perfbench: no anomalydetector_spark package beside perfbench/; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    sys.dont_write_bytecode = True  # every run compiles the same sources
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    workdir = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    try:
        report = run(args, WORKLOADS[args.workload], workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(OUT, exist_ok=True)
    with open(
        os.path.join(OUT, f"result-{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w"
    ) as f:
        json.dump(report, f)
    print(json.dumps({"context": report["context"]}))
    print(json.dumps(report["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
