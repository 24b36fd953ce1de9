"""Seeded closed-loop benchmark of karta_spark.

    python3 perfbench/run.py --workload pip_tile --seed 1 --seconds 3 --trace 0

Run from the root of a checkout.  One client submits jobs back to back on
``local[<cores>]`` for ``--seconds`` and checks every job's output against
an oracle computed for the seed.  The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``:

- ``--trace 0``: the end-to-end metrics (rows_per_s, setup_s, ok_frac,
  peak_pss_mb), measured with tracing off;
- ``--trace 1``: the per-layer metrics of PER_LAYER below, from a run that
  first repeats the untraced loop and then a traced one, so the tracing
  overhead is measured in the same session.

Inputs, Spark scratch space and temporary files live in ``.perfbench/``
under the checkout; spans of a traced run are kept in
``.perfbench/traces/``.  See perfbench/README.md for the workloads and the
layer-to-end-to-end metric mapping.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


END_TO_END = {"rows_per_s": "1/s", "setup_s": "s", "ok_frac": "frac",
              "peak_pss_mb": "MB"}

# name -> unit; every traced run reports all of them, 0 where the workload
# does not reach the layer
PER_LAYER = {
    "session.start_s": "s",
    "cells.encode_ns_per_row": "ns",
    "spark.scan_s": "s",
    "spark.scan_rows": "count",
    "pip_join.plan_s": "s",
    "pip_join.cover_cells": "count",
    "pip_join.cover_full_frac": "frac",
    "pip_join.candidate_rows": "count",
    "pip_join.refine_rows": "count",
    "pip_join.refine_s": "s",
    "pip_join.pipe_bytes": "bytes",
    "pip_join.refine_yield": "frac",
    "pip_join.task_skew": "ratio",
    "kernels.winding_ns_per_pair": "ns",
    "lineage.write_s": "s",
    "lineage.bytes_written": "bytes",
    "lineage.partitions_recorded_frac": "frac",
    "knn.plan_s": "s",
    "knn.python_s": "s",
    "raster.tiles_s": "s",
    "raster.sample_s": "s",
    "raster.pipe_bytes_per_point": "bytes",
    "images.decode_s": "s",
    "images.pipe_bytes": "bytes",
    "jpeg.decode_us_per_image": "us",
    "images.reference_us_per_image": "us",
    "images.verified_frac": "frac",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_bytes": "bytes",
    "spark.broadcast_bytes": "bytes",
    "spark.python_boot_s": "s",
    "trace.job_s": "s",
    "trace.rows_per_s_untraced": "1/s",
    "trace.rows_per_s_traced": "1/s",
    "trace.overhead_frac": "frac",
    "share.pip_join.plan": "frac",
    "share.pip_join.refine": "frac",
    "share.spark.scan": "frac",
    "share.lineage.write": "frac",
    "share.knn.plan": "frac",
    "share.raster.sample": "frac",
    "share.images.decode": "frac",
}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _isolate(work: str, cpus: int) -> None:
    """Keep every file Spark, the JVM, DuckDB and Python write inside the
    checkout, and make the package importable by the Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the driver heap keeps the program's maximum (spark.driver.memory) and
    # starts at 2g: from the JVM's default start the heap grows during the
    # run, and how far it has grown swings peak memory and job times from
    # run to run (pip_tile, 4 cores: peak PSS spread 0.37 over five seeds,
    # 0.05 with -Xms2g)
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)


def _start_session():
    from karta_spark.session import get_spark

    spark = get_spark("perfbench",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_all() -> None:
    """Stop Spark and the JVM it runs in, then wait for every descendant."""
    from pyspark import SparkContext

    from perfbench.tracing import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 5
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def run_job(wl, spark, spans):
    """One closed-loop job: (seconds, output or None, output correct).
    The caller runs ``wl.after_job()`` once it no longer needs the output."""
    from perfbench.tracing import Stopwatch

    clock = Stopwatch()
    try:
        out = wl.job(spark, spans)
        dt = clock.seconds()
        ok = wl.check(out)
    except Exception:  # a failed job is counted, not fatal
        dt = clock.seconds()
        traceback.print_exc()
        out, ok = None, False
    if not ok:
        print(f"perfbench: {wl.name} job output differs from the oracle",
              file=sys.stderr)
    return dt, out, ok


def setup(wl, spans):
    """Start the session, write the seed's inputs, compute the oracle and
    warm up: (session, set-up seconds, warm-up job times).

    The warm-up is a fixed number of jobs per workload, the number after
    which job times had levelled off when the workload was sized, so that
    set-up time does not jump with a stopping rule."""
    from perfbench.tracing import Spans, Stopwatch

    clock = Stopwatch()
    with spans.span("session.start"):
        spark = _start_session()
    wl.generate(spark, spans)
    wl.compute_expected()
    warm = []
    for _ in range(wl.warmup_jobs):
        dt, _, _ = run_job(wl, spark, Spans(False))
        wl.after_job()
        warm.append(dt)
    return spark, clock.seconds(), warm


def loop(wl, spark, spans, seconds: float, probe=None):
    """Closed loop: start jobs until *seconds* have passed.  Returns job
    times, failure count and, with a probe, per-job layer metrics."""
    times, failed, layers = [], 0, []
    t_end = time.monotonic() + seconds
    while time.monotonic() < t_end:
        job = len(times)
        spans.job = job
        if probe is not None:
            probe.start(job)
        with spans.span("job"):
            dt, out, ok = run_job(wl, spark, spans)
        times.append(dt)
        failed += not ok
        if probe is not None:
            trace = probe.finish()
            if ok:
                rec = wl.layers(trace, spans, job, out)
                # wall time, like the spans it is the base of shares for
                rec.update({"spark.jobs": trace["jobs"], "spark.tasks": trace["tasks"],
                            "trace.job_s": spans.total("job", job)})
                layers.append(rec)
        wl.after_job()
    spans.job = None
    return times, failed, layers


def rows_per_s(wl, times) -> float:
    return statistics.median(wl.rows / t for t in times)


def _report(wl, args, setup_s, warm, times) -> None:
    print(f"perfbench: {wl.name} seed={args.seed} setup_s={setup_s:.2f} "
          f"warm_up_s={[round(t, 2) for t in warm]} "
          f"job_s={[round(t, 3) for t in times]}", file=sys.stderr)


def untraced(wl, args) -> dict:
    from perfbench.tracing import MemorySampler, Spans

    spans = Spans(False)
    # the peak covers set-up and loop: a few seconds of loop alone catch
    # the JVM heap at too few points of its garbage-collection cycle
    with MemorySampler() as rss:
        spark, setup_s, warm = setup(wl, spans)
        times, failed, _ = loop(wl, spark, spans, args.seconds)
    metrics = {
        "rows_per_s": rows_per_s(wl, times),
        "setup_s": setup_s,
        "ok_frac": (len(times) - failed) / len(times),
        "peak_pss_mb": rss.peak / 2 ** 20,
    }
    _report(wl, args, setup_s, warm, times)
    return {"attempted": len(times), "failed": failed,
            "metrics": {k: (v, END_TO_END[k]) for k, v in metrics.items()}}


def traced(wl, args) -> dict:
    from perfbench.tracing import SparkProbe, Spans

    spans = Spans(True)
    spark, setup_s, warm = setup(wl, spans)
    times0, failed0, _ = loop(wl, spark, Spans(False), args.seconds)
    _report(wl, args, setup_s, warm, times0)
    probe = SparkProbe(spark)
    times1, failed1, layers = loop(wl, spark, spans, args.seconds, probe)
    extra = wl.microbench(spark)
    spans.dump(os.path.join(ROOT, ".perfbench", "traces",
                            f"{wl.name}-seed{args.seed}.jsonl"))

    m = {k: 0.0 for k in PER_LAYER}
    for k in {k for rec in layers for k in rec}:
        m[k] = statistics.median(rec.get(k, 0.0) for rec in layers)
    m.update(extra)
    m["session.start_s"] = spans.total("session.start")
    m["raster.tiles_s"] = spans.total("raster.tiles")
    job_s, cpus = m["trace.job_s"] or 1.0, wl.cpus
    m["trace.rows_per_s_untraced"] = rows_per_s(wl, times0)
    m["trace.rows_per_s_traced"] = rows_per_s(wl, times1)
    m["trace.overhead_frac"] = 1.0 - m["trace.rows_per_s_traced"] / m["trace.rows_per_s_untraced"]
    # driver-side spans as a share of the job; executor-side busy time as a
    # share of the job's core-seconds
    m["share.pip_join.plan"] = m["pip_join.plan_s"] / job_s
    m["share.lineage.write"] = m["lineage.write_s"] / job_s
    m["share.knn.plan"] = m["knn.plan_s"] / job_s
    m["share.raster.sample"] = m["raster.sample_s"] / job_s
    m["share.pip_join.refine"] = m["pip_join.refine_s"] / (job_s * cpus)
    m["share.spark.scan"] = m["spark.scan_s"] / (job_s * cpus)
    m["share.images.decode"] = m["images.decode_s"] / (job_s * cpus)
    unknown = set(m) - set(PER_LAYER)
    if unknown:
        raise RuntimeError(f"unlisted per-layer metrics: {sorted(unknown)}")
    return {"attempted": len(times0) + len(times1), "failed": failed0 + failed1,
            "metrics": {k: (float(v), PER_LAYER[k]) for k, v in m.items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "karta_spark")):
        print(f"perfbench: no karta_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cpus = _cpus()
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    _isolate(work, cpus)
    try:
        wl = WORKLOADS[args.workload](args.seed, work, cpus)
        res = traced(wl, args) if args.trace else untraced(wl, args)
    finally:
        _stop_all()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
