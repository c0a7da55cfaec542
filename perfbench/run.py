#!/usr/bin/env python3
"""Benchmark of the Spark crawl engine and its curation queries.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_durable --seed 1 \\
        --seconds 8 --trace 0

One process, one Spark session on ``local[2]`` (fewer if the host has
fewer cores), one workload, inputs made from ``--seed``. The workload
is set up several times (``setup_s`` is the median), its reference
answer is computed, its untimed warm-up operations run, then timed
operations run back to back until their summed wall reaches
``--seconds`` (``op_s`` is their median). Every operation's output,
warm-up ones included, is checked after its clock stops. The last
stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics with nothing installed;
``--trace 1`` wraps the package's layer entry points with spans (see
trace.py), turns on Spark's event log, and reports per-layer metrics.
Earlier stdout lines carry the run environment and, when traced, the
full per-layer report and the tracing overhead: the traced
``setup_s``/``op_s`` minus those of the last untraced run of the same
workload and seed, which each untraced run records under
``.perfbench_tmp/untraced/``. A traced run writes its spans to
``.perfbench_tmp/spans/`` at exit. All other temporary files live
under ``.perfbench_tmp/run-<pid>/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Spark's local cores: the crawl round is fixed-cost bound and the
# curation pass no faster on 4 cores than on 2, and fewer threads leave
# the figures less exposed to other load on a shared host
CORES = 2


def progress(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def read_steal() -> tuple:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def driver_memory_mb() -> int:
    """A quarter of the host's memory, between 1 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(f.readline().split()[1])
    except (OSError, ValueError, IndexError):
        kb = 8 << 20
    return max(1024, min(4096, kb // 1024 // 4))


def make_spark(tmp: str, cpus: int, event_dir: str = None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.local.dir", os.path.join(tmp, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
    )
    if event_dir:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_dir)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM (and with it the
    Python workers it forked) to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def collect_garbage(spark) -> None:
    """Full GC in the driver JVM and in Python before an operation, so
    that no operation pays for garbage an earlier one left."""
    spark.sparkContext._jvm.System.gc()
    gc.collect()


def environment(steal0: tuple, steal1: tuple) -> dict:
    import pyspark

    commit = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], text=True,
                capture_output=True, timeout=10,
            ).stdout.strip() or "unknown"
        except (OSError, subprocess.SubprocessError):
            pass
    total = steal1[1] - steal0[1]
    return {
        "nproc": os.cpu_count(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "commit": commit,
        "steal_share": (steal1[0] - steal0[0]) / total if total else 0.0,
    }


def overhead(record: str, traced: dict, bookkeeping_s: float) -> dict:
    """Traced end-to-end figures minus those of the last untraced run of
    the same workload, size and seed in this checkout, if there is one."""
    out = {"traced": traced, "bookkeeping_s_per_op": bookkeeping_s}
    try:
        with open(record) as f:
            untraced = json.load(f)
    except (OSError, ValueError):
        out["untraced"] = None
        out["note"] = ("no untraced run of this workload and seed has "
                       "recorded its figures in this checkout")
        return out
    out["untraced"] = untraced
    out["overhead_s"] = {k: traced[k] - untraced[k] for k in traced}
    out["overhead_share"] = {k: (traced[k] - untraced[k]) / untraced[k]
                             for k in traced}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="default",
                    help="input size: default, or tiny for the self-test")
    ap.add_argument("--wrong-reference", action="store_true",
                    help="perturb the reference answer (self-test: the "
                    "run must then report failures)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    from perfbench import workloads  # fails without the package

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(workloads.WORKLOADS)}")
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # every JVM the launch starts (spark-submit's launcher too) keeps its
    # temporary files in the run's directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
        + [os.environ.get("JAVA_TOOL_OPTIONS", "")]).strip()
    try:
        return _run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass


def _run(args, tmp: str) -> int:
    from perfbench import layers, workloads

    steal0 = read_steal()
    cpus = min(CORES, os.cpu_count() or CORES)
    event_dir = None
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        event_dir = os.path.join(tmp, "events")
        os.makedirs(event_dir)
        tracer = Tracer(os.path.join(tmp, "trace"))
    progress(f"{args.workload} seed={args.seed}: starting Spark")
    spark = make_spark(tmp, cpus, event_dir)
    try:
        wl = workloads.WORKLOADS[args.workload](
            spark, args.seed, tmp, args.size)
        wl.wrong_reference = args.wrong_reference
        if tracer:
            wl.tracer = tracer
            tracer.install()
        setup_s = []
        for i in range(wl.SETUPS):
            progress(f"set-up {i + 1}/{wl.SETUPS}")
            t = time.time()
            with (tracer.span("setup", id_="setup", kind="setup")
                  if tracer else contextlib.nullcontext()):
                wl.setup()
            setup_s.append(time.time() - t)
        progress("computing the reference answer")
        attempted, failed = wl.expect()
        for i in range(wl.WARMUPS):
            progress(f"warm-up operation {i + 1}/{wl.WARMUPS}")
            collect_garbage(spark)
            rec = wl.op()
            attempted += rec["attempted"]
            failed += rec["failed"]
        if tracer:
            # the per-operation overhead counts the timed operations only
            tracer.bookkeeping_s = 0.0
        ops = []
        spent = 0.0
        while not ops or spent < args.seconds:
            progress(f"operation {len(ops) + 1} "
                     f"({spent:.1f}/{args.seconds:g} s measured)")
            collect_garbage(spark)
            with (tracer.span("op", id_=len(ops), kind="op")
                  if tracer else contextlib.nullcontext()):
                rec = wl.op()
            ops.append(rec)
            spent += rec["wall"]
            attempted += rec["attempted"]
            failed += rec["failed"]
        if tracer:
            tracer.uninstall()
        env = environment(steal0, read_steal())
        env["spark_cores"] = cpus
    finally:
        stop_spark(spark)
    progress(f"done: {len(ops)} operations, {failed} failed")

    summary = layers.workload_summary(ops, attempted, failed)
    print(json.dumps({"environment": env, "workload": args.workload,
                      "seed": args.seed, "setup_runs_s": setup_s,
                      "summary": summary}))
    e2e = {"setup_s": statistics.median(setup_s),
           "op_s": statistics.median(r["wall"] for r in ops)}
    name = f"{args.workload}-{args.size}-{args.seed}"
    record = os.path.join(ROOT, ".perfbench_tmp", "untraced", f"{name}.json")
    if tracer:
        tracer.write(os.path.join(ROOT, ".perfbench_tmp", "spans",
                                  f"{name}.jsonl"))
        report = layers.per_layer(tracer, event_dir, ops, wl)
        print(json.dumps({"per_layer_report": report}))
        print(json.dumps({"trace_overhead": overhead(
            record, e2e, tracer.bookkeeping_s / len(ops))}))
        metrics = layers.bench_metrics(report)
    else:
        os.makedirs(os.path.dirname(record), exist_ok=True)
        with open(record, "w") as f:
            json.dump(e2e, f)
        metrics = {k: {"value": v, "unit": "s"} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
