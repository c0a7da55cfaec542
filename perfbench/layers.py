"""Per-workload summaries and the traced run's per-layer report.

Layers are the package's modules. Figures are per timed operation
unless the name says ``per_round``; ``_p50``/``_max`` are over rounds.
Jobs and tasks count only when submitted or launched inside an
operation's timed window; set-up, reference answers and output checks
are outside it.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from .trace import (
    innermost, read_event_log, read_worker_batches, union_length,
)

# (name, unit) of the per-layer metrics the last stdout line of a traced
# run carries on every workload, all lower-is-better: the figures an
# optimisation is most likely to move. The report line carries them all,
# and also figures that no listed workload moves (the admitter and the
# JVM admission path only run in resolver mode jvm).
PER_LAYER = [
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.no_job_s", "s"),
    ("spark.no_job_share", "%"),
    ("trace.op_s", "s"),
    ("trace.overhead_s", "s"),
    ("plans.crawl.jobs_per_round", "count"),
    ("functions.udfs.resolver_rows", "count"),
    ("functions.udfs.batches", "count"),
    ("sources.tables.appends", "count"),
    ("sources.tables.bytes_written", "bytes"),
    ("sources.tables.files_written", "count"),
    ("entryqueries.jobs_per_pass", "count"),
]

STORE_TABLES = ["frontier", "seen", "crawl_log", "bloom_state",
                "hosts_state", "parked_state", "targets"]


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def workload_summary(ops: list, attempted: int, failed: int) -> dict:
    """The workload's own figures beside the generic metrics: the
    median over operations of every other field their records carry
    (per key for dict fields), and URLs per second of operation wall."""
    out = {"ops": len(ops), "op_s_all": [r["wall"] for r in ops],
           "ops_failed_frac": failed / max(1, attempted)}
    fields = {k for r in ops for k in r} - {
        "wall", "start", "end", "attempted", "failed"}
    for k in sorted(fields):
        vals = [r[k] for r in ops if k in r]
        if isinstance(vals[0], dict):
            out[k] = {q: _median(v[q] for v in vals) for q in vals[0]}
        elif isinstance(vals[0], (int, float)):
            out[k] = _median(vals)
        else:
            out[k] = vals[0]
    done = [r for r in ops if "urls" in r]
    if done:
        out["urls_per_s"] = (sum(r["urls"] for r in done)
                             / sum(r["wall"] for r in done))
    return out


def per_layer(tracer, event_dir: str, ops: list, wl) -> dict:
    spans = [sp for sp in tracer.spans if sp.end is not None]
    windows = [(r["start"], r["end"]) for r in ops]
    n_ops = max(1, len(ops))

    def in_ops(t):
        return any(a <= t < b for a, b in windows)

    def timed(pred):
        return [sp for sp in spans if pred(sp) and in_ops(sp.start)]

    def total(pred):
        return sum(sp.end - sp.start for sp in timed(pred))

    ev = read_event_log(event_dir)
    jobs = [j for j in ev["jobs"] if in_ops(j[0])]
    tasks = [t for t in ev["tasks"] if in_ops(t[0])]
    op_wall = sum(b - a for a, b in windows)
    no_job = sum(b - a - union_length(jobs, a, b) for a, b in windows)
    rep = {
        "spark.jobs": len(jobs) / n_ops,
        "spark.tasks": len(tasks) / n_ops,
        "spark.executor_run_s": sum(t[1] for t in tasks) / n_ops,
        "spark.executor_cpu_s": sum(t[2] for t in tasks) / n_ops,
        "spark.shuffle_write_bytes": sum(t[3] for t in tasks) / n_ops,
        "spark.no_job_s": no_job / n_ops,
        "spark.no_job_share": 100.0 * no_job / op_wall if op_wall else 0.0,
        "trace.op_s": _median(r["wall"] for r in ops),
        "trace.overhead_s": tracer.bookkeeping_s / n_ops,
    }
    # jobs by the innermost driver span open at their submission
    by_span = defaultdict(int)
    for s, _e in jobs:
        sp = innermost(spans, s)
        by_span[sp.name if sp else "(none)"] += 1
    rep["spark.jobs_by_span"] = {k: v / n_ops for k, v in
                                 sorted(by_span.items())}

    rep.update(_crawl_layers(spans, timed, jobs, n_ops))
    setups = [(sp.start, sp.end) for sp in spans if sp.kind == "setup"]
    rep.update(_udf_layers(read_worker_batches(tracer.trace_dir), in_ops,
                           n_ops, setups))
    rep["functions.admit_jvm.plan_s"] = total(
        lambda sp: sp.name in ("functions.extract_jvm.split_jvm_extractable",
                               "functions.admit_jvm.split_fast_admit")
    ) / n_ops
    rep["functions.admit_jvm.residue_rows"] = rep[
        "functions.udfs.admitter_rows"]
    rep["operators.seen.update_calls"] = len(
        timed(lambda sp: sp.name == "operators.seen.update")) / n_ops
    rep["operators.seen.update_s"] = total(
        lambda sp: sp.name == "operators.seen.update") / n_ops
    rep["operators.seen.bitmap_bytes"] = wl.layer.get("bitmap_bytes", 0)
    appends = timed(lambda sp: sp.kind == "append")
    rep["sources.tables.appends"] = len(appends) / n_ops
    rep["sources.tables.append_s"] = sum(
        sp.end - sp.start for sp in appends) / n_ops
    for t in STORE_TABLES:
        rep[f"sources.tables.append_s.{t}"] = total(
            lambda sp: sp.name == f"sources.tables.append.{t}") / n_ops
    rep["sources.tables.read_s"] = total(
        lambda sp: sp.name == "sources.tables.read") / n_ops
    rep["sources.tables.bytes_written"] = tracer.bytes_written / n_ops
    rep["sources.tables.files_written"] = tracer.files_written / n_ops
    rep["sources.generate_s"] = _median(
        sp.end - sp.start for sp in spans if sp.name == "sources.generate")

    queries = timed(lambda sp: sp.kind == "query")
    per_q = defaultdict(list)
    for sp in queries:
        per_q[sp.name].append(sp.end - sp.start)
    for q, walls in sorted(per_q.items()):
        rep[f"entryqueries.{q}_s"] = _median(walls)
    rep["entryqueries.jobs_per_pass"] = sum(
        1 for s, _e in jobs
        if any(sp.start <= s < sp.end for sp in queries)) / n_ops
    return rep


def _crawl_layers(spans, timed, jobs, n_ops) -> dict:
    """Round intervals: a round starts when split_wave is entered and
    ends when the next round starts or its run/resume segment returns."""
    rounds = []
    for seg in timed(lambda sp: sp.kind == "segment"):
        waves = sorted(sp.start for sp in spans if sp.kind == "wave"
                       and seg.start <= sp.start < seg.end)
        rounds += list(zip(waves, waves[1:] + [seg.end]))
    n = max(1, len(rounds))

    def in_rounds(sp):
        return any(a <= sp.start < b for a, b in rounds)

    eager = [(sp.start, sp.end) for sp in spans if in_rounds(sp) and (
        sp.kind in ("action", "append", "wave")
        or sp.name in ("operators.seen.update", "sources.tables.read"))]
    walls = [b - a for a, b in rounds]

    def per_round(pred):
        return sum(sp.end - sp.start for sp in spans
                   if in_rounds(sp) and pred(sp)) / n

    def loop_action(sp):
        return sp.kind == "action" and sp.name.startswith("action._loop:")

    return {
        "plans.crawl.init_s": _median(
            sp.end - sp.start for sp in spans
            if sp.name == "plans.crawl.init"),
        "plans.crawl.rounds": len(rounds) / n_ops,
        "plans.crawl.round_s_p50": _median(walls),
        "plans.crawl.round_s_max": max(walls, default=0.0),
        "plans.crawl.jobs_per_round": sum(
            1 for s, _e in jobs if any(a <= s < b for a, b in rounds)) / n,
        "plans.crawl.no_job_s_per_round": sum(
            b - a - union_length(jobs, a, b) for a, b in rounds) / n,
        "plans.crawl.split_wave_s_per_round": per_round(
            lambda sp: sp.kind == "wave"),
        "plans.crawl.fetch_materialize_s_per_round": per_round(
            lambda sp: sp.name == "action._loop:fetched"),
        "plans.crawl.admit_materialize_s_per_round": per_round(
            lambda sp: sp.name == "action._loop:admitted"),
        "plans.crawl.state_materialize_s_per_round": per_round(
            lambda sp: loop_action(sp) and sp.name not in (
                "action._loop:fetched", "action._loop:admitted")),
        "plans.crawl.plan_build_s_per_round": sum(
            b - a - union_length(eager, a, b) for a, b in rounds) / n,
    }


def _udf_layers(batches, in_ops, n_ops, setups) -> dict:
    """Worker batch figures per operation. Robots parsing runs in
    ``SparkCrawler.__init__``: in an operation only for the resuming
    engine, so it is also given per set-up, which builds the first."""
    agg = defaultdict(lambda: [0, 0.0, 0])
    robots_s = 0.0
    for name, t0, _t1, busy, rows in batches:
        if in_ops(t0):
            a = agg[name]
            a[0] += rows
            a[1] += busy
            a[2] += 1
        elif name == "robots_parse" and any(
                lo <= t0 < hi for lo, hi in setups):
            robots_s += busy
    return {
        "functions.udfs.resolver_rows": agg["resolver"][0] / n_ops,
        "functions.udfs.resolver_busy_s": agg["resolver"][1] / n_ops,
        "functions.udfs.admitter_rows": agg["admitter"][0] / n_ops,
        "functions.udfs.admitter_busy_s": agg["admitter"][1] / n_ops,
        "functions.udfs.robots_parse_busy_s": agg["robots_parse"][1] / n_ops,
        "functions.udfs.robots_parse_busy_s_per_setup": robots_s / max(
            1, len(setups)),
        "functions.udfs.batches": sum(a[2] for a in agg.values()) / n_ops,
    }


def bench_metrics(report: dict) -> dict:
    return {name: {"value": report[name], "unit": unit}
            for name, unit in PER_LAYER}
