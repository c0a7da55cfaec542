#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line:

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...,
     "crawl": {"urls_fetched": N, "urls_admitted": N,
               "urls_per_sec": X, "rounds": R}}

The headline is the crawl itself — URLs fetched+deduped per second
over the deterministic synthetic web (BASELINE.json metric) — plus
the heavy training-data operators. Scaling evidence (1 vs 4 executor
JVMs of 2 cores) is produced by bench_scaling.py -> BENCH/BASELINE.md,
which shares this module's host probes and quiet-window rule.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))

BENCH_QUERIES = [
    "dedup_exact",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_components",
    "ann_brute_topk",
    "ann_lsh_topk",
    "text_fingerprint",
    "text_quality",
    "events_sessionize",
    "q10_politeness_window",
    "f8_seen_antijoin",
    "q8_priority_topk",
]


def sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def make_spark(cpus: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("methanol-spark-bench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .getOrCreate()
    )


# crawl bench sizes per scale factor: (n_docs, n_hosts) — the
# distributed generator synthesizes these entirely JVM-side
CRAWL_SIZES = {0.001: (5_000, 50), 0.01: (50_000, 200),
               0.1: (200_000, 500)}

# pinned crawl totals per sf: (urls_fetched, urls_seen). The crawl is
# fully deterministic — seeded generator, layout-invariant fetch ids
# (xxhash64(url), plans/crawl.py) — so any drift is a semantics change
# and must fail loudly here, not surface as a silent shift in the
# recorded bench totals (the round-3 35,066 -> 35,062 incident: a
# coalesce-before-checkpoint changed the partition layout that
# monotonically_increasing_id fetch ids encoded, silently moving
# in-batch-dedup tie-break winners). Re-pin ONLY with a named,
# intentional semantics change recorded in BENCH/BASELINE.md.
CRAWL_CHECKSUMS = {
    0.001: (2_758, 3_980),
    0.01: (12_061, 21_540),
    0.1: (35_050, 63_518),
}


def run_crawl_bench(spark, sf_dir: str) -> dict:
    from methanol_web_crawler_spark.config import default_config
    from methanol_web_crawler_spark.plans.crawl import SparkCrawler
    from methanol_web_crawler_spark.sources.synthweb_spark import (
        generate_web_df,
    )

    n_docs, n_hosts = CRAWL_SIZES.get(sf_of(sf_dir), (50_000, 200))
    # production-shaped seed list: one seed per host, so rounds are
    # wide (compute-bound) from the start instead of BFS-tree-starved
    docs, seeds = generate_web_df(
        spark, n_docs, n_hosts, seed=42, partitions=int(CPUS),
        n_seeds=n_hosts,
    )
    docs = docs.persist()
    docs.count()
    cfg = default_config(robotstxt=True)
    # steady-state measurement: a fixed number of rounds (a real
    # 10^10-URL crawl never exhausts its frontier during a bench);
    # the long exhaustion tail of tiny rounds is driver-bound and not
    # representative of cluster throughput. Construction (robots
    # side-table bootstrap) is state setup, pre-clock as in
    # bench_scaling.
    crawler = SparkCrawler(
        spark, docs, cfg, politeness_budget=0,
        strict_order=False, collect_metrics=False, max_rounds=12,
    )
    t0 = time.time()
    stats = crawler.run(seeds)
    wall = time.time() - t0
    expect = CRAWL_CHECKSUMS.get(sf_of(sf_dir))
    if expect is not None and (stats.fetched, stats.seen) != expect:
        raise AssertionError(
            f"crawl-total drift at sf={sf_of(sf_dir)}: got "
            f"(fetched={stats.fetched}, seen={stats.seen}), pinned "
            f"{expect} — a semantics change reached the crawl loop; "
            f"bisect it before re-pinning (see CRAWL_CHECKSUMS)"
        )
    processed = stats.fetched + stats.seen
    return {
        "urls_fetched": stats.fetched,
        "urls_seen": stats.seen,
        "rounds": stats.rounds,
        "wall_sec": round(wall, 3),
        "urls_per_sec": round(
            (stats.fetched + stats.seen) / wall if wall > 0 else 0.0, 1
        ),
    }


def _copy_worker(q):
    import numpy as np

    arr = np.empty(100_000_000, dtype=np.uint8)
    arr[:] = 7
    t0 = time.time()
    for _ in range(6):
        b = arr.copy()
        arr[0] = b[0]
    q.put(time.time() - t0)


# Quiet-window gates, shared with bench_scaling. FIRE = the loose
# point-probe gates: beyond them the memory fabric is saturated by
# neighbors and walls measure the host. STRICT = the healthy band the
# during-run copy mean must sit inside (BENCH/BASELINE.md round-4/5
# closings).
PROBE_FIRE_COPY_MAX = 4.0
PROBE_FIRE_COPY4_MAX = 10.0
PROBE_STRICT_COPY_MAX = 2.2
# A window whose hypervisor steal exceeds this share of its total CPU
# demand ran contended regardless of what the copy probes said
# (calibration: quiet host measures ~0-1.1% under full 32-core load).
STEAL_CLEAN_PCT_MAX = 3.0


def host_probe() -> dict:
    """Host-capacity calibration: single-thread CPU, single-stream
    copy, and the slowest of 4 concurrent copy processes. The VM's
    capacity swings 2-3x minute-to-minute (BENCH/BASELINE.md
    host-volatility sections), and the aggregate fabric bandwidth can
    degrade while one stream still looks healthy, so a wall is only
    interpretable next to the capacity recorded with it. Healthy
    reference (many recorded windows): cpu ~0.7-1.0 s, copy
    ~1.3-2.2 s, copy4 ~2-5 s (~1.5-2x the single stream)."""
    import multiprocessing as mp

    import numpy as np

    t0 = time.time()
    x = 0
    for i in range(10_000_000):
        x += i * i % 7
    cpu_s = time.time() - t0
    arr = np.empty(100_000_000, dtype=np.uint8)
    arr[:] = 7
    t0 = time.time()
    for _ in range(10):
        b = arr.copy()
        arr[0] = b[0]
    copy_s = time.time() - t0
    ctx = mp.get_context("fork")
    q = ctx.Queue()
    procs = [ctx.Process(target=_copy_worker, args=(q,))
             for _ in range(4)]
    for p in procs:
        p.start()
    times = [q.get() for _ in procs]
    for p in procs:
        p.join()
    # per-copy time of the slowest stream, normalized to the
    # single-stream loop count (10 vs 6 iterations)
    copy4_s = max(times) * (10 / 6)
    return {"probe_cpu_s": round(cpu_s, 3),
            "probe_copy_s": round(copy_s, 3),
            "probe_copy4_s": round(copy4_s, 3)}


def read_proc_stat() -> dict:
    """Aggregate CPU jiffies from /proc/stat (USER_HZ=100). The steal
    field is the hypervisor's own account of cycles our vCPUs wanted
    but a neighbor VM got — an INTEGRAL over the measurement window,
    so unlike the point-in-time copy probes it cannot miss
    minutes-scale bursts (the round-5 ABA bisect's A2 anomaly:
    pristine probes, 25% inflated wall)."""
    with open("/proc/stat") as f:
        v = list(map(int, f.readline().split()[1:]))
    return {
        "busy": (v[0] + v[1] + v[2]) / 100.0,  # user+nice+system s
        "steal": v[7] / 100.0,
    }


def steal_delta(s0: dict, s1: dict) -> dict:
    busy = s1["busy"] - s0["busy"]
    steal = s1["steal"] - s0["steal"]
    demand = busy + steal
    return {
        "steal_core_s": round(steal, 2),
        "busy_core_s": round(busy, 2),
        "steal_pct_of_demand": round(100 * steal / demand, 2)
        if demand > 0 else 0.0,
    }


class DuringSampler:
    """Samples the single-stream copy probe every ``period`` seconds
    WHILE a timed window runs. Motivation (round-5 ABA bisect, see
    BENCH/BASELINE.md): pristine before-window probes coexisted with
    walls 1.6-2.2x off healthy history — the competing load varies on
    a minutes scale and a point-in-time probe cannot certify a quiet
    window. A sustained sample can. Cost: ~1 GB of memory traffic per
    sample per ~20 s, <5% of fabric bandwidth."""

    def __init__(self, period: float = 20.0):
        import threading

        self.period = period
        self.samples = []
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        import numpy as np

        arr = np.empty(100_000_000, dtype=np.uint8)
        arr[:] = 7
        while not self._stop.wait(self.period):
            t0 = time.time()
            for _ in range(10):
                b = arr.copy()
                arr[0] = b[0]
            self.samples.append(round(time.time() - t0, 3))

    def start(self):
        self._t.start()
        return self

    def stop(self) -> dict:
        self._stop.set()
        self._t.join(timeout=30)
        s = self.samples
        if not s:
            return {"probe_during_n": 0}
        return {
            "probe_during_n": len(s),
            "probe_during_copy_min_s": min(s),
            "probe_during_copy_mean_s": round(sum(s) / len(s), 3),
            "probe_during_copy_max_s": max(s),
        }


def window_flags(probes: list, during: dict, steal: dict) -> dict:
    """The quiet-window rule for one timed window: ``probes`` are its
    point probes (host_probe), ``during`` its DuringSampler summary,
    ``steal`` its steal_delta. Certifying on the during-copy MEAN — the
    statistic that moves the wall — is the v2 rule pre-registered
    2026-08-18 (BENCH/BASELINE.md); the raw fields stay recorded."""
    return {
        "host_healthy": all(
            p["probe_copy_s"] < PROBE_FIRE_COPY_MAX
            and p["probe_copy4_s"] < PROBE_FIRE_COPY4_MAX
            for p in probes
        ),
        "sustained_clean": during.get("probe_during_n", 0) > 0
        and during["probe_during_copy_mean_s"] < PROBE_STRICT_COPY_MAX,
        "steal_clean": steal["steal_pct_of_demand"]
        <= STEAL_CLEAN_PCT_MAX,
    }


def main():
    from methanol_web_crawler_spark import entryqueries

    probe_before = host_probe()
    sampler = DuringSampler().start()
    st0 = read_proc_stat()

    spark = make_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    per_query = {}
    total = 0.0

    crawl = run_crawl_bench(spark, SF_DIR)
    per_query["crawl_flagship"] = crawl["wall_sec"]
    total += crawl["wall_sec"]

    for name in BENCH_QUERIES:
        fn = entryqueries.QUERIES[name]
        t0 = time.time()
        df = fn(spark, SF_DIR)
        n = df.count()
        dt = time.time() - t0
        per_query[name] = round(dt, 3)
        total += dt

    during = sampler.stop()
    steal = steal_delta(st0, read_proc_stat())
    probe_after = host_probe()
    out = {
        "metric": "crawl+analytics suite wall time",
        "value": round(total, 3),
        "unit": "sec",
        "queries": per_query,
        "sf": sf_of(SF_DIR),
        "cpus": int(CPUS),
        "crawl": crawl,
        "probes": {"before": probe_before, "after": probe_after,
                   "during": during, "steal": steal},
        **window_flags([probe_before, probe_after], during, steal),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
