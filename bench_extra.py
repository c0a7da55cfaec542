#!/usr/bin/env python
"""Noop-sink query timer: times declared queries in isolation, writing
each result to Spark's ``noop`` sink so the computation is measured,
not a collect or a ``count()`` that may prune projected columns.

NOT the driver bench — bench.py stays the frozen measurement contract;
this reuses its session (bench.make_spark) and query list. Crawl
profiling is ``perfbench/run.py --workload crawl_wide --trace 1``.
Usage:
    python bench_extra.py [name ...]     # default: bench.BENCH_QUERIES
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import BENCH_QUERIES, CPUS, SF_DIR, make_spark

REPEAT = 2  # samples per query


def time_queries(names):
    from methanol_web_crawler_spark import entryqueries

    spark = make_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for name in names:
        fn = entryqueries.QUERIES[name]
        samples = []
        for rep in range(REPEAT):
            spark.sparkContext.setJobDescription(f"{name}#{rep}")
            t0 = time.time()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = samples
        print(json.dumps({name: samples}), flush=True)
    print(json.dumps({"sf_dir": SF_DIR, "cpus": CPUS, "all": out}))


if __name__ == "__main__":
    time_queries(sys.argv[1:] or BENCH_QUERIES)
