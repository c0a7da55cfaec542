"""Round counts are observed on the round's own checkpoint jobs.

``collect_metrics`` only decides whether per-round rows are recorded:
the CrawlStats totals must be exact with it off, and turning it on must
not add a single Spark job (with and without the bloom prefilter,
whose two halves are counted too)."""

import uuid

import pytest

from methanol_web_crawler_spark.config import media_config
from methanol_web_crawler_spark.oracle.crawler import OracleCrawler
from methanol_web_crawler_spark.plans.crawl import SparkCrawler
from methanol_web_crawler_spark.sources.synthweb import generate_web


@pytest.fixture(scope="module")
def crawls(spark):
    """Store-less media crawls (link targets included), one per
    (bloom buckets, collect_metrics): (stats, Spark jobs of the run).

    Adaptive execution is off for these crawls: with it on, the job
    count of one crawl varies by one or two between identical runs
    (query stages are submitted as they become ready), so equal counts
    could not be asserted exactly."""
    web = generate_web(n_docs=80, n_hosts=5, seed=202)
    cfg = media_config(robotstxt=True)
    docs = web.to_spark(spark)
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    out = {}
    try:
        for buckets in (0, 8):
            for metrics in (True, False):
                engine = SparkCrawler(
                    spark, docs, cfg, crawler="media",
                    politeness_budget=4, collect_metrics=metrics,
                    bloom_buckets=buckets,
                )
                group = f"crawl-counts-{uuid.uuid4().hex}"
                sc.setJobGroup(group, group)
                try:
                    stats = engine.run(web.seeds)
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                out[buckets, metrics] = stats, jobs
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    oracle = OracleCrawler(
        web.doc_map, cfg, crawler="media", politeness_budget=4
    ).run(web.seeds)
    return out, oracle


def _totals(stats):
    return stats.fetched, stats.admitted, stats.targets, stats.seen


@pytest.mark.parametrize("buckets", [0, 8])
def test_stats_do_not_depend_on_collect_metrics(crawls, buckets):
    out, oracle = crawls
    on, off = out[buckets, True][0], out[buckets, False][0]
    assert _totals(off) == _totals(on)
    assert off.per_round == [] and len(on.per_round) == on.rounds
    assert on.admitted == sum(r["admitted"] for r in on.per_round)
    assert on.fetched == sum(len(r) for r in oracle.rounds)
    assert on.seen == len(oracle.seen)
    assert on.targets == len(oracle.targets) > 0


@pytest.mark.parametrize("buckets", [0, 8])
def test_round_counts_cost_no_jobs(crawls, buckets):
    out, _ = crawls
    assert out[buckets, True][1] == out[buckets, False][1] > 0
