"""resolver_mode="auto": the per-wave size gate that makes the JVM
extract+admit path the out-of-the-box behavior at cluster scale while
small waves keep the measured-faster scalar machine (the measured
crossover — BENCH/BASELINE.md round 4 — sits near 1.5M wave rows;
the default threshold encodes it).

Pins (1) the switchover itself (threshold above every wave -> all
rounds scalar; threshold 1 -> all rounds jvm; a mid-crawl threshold
-> a mixed per-round trace), and (2) oracle parity in every regime —
the seen set and fetch totals must not depend on which side of the
gate a wave lands. (3) A mode outside auto/scalar/jvm is refused at
construction instead of silently running another resolver.
"""

import pytest

from methanol_web_crawler_spark.config import default_config
from methanol_web_crawler_spark.oracle.crawler import OracleCrawler
from methanol_web_crawler_spark.plans.crawl import SparkCrawler
from methanol_web_crawler_spark.sources.synthweb import generate_web
from tests.test_crawl_golden import seen_of


def _modes(stats):
    return [r["resolver_mode"] for r in stats.per_round]


def _run(spark, web, threshold):
    cfg = default_config(robotstxt=True)
    oracle = OracleCrawler(web.doc_map, cfg, politeness_budget=3).run(
        web.seeds
    )
    engine = SparkCrawler(
        spark, web.to_spark(spark), cfg, politeness_budget=3,
        resolver_mode="auto",
    )
    engine.auto_jvm_threshold = threshold
    return oracle, engine, engine.run(web.seeds)


class TestAutoSwitchover:
    def test_high_threshold_is_all_scalar(self, spark):
        web = generate_web(n_docs=60, n_hosts=4, seed=101)
        oracle, engine, stats = _run(spark, web, 10**9)
        modes = _modes(stats)
        assert modes and set(modes) == {"scalar"}
        assert seen_of(engine) == oracle.seen
        assert stats.fetched == sum(len(r) for r in oracle.rounds)

    def test_threshold_one_is_all_jvm(self, spark):
        web = generate_web(n_docs=60, n_hosts=4, seed=101)
        oracle, engine, stats = _run(spark, web, 1)
        modes = _modes(stats)
        assert modes and set(modes) == {"jvm"}
        assert seen_of(engine) == oracle.seen
        assert stats.fetched == sum(len(r) for r in oracle.rounds)

    def test_mid_threshold_switches_within_one_crawl(self, spark):
        """Wave sizes vary across rounds: a threshold between min and
        max wave size must produce BOTH modes in one crawl — and
        identical results regardless of which side each wave lands."""
        web = generate_web(n_docs=80, n_hosts=5, seed=202)
        # measure pending-wave sizes from a scalar reference run first
        oracle, _, ref_stats = _run(spark, web, 10**9)
        waves = [r["wave"] for r in ref_stats.per_round]
        lo, hi = min(waves), max(waves)
        assert lo < hi, "need uneven wave sizes for a mixed trace"
        # gate at the largest wave: that round goes jvm, strictly
        # smaller waves stay scalar
        _, engine, stats = _run(spark, web, hi)
        modes = _modes(stats)
        assert set(modes) == {"scalar", "jvm"}
        assert [m == "jvm" for m in modes] == [w >= hi for w in waves]
        assert len(stats.per_round) == len(ref_stats.per_round)
        assert seen_of(engine) == oracle.seen
        assert stats.fetched == sum(len(r) for r in oracle.rounds)


@pytest.mark.parametrize("mode", ["vec", "JVM", ""])
def test_unknown_mode_raises(spark, mode):
    web = generate_web(n_docs=20, n_hosts=2, seed=101)
    with pytest.raises(ValueError, match="resolver_mode"):
        SparkCrawler(
            spark, web.to_spark(spark), default_config(),
            resolver_mode=mode,
        )
