"""Golden parity with the bloom prefilter and salted politeness on —
both are pure optimizations and must not change any output."""

from methanol_web_crawler_spark.config import default_config
from methanol_web_crawler_spark.oracle.crawler import OracleCrawler
from methanol_web_crawler_spark.plans.crawl import SparkCrawler
from methanol_web_crawler_spark.sources.synthweb import generate_web
from tests.test_seen_bloom_media_tables import _jobs


def seen_of(engine):
    return {
        r["seen_key"]
        for r in engine._final_seen.select("seen_key").collect()
    }


def rounds_of(engine, spark):
    log = engine.store.table("crawl_log").read_until(spark)
    rows = log.orderBy("round", "fetch_ord").collect()
    out = {}
    for row in rows:
        out.setdefault(row["round"], []).append(row["url"])
    return out


class TestBloomParity:
    def test_bloom_crawl_matches_oracle(self, spark, tmp_path):
        web = generate_web(n_docs=50, n_hosts=3, seed=808)
        cfg = default_config(robotstxt=True)
        oracle = OracleCrawler(
            web.doc_map, cfg, politeness_budget=3
        ).run(web.seeds)
        engine = SparkCrawler(
            spark, web.to_spark(spark), cfg, politeness_budget=3,
            state_dir=str(tmp_path), bloom_buckets=8,
        )
        stats = engine.run(web.seeds)
        assert seen_of(engine) == oracle.seen
        got = rounds_of(engine, spark)
        for rnd, records in enumerate(oracle.rounds):
            assert got.get(rnd, []) == [r.url for r in records], rnd

    def test_bloom_counters_bound_admitted(self, spark, tmp_path):
        """Store mode: per round, the bloom's definitely-new half is
        admitted outright and the maybe-seen half only after the exact
        anti-join, so new <= admitted <= new + maybe; admitted is also
        exactly the seen rows first recorded in that round (round 0
        also records the seed keys, all in the seed frontier here)."""
        web = generate_web(n_docs=60, n_hosts=4, seed=99)
        # a filter sized for 8 keys: false positives fill the maybe half
        engine = SparkCrawler(
            spark, web.to_spark(spark), default_config(robotstxt=True),
            politeness_budget=2, state_dir=str(tmp_path),
            bloom_buckets=8, bloom_expected_keys=8,
        )
        stats = engine.run(web.seeds)
        first = {
            row["first_round"]: row["n"]
            for row in engine.store.table("seen").read_until(spark)
            .groupBy("first_round").count()
            .withColumnRenamed("count", "n").collect()
        }
        first[0] -= engine.store.table("frontier").read_round(
            spark, 0
        ).count()
        assert len(stats.per_round) == stats.rounds > 1
        assert any(m["bloom_maybe"] for m in stats.per_round)
        for m in stats.per_round:
            new, maybe = m["bloom_definitely_new"], m["bloom_maybe"]
            assert new <= m["admitted"] <= new + maybe, m
            assert m["admitted"] == first.get(m["round"], 0), m


class TestBloomCrawlEntries:
    def test_seed_run_and_idle_resume_run_no_job(self, spark, tmp_path):
        """Store and bloom on: the seeds are hashed, snapshotted and
        inserted into the bloom on the driver, and inserts only merge
        at the next probe, so a ``run`` with ``max_rounds=0`` and a
        fresh engine's ``resume`` that runs no round start no Spark
        job (before: 4 for the run, 3 and 4 for the two resumes). The
        state they leave resumes to the oracle's crawl."""
        web = generate_web(n_docs=60, n_hosts=4, seed=99)
        cfg = default_config(robotstxt=True)
        docs = web.to_spark(spark)

        def engine(state, max_rounds):
            return SparkCrawler(
                spark, docs, cfg, politeness_budget=2,
                state_dir=str(tmp_path / state), bloom_buckets=8,
                max_rounds=max_rounds,
            )

        # engines are built outside the counted calls: construction
        # checkpoints the robots cache
        first = engine("seed", 0)
        stats, jobs = _jobs(spark, lambda: first.run(web.seeds))
        assert (jobs, stats.rounds, stats.seen) == (0, 0, len(web.seeds))
        second = engine("seed", 0)
        stats, jobs = _jobs(spark, second.resume)
        assert (jobs, stats.rounds) == (0, 0)

        engine("r1", 1).run(web.seeds)
        second = engine("r1", 1)
        stats, jobs = _jobs(spark, second.resume)
        assert (jobs, stats.rounds) == (0, 0)

        oracle = OracleCrawler(
            web.doc_map, cfg, politeness_budget=2
        ).run(web.seeds)
        for state in ("seed", "r1"):
            last = engine(state, 10_000)
            last.resume()
            assert seen_of(last) == oracle.seen, state
            got = rounds_of(last, spark)
            for rnd, records in enumerate(oracle.rounds):
                assert got.get(rnd, []) == [r.url for r in records], rnd

    def test_second_run_starts_a_fresh_filter(self, spark):
        """A second ``run`` on the same store-less bloom engine, from
        other seeds, crawls what a fresh crawl of those seeds does."""
        web = generate_web(n_docs=60, n_hosts=4, seed=99)
        cfg = default_config(robotstxt=True)
        engine = SparkCrawler(
            spark, web.to_spark(spark), cfg, politeness_budget=2,
            bloom_buckets=8,
        )
        engine.run(web.seeds[:1])
        stats = engine.run(web.seeds[1:])
        oracle = OracleCrawler(
            web.doc_map, cfg, politeness_budget=2
        ).run(web.seeds[1:])
        assert seen_of(engine) == oracle.seen
        assert stats.fetched == sum(len(r) for r in oracle.rounds)


class TestSaltedPolitenessParity:
    def test_salted_matches_plain(self, spark, tmp_path):
        web = generate_web(n_docs=60, n_hosts=3, seed=909)
        cfg = default_config(robotstxt=True)
        oracle = OracleCrawler(
            web.doc_map, cfg, politeness_budget=2
        ).run(web.seeds)
        engine = SparkCrawler(
            spark, web.to_spark(spark), cfg, politeness_budget=2,
            state_dir=str(tmp_path), salt_k=4,
        )
        engine.run(web.seeds)
        assert seen_of(engine) == oracle.seen
        got = rounds_of(engine, spark)
        for rnd, records in enumerate(oracle.rounds):
            assert got.get(rnd, []) == [r.url for r in records], rnd


class TestRunFrontierBloomParity:
    def test_run_frontier_seeds_the_bloom(self, spark):
        """run_frontier must seed the bloom with the initial seen set:
        without it every frontier key bypasses the exact anti-join as
        'definitely new' and the seen total inflates (regression for
        the round-3 --bloom-diag checksum catch)."""
        from methanol_web_crawler_spark.config import default_config
        from methanol_web_crawler_spark.functions.canonicalize import (
            parse_url,
        )
        from methanol_web_crawler_spark.plans.crawl import (
            FRONTIER_SCHEMA,
            SparkCrawler,
        )
        from methanol_web_crawler_spark.sources.synthweb import (
            generate_web,
        )

        web = generate_web(n_docs=80, n_hosts=4, seed=7)
        cfg = default_config()

        def frontier_rows():
            rows = []
            for i, d in enumerate(web.docs):
                p = parse_url(d.doc_id)
                if p is None:
                    continue
                rows.append(
                    (
                        p.url, p.host_o, p.host_l, p.file_o, p.ext_o,
                        p.protocol, p.is_dynamic, p.www_prefix,
                        p.seen_key, p.host_identity, "html", 0,
                        "default", False, 0, -1, -1, i, 0, False,
                    )
                )
            return spark.createDataFrame(rows, FRONTIER_SCHEMA)

        stats = {}
        for name, buckets in (("plain", 0), ("bloom", 8)):
            c = SparkCrawler(
                spark, web.to_spark(spark), cfg,
                politeness_budget=0, collect_metrics=False,
                max_rounds=1, bloom_buckets=buckets,
                bloom_expected_keys=1000 if buckets else None,
            )
            stats[name] = c.run_frontier(frontier_rows())
        assert stats["bloom"].seen == stats["plain"].seen
        assert stats["bloom"].fetched == stats["plain"].fetched
