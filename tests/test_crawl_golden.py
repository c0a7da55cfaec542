"""Golden end-to-end tests: the Spark engine vs the pure-Python oracle.

The verified artifacts per the ordering contract (SURVEY.md §7):
(a) the final seen set — exact;
(b) the per-round fetched URL sequence — exact, ordered;
(c) the targets multiset;
(d) span-sequence invariance for every fetched document (input_hint).
"""

import os

import pytest

from methanol_web_crawler_spark.config import default_config, media_config
from methanol_web_crawler_spark.oracle.crawler import OracleCrawler
from methanol_web_crawler_spark.plans.crawl import (
    FRONTIER_SCHEMA,
    SEEN_SCHEMA,
    SparkCrawler,
)
from methanol_web_crawler_spark.sources.synthweb import (
    SynthDoc,
    SynthWeb,
    generate_web,
)
from methanol_web_crawler_spark.sources.tables import SnapshotTable


def run_both(spark, web, cfg, crawler, budget, state_dir=None, **kw):
    oracle = OracleCrawler(
        web.doc_map, cfg, crawler=crawler, politeness_budget=budget
    ).run(web.seeds)
    engine = SparkCrawler(
        spark,
        web.to_spark(spark),
        cfg,
        crawler=crawler,
        politeness_budget=budget,
        state_dir=state_dir,
        **kw,
    )
    stats = engine.run(web.seeds)
    return oracle, engine, stats


def seen_of(engine):
    return {
        r["seen_key"] for r in engine._final_seen.select("seen_key").collect()
    }


def rounds_of(engine, spark):
    log = engine.store.table("crawl_log").read_until(spark)
    rows = log.orderBy("round", "fetch_ord").collect()
    out = {}
    for row in rows:
        out.setdefault(row["round"], []).append(row["url"])
    return out


class TestGoldenDefault:
    @pytest.fixture(scope="class")
    def result(self, spark, tmp_path_factory):
        web = generate_web(n_docs=60, n_hosts=4, seed=101)
        cfg = default_config(robotstxt=True)
        state = str(tmp_path_factory.mktemp("state"))
        return run_both(spark, web, cfg, "default", 3, state_dir=state), spark

    def test_seen_set_exact(self, result):
        (oracle, engine, stats), spark = result
        assert seen_of(engine) == oracle.seen

    def test_round_count(self, result):
        (oracle, engine, stats), spark = result
        assert stats.rounds == len(oracle.rounds)

    def test_per_round_sequences_exact(self, result):
        (oracle, engine, stats), spark = result
        got = rounds_of(engine, spark)
        for rnd, records in enumerate(oracle.rounds):
            assert got.get(rnd, []) == [r.url for r in records], f"round {rnd}"

    def test_fetch_totals(self, result):
        (oracle, engine, stats), spark = result
        assert stats.fetched == sum(len(r) for r in oracle.rounds)


class TestGoldenMedia:
    @staticmethod
    def config():
        return media_config(robotstxt=True)

    @pytest.fixture(scope="class")
    def result(self, spark, tmp_path_factory):
        web = generate_web(n_docs=80, n_hosts=5, seed=202)
        state = str(tmp_path_factory.mktemp("state"))
        return run_both(
            spark, web, self.config(), "media", 4, state_dir=state
        ), spark

    def test_seen_set_exact(self, result):
        (oracle, engine, stats), spark = result
        assert seen_of(engine) == oracle.seen

    def test_per_round_sequences_exact(self, result):
        (oracle, engine, stats), spark = result
        got = rounds_of(engine, spark)
        for rnd, records in enumerate(oracle.rounds):
            assert got.get(rnd, []) == [r.url for r in records], f"round {rnd}"

    def test_targets_match(self, result):
        (oracle, engine, stats), spark = result
        tdf = engine.store.table("targets").read_until(spark)
        got = sorted(
            (r["url"], r["filetype"]) for r in tdf.collect()
        )
        want = sorted((t.url, t.filetype) for t in oracle.targets)
        assert got == want


class TestGoldenMediaLookup(TestGoldenMedia):
    """TestGoldenMedia's crawl with extension-less, directory and
    dynamic URLs bound to "lookup": their filetype comes from the
    content type (the HEAD stage, make_head_classifier)."""

    @staticmethod
    def config():
        return media_config(
            robotstxt=True, extless_url="lookup", dir_url="lookup",
            dynamic_url="lookup",
        )


class TestGoldenUnlimitedBudget:
    def test_no_politeness(self, spark, tmp_path):
        web = generate_web(n_docs=40, n_hosts=3, seed=303)
        cfg = default_config()
        oracle = OracleCrawler(web.doc_map, cfg).run(web.seeds)
        engine = SparkCrawler(
            spark, web.to_spark(spark), cfg, state_dir=str(tmp_path)
        )
        stats = engine.run(web.seeds)
        assert seen_of(engine) == oracle.seen
        assert stats.rounds == len(oracle.rounds)
        got = rounds_of(engine, spark)
        for rnd, records in enumerate(oracle.rounds):
            assert got.get(rnd, []) == [r.url for r in records]


class TestGoldenDepthLimit:
    def test_depth_limit(self, spark, tmp_path):
        web = generate_web(n_docs=50, n_hosts=3, seed=404)
        cfg = default_config(depth_limit=2)
        oracle = OracleCrawler(web.doc_map, cfg).run(web.seeds)
        engine = SparkCrawler(
            spark, web.to_spark(spark), cfg, state_dir=str(tmp_path)
        )
        stats = engine.run(web.seeds)
        # depth-limit quirk: over-limit URLs are admitted to the seen
        # set but never fetched
        assert seen_of(engine) == oracle.seen
        assert max(
            r.depth for rnd in oracle.rounds for r in rnd
        ) <= 1
        got = rounds_of(engine, spark)
        for rnd, records in enumerate(oracle.rounds):
            assert got.get(rnd, []) == [r.url for r in records]


class TestGoldenExternal:
    def _crawl(self, spark, tmp_path, **kw):
        web = generate_web(n_docs=60, n_hosts=4, seed=505,
                           cross_host_fraction=0.4)
        cfg = default_config(external=True)
        oracle = OracleCrawler(
            web.doc_map, cfg, politeness_budget=3
        ).run(web.seeds)
        engine = SparkCrawler(
            spark, web.to_spark(spark), cfg,
            politeness_budget=3, state_dir=str(tmp_path), **kw,
        )
        engine.run(web.seeds)
        assert seen_of(engine) == oracle.seen
        got = rounds_of(engine, spark)
        for rnd, records in enumerate(oracle.rounds):
            assert got.get(rnd, []) == [r.url for r in records], f"round {rnd}"
        return engine

    def test_external_adoption(self, spark, tmp_path):
        self._crawl(spark, tmp_path)

    def test_external_adoption_without_store(self, spark, monkeypatch):
        """The parked hosts' adoption with no snapshot store: per-round
        counts and the seen set equal the oracle's, and split_wave
        opens every round once, adoption rounds included."""
        from methanol_web_crawler_spark.plans import crawl

        split_wave, calls = crawl.split_wave, []
        monkeypatch.setattr(
            crawl, "split_wave",
            lambda *a: calls.append(1) or split_wave(*a),
        )
        web, cfg, kw = _external_crawl()
        oracle = OracleCrawler(web.doc_map, cfg, **kw).run(web.seeds)
        engine = SparkCrawler(spark, web.to_spark(spark), cfg, **kw)
        stats = engine.run(web.seeds)
        cols = ("round", "depth", "fetched", "admitted", "targets")
        assert len(stats.per_round) == 14
        # one call per round, plus the one that finds the frontier empty
        assert len(calls) == stats.rounds + 1
        assert [tuple(m[c] for c in cols) for m in stats.per_round] == [
            tuple(getattr(m, c) for c in cols) for m in oracle.metrics
        ]
        assert seen_of(engine) == oracle.seen

    def test_bloom_crawl_writes_no_empty_deltas(self, spark, tmp_path):
        """Rounds that route no target or admit no key append no
        targets / seen snapshot."""
        engine = self._crawl(spark, tmp_path, bloom_buckets=4)
        snaps = [
            s
            for t in ("targets", "seen")
            for s in engine.store.table(t).snapshots()
        ]
        assert snaps and all(s["rows"] > 0 for s in snaps)


class TestSpanInvariant:
    def test_span_sequence_equality(self, spark, tmp_path):
        """input_hint per-row invariant: for every fetched doc the
        logged span sequence equals the input (kind, text, media_ref,
        order)."""
        web = generate_web(n_docs=40, n_hosts=3, seed=606)
        cfg = default_config()
        engine = SparkCrawler(
            spark, web.to_spark(spark), cfg,
            state_dir=str(tmp_path), log_spans=True,
        )
        engine.run(web.seeds)
        log = engine.store.table("crawl_log").read_until(spark)
        rows = log.select("url", "spans").collect()
        doc_map = web.doc_map
        checked = 0
        for row in rows:
            doc = doc_map.get(row["url"])
            if doc is None:
                continue
            got = [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in (row["spans"] or [])
            ]
            want = [(k, t, m, o) for (k, t, m, o) in doc.spans]
            assert got == want, row["url"]
            checked += 1
        assert checked > 0


def _robots_crawl():
    return (
        generate_web(n_docs=50, n_hosts=3, seed=707),
        default_config(robotstxt=True), {"politeness_budget": 3},
    )


def _external_crawl():
    """TestGoldenExternal's crawl: 14 rounds, the first adoption wave
    of parked external hosts opens round 9."""
    return (
        generate_web(n_docs=60, n_hosts=4, seed=505,
                     cross_host_fraction=0.4),
        default_config(external=True), {"politeness_budget": 3},
    )


def _jail_crawl():
    """The jail crawl of tests/test_crawl_switch_epeek.py: 2 rounds,
    the jail is set in round 0 only."""
    from tests.test_crawl_switch_epeek import TestJail, jail_config

    return TestJail().make_web(), jail_config(), {"crawler": "jailer"}


def _robots_jail_crawl():
    """The jail crawl with robots on: one a.test robots.txt denies a
    second seed; hosts and jail prefixes share one state."""
    from tests.test_crawl_switch_epeek import jail_config, robots_jail_web

    return (
        robots_jail_web(), jail_config(robotstxt=True),
        {"crawler": "jailer"},
    )


def _bloom_crawl():
    """A bloom crawl whose round 0 admits no key (a.html has no links);
    round 1's b.html links back to a.html, which the resumed bloom
    must know from the seed keys of the seen set."""
    h = "http://b.test"

    def page(path, links):
        body = "".join(f'<a href="{h}/{x}">x</a>' for x in links)
        return SynthDoc(f"{h}/{path}", [("text", body, None, 0)],
                        "text/html")

    web = SynthWeb(
        docs=[page("a.html", []), page("b.html", ["a.html", "c.html"]),
              page("c.html", [])],
        seeds=[f"{h}/a.html", f"{h}/b.html"],
    )
    return web, default_config(), {
        "politeness_budget": 1, "bloom_buckets": 4,
    }


class TestResume:
    @pytest.mark.parametrize(
        "crawl, stop",
        [
            # stopped before round 0, only the seed snapshots exist:
            # the frontier the driver wrote is the resume point
            (_robots_crawl, 0),
            (_robots_crawl, 2),
            # stopped before the adoption wave, the resume restores and
            # adopts the parked hosts; after it, the hosts parked since
            (_external_crawl, 9),
            (_external_crawl, 10),
            (_jail_crawl, 1),
            (_robots_jail_crawl, 1),
            (_bloom_crawl, 1),
        ],
        ids=["seed-r0", "robots-r2", "external-r9", "external-r10",
             "jail-r1", "robots-jail-r1", "bloom-r1"],
    )
    def test_resume_from_checkpoint(self, spark, tmp_path, crawl, stop):
        """Kill after round ``stop``, resume from the snapshots — final
        state identical to the uninterrupted run."""
        web, cfg, kw = crawl()

        def engine(state_dir, **more):
            return SparkCrawler(
                spark, web.to_spark(spark), cfg,
                state_dir=str(tmp_path / state_dir), **kw, **more,
            )

        engine_full = engine("full")
        engine_full.run(web.seeds)
        engine("part", max_rounds=stop).run(web.seeds)
        engine_b = engine("part")
        engine_b.resume()

        assert seen_of(engine_b) == seen_of(engine_full)
        assert rounds_of(engine_b, spark) == rounds_of(engine_full, spark)


class _Crash(Exception):
    pass


class TestCrashResume:
    """A crash right after round ``k``'s frontier append (the next
    store append raises), then a fresh engine resumes the store: the
    seen set and the per-round fetch log equal the uninterrupted run.
    Round 9 of the external crawl is its first adoption round."""

    @pytest.fixture(scope="class")
    def uninterrupted(self, spark, tmp_path_factory):
        web, cfg, kw = _external_crawl()
        engine = SparkCrawler(
            spark, web.to_spark(spark), cfg,
            state_dir=str(tmp_path_factory.mktemp("full")), **kw,
        )
        engine.run(web.seeds)
        return seen_of(engine), rounds_of(engine, spark)

    @pytest.mark.parametrize("k", [0, 9])
    def test_resume_after_crash(
        self, spark, tmp_path, monkeypatch, uninterrupted, k
    ):
        web, cfg, kw = _external_crawl()
        append = SnapshotTable.append
        armed = []

        def crashing_append(table, data, round_no, **more):
            if armed:
                raise _Crash
            entry = append(table, data, round_no, **more)
            if (os.path.basename(table.dir), round_no) == ("frontier",
                                                           k + 1):
                armed.append(True)
            return entry

        def engine():
            return SparkCrawler(
                spark, web.to_spark(spark), cfg,
                state_dir=str(tmp_path), **kw,
            )

        monkeypatch.setattr(SnapshotTable, "append", crashing_append)
        with pytest.raises(_Crash):
            engine().run(web.seeds)
        monkeypatch.undo()
        resumed = engine()
        resumed.resume()
        assert (seen_of(resumed), rounds_of(resumed, spark)) == uninterrupted


class TestResumeInput:
    def _engine(self, spark, **kw):
        web = generate_web(n_docs=5, n_hosts=1, seed=1)
        return SparkCrawler(spark, web.to_spark(spark), default_config(),
                            **kw)

    def test_no_state_dir(self, spark):
        with pytest.raises(ValueError, match="resume requires state_dir"):
            self._engine(spark).resume()

    def test_no_frontier_snapshot(self, spark, tmp_path):
        with pytest.raises(ValueError, match="no frontier snapshot"):
            self._engine(spark, state_dir=str(tmp_path)).resume()

    def test_job_resume_needs_state_dir(self, capsys):
        from methanol_web_crawler_spark.jobs.crawl import main

        assert main(["--resume", "--synth-docs", "5"]) == 2
        assert "--state-dir" in capsys.readouterr().err


@pytest.mark.parametrize(
    "entry", ["run", "run-store", "resume", "run_frontier"]
)
def test_seen_size_is_exact(spark, tmp_path, entry):
    """Every entry point keeps the exact seen size that gates the
    broadcast anti-join, and ``CrawlStats.seen`` is that size."""
    web, cfg, kw = _robots_crawl()

    def engine(state_dir=None, **more):
        return SparkCrawler(
            spark, web.to_spark(spark), cfg,
            state_dir=state_dir and str(tmp_path / state_dir),
            **kw, **more,
        )

    if entry == "run":
        eng = engine()
        stats = eng.run(web.seeds)
    elif entry == "run-store":
        eng = engine("s")
        stats = eng.run(web.seeds)
    elif entry == "resume":
        engine("s", max_rounds=2).run(web.seeds)
        eng = engine("s")
        stats = eng.resume()
        assert stats.seen == sum(
            s["rows"] for s in eng.store.table("seen").snapshots()
        )
    else:
        rows, seen_rows, _ = engine()._admit_seeds(web.seeds)
        eng = engine()
        stats = eng.run_frontier(
            spark.createDataFrame(rows, FRONTIER_SCHEMA),
            spark.createDataFrame(seen_rows, SEEN_SCHEMA),
        )
    assert stats.seen > len(web.seeds)
    assert stats.seen == eng._n_seen == eng._final_seen.count()


class TestSeedGuessing:
    def test_protocol_less_seeds(self, spark, tmp_path):
        """CLI-style seeds without protocol crawl identically in
        oracle and engine (lm_strtourl guessing)."""
        web = generate_web(n_docs=30, n_hosts=2, seed=111)
        bare_seeds = [s.replace("http://", "") for s in web.seeds]
        cfg = default_config()
        oracle = OracleCrawler(web.doc_map, cfg).run(bare_seeds)
        engine = SparkCrawler(
            spark, web.to_spark(spark), cfg, state_dir=str(tmp_path)
        )
        engine.run(bare_seeds)
        assert seen_of(engine) == oracle.seen
        assert len(oracle.fetched_urls) > 5


class TestRedirectLoopCap:
    def test_25_hop_chain_stops_at_20(self, spark):
        """F9 end-to-end: a 25-hop 301 chain; the engine (and oracle)
        revert each Location at the SAME depth (ue_revert,
        urlengine.c:158-165) and drop the row at the 20th redirect
        (worker.c:808) — so exactly hops 0..19 fetch and hop 20
        never enters the frontier."""
        from methanol_web_crawler_spark.config import default_config
        from methanol_web_crawler_spark.oracle.crawler import (
            OracleCrawler,
        )
        from methanol_web_crawler_spark.plans.crawl import SparkCrawler
        from methanol_web_crawler_spark.sources.synthweb import (
            SynthDoc,
            SynthWeb,
        )

        n = 25
        docs = [
            SynthDoc(
                f"http://r.test/hop{i}.html", [], "text/html",
                status=301,
                location=f"http://r.test/hop{i + 1}.html",
            )
            for i in range(n)
        ] + [SynthDoc(f"http://r.test/hop{n}.html",
                      [("text", "end", None, 0)], "text/html")]
        web = SynthWeb(docs=docs, seeds=["http://r.test/hop0.html"])
        cfg = default_config()
        oracle = OracleCrawler(web.doc_map, cfg).run(web.seeds)
        engine = SparkCrawler(
            spark, web.to_spark(spark), cfg, politeness_budget=0,
        )
        stats = engine.run(web.seeds)
        # hops 0..19 fetch (20 fetches), hop20 dropped by the cap
        assert len(oracle.fetched_urls) == 20
        assert stats.fetched == 20
        assert oracle.fetched_urls[-1] == "http://r.test/hop19.html"
        assert not any("hop20" in k for k in oracle.seen)
        seen = {
            r["seen_key"]
            for r in engine._final_seen.select("seen_key").collect()
        }
        assert seen == oracle.seen
