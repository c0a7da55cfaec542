"""Golden tests for crawler switching (Q4) and external peek (Q5)."""

import pytest

from methanol_web_crawler_spark.config import (
    CrawlConfig,
    Crawler,
    Filetype,
    default_config,
)
from methanol_web_crawler_spark.oracle.crawler import OracleCrawler
from methanol_web_crawler_spark.plans.crawl import SparkCrawler
from methanol_web_crawler_spark.sources.synthweb import SynthDoc, SynthWeb


def html_doc(url, hrefs, ct="text/html"):
    body = "".join(f'<a href="{h}">x</a>' for h in hrefs)
    return SynthDoc(url, [("text", body, None, 0)], ct)


def switch_config():
    html = Filetype(
        name="html", extensions=("html",),
        mimetypes=("text/html",), parsers=("html",),
    )
    gateway = Filetype(
        name="gateway", extensions=("gw",),
        parsers=("html",), switch_to="inner",
    )
    image = Filetype(name="image", extensions=("png",))
    outer = Crawler(
        name="outer", filetypes=("html", "gateway"),
        dynamic_url="discard", extless_url="discard",
        dir_url="@html", unknown_url="discard",
    )
    inner = Crawler(
        name="inner", filetypes=("html", "image"),
        dynamic_url="discard", extless_url="discard",
        dir_url="@html", unknown_url="discard", depth_limit=3,
    )
    cfg = CrawlConfig(
        filetypes=(html, gateway, image), crawlers=(outer, inner)
    )
    cfg.validate()
    return cfg


def switch_web():
    docs = [
        html_doc("http://a.test/", ["p1.html", "gate.gw", "pic0.png"]),
        html_doc("http://a.test/p1.html", ["p2.html"]),
        html_doc("http://a.test/p2.html", []),
        # the gateway page: children are classified under 'inner'
        html_doc("http://a.test/gate.gw", ["in1.html", "pic1.png"]),
        html_doc("http://a.test/in1.html", ["pic2.png", "in2.html"]),
        html_doc("http://a.test/in2.html", []),
    ]
    return SynthWeb(docs=docs, seeds=["http://a.test/"])


class TestCrawlerSwitch:
    def test_oracle_switches(self):
        web = switch_web()
        res = OracleCrawler(
            web.doc_map, switch_config(), crawler="outer"
        ).run(web.seeds)
        t_urls = {t.url for t in res.targets}
        # pic0 linked from the OUTER page: 'png' unknown -> discarded
        assert "http://a.test/pic0.png" not in t_urls
        # pic1/pic2 linked from switched pages: image targets
        assert "http://a.test/pic1.png" in t_urls
        assert "http://a.test/pic2.png" in t_urls
        fetched = set(res.fetched_urls)
        assert "http://a.test/in1.html" in fetched
        # in2 is at depth 3 under inner's depth_limit=3: admitted to
        # the seen set but never fetched (ue_next discards the level)
        assert "http://a.test/in2.html" not in fetched
        assert any("in2" in k for k in res.seen)
        # discarded URLs still occupy the seen set
        assert any("pic0" in k for k in res.seen)

    def test_engine_matches_oracle(self, spark, tmp_path):
        web = switch_web()
        cfg = switch_config()
        oracle = OracleCrawler(web.doc_map, cfg, crawler="outer").run(
            web.seeds
        )
        engine = SparkCrawler(
            spark, web.to_spark(spark), cfg, crawler="outer",
            state_dir=str(tmp_path),
        )
        engine.run(web.seeds)
        got_seen = {
            r["seen_key"]
            for r in engine._final_seen.select("seen_key").collect()
        }
        assert got_seen == oracle.seen
        log = engine.store.table("crawl_log").read_until(spark)
        got = [
            r["url"] for r in log.orderBy("round", "fetch_ord").collect()
        ]
        assert got == oracle.fetched_urls
        tdf = engine.store.table("targets").read_until(spark)
        assert sorted(r["url"] for r in tdf.collect()) == sorted(
            t.url for t in oracle.targets
        )


def epeek_config(peek_limit=2):
    html = Filetype(
        name="html", extensions=("html",),
        mimetypes=("text/html",), parsers=("html",),
    )
    cr = Crawler(
        name="peeker", filetypes=("html",),
        external_peek=True, peek_limit=peek_limit,
        dynamic_url="discard", extless_url="discard",
        dir_url="@html", unknown_url="discard",
    )
    cfg = CrawlConfig(filetypes=(html,), crawlers=(cr,))
    cfg.validate()
    return cfg


def epeek_web():
    # the peek chain uses ABSOLUTE same-host links: relative links on
    # a peeked page inherit the EXTERNAL flag (lm_url_combine keeps
    # flags, url.c:296) and are discarded — reference QUIRK; absolute
    # same-host links compare equal to the current host and continue
    # the peek (urlengine.c:199-203)
    docs = [
        html_doc("http://a.test/", ["one.html",
                                    "http://b.test/peek0.html"]),
        html_doc("http://a.test/one.html", []),
        # peek chain on b.test: depth 0 -> 1 -> 2 (over peek_limit=2)
        html_doc("http://b.test/peek0.html",
                 ["http://b.test/peek1.html"]),
        html_doc("http://b.test/peek1.html",
                 ["http://b.test/peek2.html"]),
        html_doc("http://b.test/peek2.html",
                 ["http://b.test/peek3.html"]),
        html_doc("http://b.test/peek3.html", []),
    ]
    return SynthWeb(docs=docs, seeds=["http://a.test/"])


class TestExternalPeek:
    def test_oracle_peek_budget(self):
        web = epeek_web()
        res = OracleCrawler(
            web.doc_map, epeek_config(2), crawler="peeker"
        ).run(web.seeds)
        fetched = set(res.fetched_urls)
        # the peek visits depth 0 and 1 of b.test, then stops
        assert "http://b.test/peek0.html" in fetched
        assert "http://b.test/peek1.html" in fetched
        assert "http://b.test/peek2.html" not in fetched
        # the over-budget URL is admitted to seen but never fetched
        assert any("peek2" in k for k in res.seen)
        assert not any("peek3" in k for k in res.seen)

    def test_relative_links_on_peeked_page_discarded_quirk(self):
        # relative children of a peeked page inherit EXTERNAL and are
        # discarded (flag inheritance through lm_url_combine)
        docs = [
            html_doc("http://a.test/", ["http://b.test/p0.html"]),
            html_doc("http://b.test/p0.html", ["p1.html"]),
            html_doc("http://b.test/p1.html", []),
        ]
        web = SynthWeb(docs=docs, seeds=["http://a.test/"])
        res = OracleCrawler(
            web.doc_map, epeek_config(5), crawler="peeker"
        ).run(web.seeds)
        fetched = set(res.fetched_urls)
        assert "http://b.test/p0.html" in fetched
        assert "http://b.test/p1.html" not in fetched
        assert any("p1.html" in k for k in res.seen)

    def test_peek_does_not_nest(self):
        docs = [
            html_doc("http://a.test/", ["http://b.test/x.html"]),
            html_doc("http://b.test/x.html", ["http://c.test/y.html"]),
            html_doc("http://c.test/y.html", []),
        ]
        web = SynthWeb(docs=docs, seeds=["http://a.test/"])
        res = OracleCrawler(
            web.doc_map, epeek_config(5), crawler="peeker"
        ).run(web.seeds)
        fetched = set(res.fetched_urls)
        assert "http://b.test/x.html" in fetched
        # an external link found DURING a peek does not nest
        # (is_peeking gate, worker.c:556-558); non-EXTERNAL crawler
        # discards it
        assert "http://c.test/y.html" not in fetched

    def test_engine_matches_oracle(self, spark, tmp_path):
        web = epeek_web()
        cfg = epeek_config(2)
        oracle = OracleCrawler(web.doc_map, cfg, crawler="peeker").run(
            web.seeds
        )
        engine = SparkCrawler(
            spark, web.to_spark(spark), cfg, crawler="peeker",
            state_dir=str(tmp_path),
        )
        engine.run(web.seeds)
        got_seen = {
            r["seen_key"]
            for r in engine._final_seen.select("seen_key").collect()
        }
        assert got_seen == oracle.seen
        log = engine.store.table("crawl_log").read_until(spark)
        got = [
            r["url"] for r in log.orderBy("round", "fetch_ord").collect()
        ]
        assert got == oracle.fetched_urls


def jail_config(**crawler_overrides):
    """One jailing html crawler, ``jailer``; any override kwargs apply
    to it (e.g. robotstxt=True)."""
    html = Filetype(
        name="html", extensions=("html",),
        mimetypes=("text/html",), parsers=("html",),
    )
    cr = Crawler(
        name="jailer", filetypes=("html",), jail=True,
        dynamic_url="discard", extless_url="discard",
        dir_url="@html", unknown_url="discard", **crawler_overrides,
    )
    cfg = CrawlConfig(filetypes=(html,), crawlers=(cr,))
    cfg.validate()
    return cfg


def robots_jail_web():
    """TestJail's web plus an a.test robots.txt that disallows
    /sub/priv/, and a second seed there: the robots gate denies it,
    the jail prefix comes from the first seed."""
    web = TestJail().make_web()
    priv = "http://a.test/sub/priv/p.html"
    robots = SynthDoc(
        "http://a.test/robots.txt",
        [("text", "User-agent: *\nDisallow: /sub/priv/\n", None, 0)],
        "text/plain",
    )
    return SynthWeb(
        docs=web.docs + [html_doc(priv, ["/sub/inside.html"]), robots],
        seeds=web.seeds + [priv],
    )


ARRIVAL_SCHEMA = (
    "url string, host_o int, host_l int, file_o int, crawler string,"
    " host string, depth int, ft_rank int, parent_round int,"
    " parent_ord long, sibling_ix int"
)


def arrival(url, crawler, sibling_ix):
    """A depth-0 selected row of ``url`` (ARRIVAL_SCHEMA)."""
    host = url.split("/")[2]
    return (url, 7, len(host), url.rindex("/"), crawler, host, 0, 0,
            -1, -1, sibling_ix)


class TestJail:
    def make_web(self):
        docs = [
            html_doc("http://a.test/sub/index.html",
                     ["inside.html", "/other/out.html",
                      "/sub/deep/two.html"]),
            html_doc("http://a.test/sub/inside.html", []),
            html_doc("http://a.test/other/out.html", ["esc.html"]),
            html_doc("http://a.test/other/esc.html", []),
            html_doc("http://a.test/sub/deep/two.html", []),
        ]
        return SynthWeb(docs=docs,
                        seeds=["http://a.test/sub/index.html"])

    def test_oracle_jail_confines(self):
        web = self.make_web()
        res = OracleCrawler(
            web.doc_map, jail_config(), crawler="jailer"
        ).run(web.seeds)
        fetched = set(res.fetched_urls)
        assert "http://a.test/sub/inside.html" in fetched
        # prefix match: /sub/deep/ is beneath /sub -> allowed
        assert "http://a.test/sub/deep/two.html" in fetched
        # outside the jail dir: admitted (seen) but never fetched
        assert "http://a.test/other/out.html" not in fetched
        assert any("out.html" in k for k in res.seen)
        # its children are never discovered
        assert not any("esc.html" in k for k in res.seen)

    def test_engine_matches_oracle(self, spark, tmp_path):
        web = self.make_web()
        cfg = jail_config()
        oracle = OracleCrawler(web.doc_map, cfg, crawler="jailer").run(
            web.seeds
        )
        engine = SparkCrawler(
            spark, web.to_spark(spark), cfg, crawler="jailer",
            state_dir=str(tmp_path),
        )
        engine.run(web.seeds)
        got_seen = {
            r["seen_key"]
            for r in engine._final_seen.select("seen_key").collect()
        }
        assert got_seen == oracle.seen
        log = engine.store.table("crawl_log").read_until(spark)
        got = [
            r["url"] for r in log.orderBy("round", "fetch_ord").collect()
        ]
        assert got == oracle.fetched_urls

    def test_hosts_state_merge(self, spark):
        """The per-host state keeps robots rules and jail prefix in one
        row: a host entered first by a non-jailing crawler gets its
        rules and no prefix, gains its prefix at its first jailing
        arrival and keeps it after; two jailing rows of one host in one
        arrival take the prefix of the smaller sort key."""
        from dataclasses import replace

        from methanol_web_crawler_spark.plans.crawl import HOSTS_SCHEMA

        base = jail_config(robotstxt=True)
        plain = replace(base.crawlers[0], name="plain", jail=False)
        cfg = CrawlConfig(
            filetypes=base.filetypes, crawlers=base.crawlers + (plain,)
        )
        cfg.validate()
        engine = SparkCrawler(
            spark, robots_jail_web().to_spark(spark), cfg,
            crawler="jailer",
        )

        def update(hosts, *rows):
            sel = spark.createDataFrame(
                [arrival(*row) for row in rows], ARRIVAL_SCHEMA
            )
            hosts = engine._update_hosts(hosts, sel).localCheckpoint()
            state = {
                r["host"]: (r["rules"], r["jail_prefix"])
                for r in hosts.collect()
            }
            return hosts, state

        hosts, state = update(
            spark.createDataFrame([], HOSTS_SCHEMA),
            ("http://a.test/sub/index.html", "plain", 0),
        )
        rules = state["a.test"][0]
        assert [(r["allow"], r["prefix"]) for r in rules] == [
            (False, "/sub/priv/")
        ]
        assert state == {"a.test": (rules, None)}

        hosts, state = update(
            hosts,
            ("http://a.test/other/out.html", "jailer", 0),
            # b.test: the non-jailing row sorts first and is ignored;
            # of the two jailing rows the smaller sort key wins
            ("http://b.test/y/2.html", "plain", 0),
            ("http://b.test/z/3.html", "jailer", 2),
            ("http://b.test/x/1.html", "jailer", 1),
        )
        assert state == {"a.test": (rules, "/other"), "b.test": (None, "/x")}

        _, state = update(
            hosts,
            ("http://a.test/sub/deep/two.html", "jailer", 0),
            ("http://b.test/w/4.html", "jailer", 0),
        )
        assert state == {"a.test": (rules, "/other"), "b.test": (None, "/x")}

    @pytest.mark.parametrize("store", [True, False], ids=["store", "no-store"])
    def test_robots_and_jail_match_oracle(self, spark, tmp_path, store):
        """Robots and jail on together: both gates read the one
        per-host state, and the crawl equals the oracle's."""
        web = robots_jail_web()
        cfg = jail_config(robotstxt=True)
        oracle = OracleCrawler(web.doc_map, cfg, crawler="jailer").run(
            web.seeds
        )
        engine = SparkCrawler(
            spark, web.to_spark(spark), cfg, crawler="jailer",
            state_dir=str(tmp_path) if store else None,
        )
        stats = engine.run(web.seeds)
        got_seen = {
            r["seen_key"]
            for r in engine._final_seen.select("seen_key").collect()
        }
        assert got_seen == oracle.seen
        assert stats.fetched == len(oracle.fetched_urls) == 3
        assert "http://a.test/sub/priv/p.html" not in oracle.fetched_urls
        assert "http://a.test/other/out.html" not in oracle.fetched_urls
        if store:
            log = engine.store.table("crawl_log").read_until(spark)
            got = [
                r["url"]
                for r in log.orderBy("round", "fetch_ord").collect()
            ]
            assert got == oracle.fetched_urls
