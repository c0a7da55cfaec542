"""P11 general attribute emission: golden parity engine vs oracle for
the conf/title.conf and conf/meta.conf analogs (attrs-kind parsers over
the xmlconv chain) and the html parser's whole-body 'html' attribute,
plus the declared-name matching quirk."""

import dataclasses

import pytest

from methanol_web_crawler_spark.config import (
    CrawlConfig,
    default_config,
    meta_config,
    title_config,
)
from methanol_web_crawler_spark.operators.admission import (
    _declared_attr,
    run_parser_chain,
)
from methanol_web_crawler_spark.oracle.crawler import OracleCrawler
from methanol_web_crawler_spark.plans.crawl import SparkCrawler
from methanol_web_crawler_spark.sources.synthweb import SynthDoc, SynthWeb


def _page(url, title, body_links, metas=()):
    meta_html = "".join(
        f'<META name="{n}" content="{c}">' for (n, c) in metas
    )
    anchors = "".join(f'<a href="{h}">x</a>' for h in body_links)
    html = (
        f"<HTML><HEAD><TITLE>{title}</TITLE>{meta_html}</HEAD>"
        f"<BODY>{anchors}</BODY></HTML>"
    )
    return SynthDoc(url, [("text", html, None, 0)], "text/html")


@pytest.fixture(scope="module")
def titleweb():
    h = "http://t.test"
    docs = [
        _page(f"{h}/", "Home Page", [f"{h}/a.html", f"{h}/b.html"]),
        _page(f"{h}/a.html", "Page A", [f"{h}/b.html"],
              metas=[("description", "about a"), ("author", "alice"),
                     ("robots", "noindex")]),
        _page(f"{h}/b.html", "Page B", []),
        SynthDoc(f"{h}/robots.txt", [("text", "", None, 0)],
                 "text/plain"),
    ]
    return SynthWeb(docs=docs, seeds=[f"{h}/"])


def _attr_targets_of(engine, spark):
    tdf = engine.store.table("attr_targets").read_until(spark)
    if tdf is None:
        return []
    return sorted(
        (r["url"], r["filetype"], tuple(sorted(r["attributes"].items())))
        for r in tdf.collect()
    )


def _oracle_attr_targets(oracle):
    return sorted(
        (t.url, t.filetype, tuple(sorted(t.attributes.items())))
        for t in oracle.targets
        if t.attributes
    )


def html_attr_config(**crawler_overrides) -> CrawlConfig:
    """default.conf whose html filetype declares the builtin html
    parser's whole-body 'html' attribute (html.c:179-183)."""
    cfg = default_config(**crawler_overrides)
    return CrawlConfig(
        filetypes=tuple(
            dataclasses.replace(f, attributes=("html",))
            if f.name == "html" else f
            for f in cfg.filetypes
        ),
        crawlers=cfg.crawlers,
    )


@pytest.mark.parametrize(
    "make_cfg", [title_config, meta_config, html_attr_config]
)
def test_attr_targets_golden(spark, tmp_path, titleweb, make_cfg):
    cfg = make_cfg(robotstxt=True)
    oracle = OracleCrawler(titleweb.doc_map, cfg,
                           politeness_budget=0).run(titleweb.seeds)
    engine = SparkCrawler(
        spark, titleweb.to_spark(spark), cfg, politeness_budget=0,
        state_dir=str(tmp_path / make_cfg.__name__),
    )
    stats = engine.run(titleweb.seeds)
    got = _attr_targets_of(engine, spark)
    want = _oracle_attr_targets(oracle)
    assert got == want

    # store-less, the engine counts the same targets as the oracle
    storeless = SparkCrawler(
        spark, titleweb.to_spark(spark), cfg, politeness_budget=0,
    ).run(titleweb.seeds)
    assert storeless.targets == stats.targets == len(oracle.targets)

    if make_cfg is html_attr_config:
        # every fetched html page carries its whole body -> 3 targets
        assert len(got) == 3
        assert all(dict(a)["html"].startswith("<HTML>")
                   for (_, _, a) in got)
    elif make_cfg is title_config:
        # every fetched html page has a <title> -> 3 attr targets
        assert len(got) == 3
        titles = {u: dict(a)["title"] for (u, _, a) in got}
        assert titles == {
            "http://t.test/": "Home Page",
            "http://t.test/a.html": "Page A",
            "http://t.test/b.html": "Page B",
        }
    else:
        # under meta_config only /a.html sets declared metas -> 1 row
        assert len(got) == 1
        by_url = {u: dict(a) for (u, _, a) in got}
        assert by_url.get("http://t.test/a.html") == {
            "description": "about a",
            "author": "alice",  # 'robots' is NOT declared -> dropped
        }


def test_meta_undeclared_page_emits_no_target(spark, tmp_path, titleweb):
    """Pages whose metas are all undeclared set no attribute — the
    'changed' flag stays false and no target is emitted for them
    (worker.c:913-917)."""
    cfg = meta_config(robotstxt=True)
    oracle = OracleCrawler(titleweb.doc_map, cfg,
                           politeness_budget=0).run(titleweb.seeds)
    urls = {t.url for t in oracle.targets if t.attributes}
    assert urls == {"http://t.test/a.html"}


def test_attrs_parser_links_feed_admission(spark, tmp_path, titleweb):
    """The attrs parsers return xml..a.@href links — the crawl must
    still traverse the whole site through them."""
    cfg = title_config(robotstxt=True)
    oracle = OracleCrawler(titleweb.doc_map, cfg,
                           politeness_budget=0).run(titleweb.seeds)
    assert set(oracle.fetched_urls) == {
        "http://t.test/", "http://t.test/a.html", "http://t.test/b.html"
    }


def test_declared_attr_whitespace_quirk():
    """attr.c:44-47: a declared name matches when it equals the set
    name or starts with it followed by whitespace."""
    assert _declared_attr("title", ("title",)) == "title"
    assert _declared_attr("title", ("title from-page",)) == (
        "title from-page"
    )
    assert _declared_attr("title", ("titles",)) == ""
    assert _declared_attr("desc", ("title",)) == ""


def test_run_parser_chain_attrs_filtered():
    spans = [
        {
            "kind": "text",
            "text": '<title>T</title><meta name="a" content="1">'
                    '<meta name="b" content="2"><a href="x">l</a>',
            "media_ref": None,
            "offset": 0,
        }
    ]
    links, attrs = run_parser_chain(
        spans, ("xmlconv", "misc.js/meta"), ("a",)
    )
    assert links == ["x"]
    assert attrs == {"a": "1"}  # 'b' undeclared -> dropped


def test_meta_targets_fail_closed(spark, tmp_path):
    """The title target under meta_config: no declared attribute set
    -> no attr target rows at all."""
    h = "http://u.test"
    web = SynthWeb(
        docs=[_page(f"{h}/", "Only Title", [])],
        seeds=[f"{h}/"],
    )
    cfg = meta_config(robotstxt=False)
    engine = SparkCrawler(
        spark, web.to_spark(spark), cfg, politeness_budget=0,
        state_dir=str(tmp_path),
    )
    engine.run(web.seeds)
    assert _attr_targets_of(engine, spark) == []
