"""Differential tests: the JVM extraction mode (resolver_mode="jvm",
functions/extract_jvm.py + the Python admission stage) must produce
the same candidate multiset as the scalar resolver, and a full crawl
under it must match the pure-Python oracle exactly.
"""

import pandas as pd
import pytest

from pyspark.sql import types as T

from methanol_web_crawler_spark.config import default_config
from methanol_web_crawler_spark.functions.canonicalize import parse_url
from methanol_web_crawler_spark.functions.udfs import (
    CANDIDATE_SCHEMA,
    make_link_admitter,
    make_link_resolver_scalar,
)
from methanol_web_crawler_spark.plans.crawl import build_candidates

# resolver input rows: a fetched page joined with its parent's
# frontier fields (shared with tests/test_admit_jvm.py)
IN_COLS = [
    "url", "host_o", "host_l", "file_o", "ext_o", "protocol",
    "is_dynamic", "www", "seen_key", "host", "filetype", "ft_rank",
    "crawler", "peek", "depth", "parent_round", "parent_ord",
    "sibling_ix", "redirect_count", "external", "fetch_round",
    "fetch_ord", "spans", "status", "location", "content_type",
]


def _page_row(url, filetype, spans, status=200, location=None,
              depth=0, redirect_count=0, external=False, crawler=None,
              peek=False, fetch_round=0, fetch_ord=0):
    p = parse_url(url)
    assert p is not None, url
    return {
        "url": p.url, "host_o": p.host_o, "host_l": p.host_l,
        "file_o": p.file_o, "ext_o": p.ext_o, "protocol": p.protocol,
        "is_dynamic": p.is_dynamic, "www": p.www_prefix,
        "seen_key": p.seen_key, "host": p.host_identity,
        "filetype": filetype, "ft_rank": 0,
        "crawler": crawler, "peek": peek, "depth": depth,
        "parent_round": 0, "parent_ord": 0, "sibling_ix": 0,
        "redirect_count": redirect_count, "external": external,
        "fetch_round": fetch_round, "fetch_ord": fetch_ord,
        "spans": spans, "status": status, "location": location,
        "content_type": "text/html",
    }


def _span(text=None, kind="text", media_ref=None):
    return {"kind": kind, "text": text, "media_ref": media_ref,
            "offset": 0}


# hand-picked html shapes: all fast-path tags / the per-char scanner's
# residue / special-prefixed tags
HTML_FAST = (
    '<p>hello</p><a href="http://h1.example.com/p/a.html">x</a>'
    '<a href="/q/view.php?id=3">y</a>'
    '<a href="sub/page.html">z</a>'
    '<img src="http://www.h1.example.com/i.png"/>'
)
HTML_SLOW = (
    "<a href='single-quoted.html'>q</a>"
    '<a disabled href="missed.html">bare-attr quirk</a>'
    '<A HREF="UPPER.HTML">u</A>'
    '<a href="../up/../twice.html">dots</a>'
    '<a href="#frag">skip</a>'
    '<a href="mailto:x@y.z">drop</a>'
    '<a href="spa ce.html">enc</a>'
)
HTML_SPECIAL = (
    '<style>.x { background: url(css-target.png); }</style>'
    '<script>var x = "<a href=\'no.html\'>";</script>'
    '<a href="after-special.html">ok</a>'
)

IN_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("host_o", T.IntegerType()),
        T.StructField("host_l", T.IntegerType()),
        T.StructField("file_o", T.IntegerType()),
        T.StructField("ext_o", T.IntegerType()),
        T.StructField("protocol", T.StringType()),
        T.StructField("is_dynamic", T.BooleanType()),
        T.StructField("www", T.BooleanType()),
        T.StructField("seen_key", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("filetype", T.StringType()),
        T.StructField("ft_rank", T.IntegerType()),
        T.StructField("crawler", T.StringType()),
        T.StructField("peek", T.BooleanType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("parent_round", T.IntegerType()),
        T.StructField("parent_ord", T.LongType()),
        T.StructField("sibling_ix", T.IntegerType()),
        T.StructField("redirect_count", T.IntegerType()),
        T.StructField("external", T.BooleanType()),
        T.StructField("fetch_round", T.IntegerType()),
        T.StructField("fetch_ord", T.LongType()),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("kind", T.StringType()),
                        T.StructField("text", T.StringType()),
                        T.StructField("media_ref", T.StringType()),
                        T.StructField("offset", T.IntegerType()),
                    ]
                )
            ),
        ),
        T.StructField("status", T.IntegerType()),
        T.StructField("location", T.StringType()),
        T.StructField("content_type", T.StringType()),
    ]
)


def _cands(spark, rows, mode):
    cfg = default_config()
    pdf = pd.DataFrame(rows, columns=IN_COLS)
    df = spark.createDataFrame(pdf, IN_SCHEMA)
    resolver = make_link_resolver_scalar(cfg, "default")
    admitter = make_link_admitter(cfg, "default")
    out = build_candidates(df, cfg, resolver, admitter, mode)
    cols = sorted(f.name for f in CANDIDATE_SCHEMA.fields)
    return sorted(
        (tuple(r[c] for c in cols) for r in out.collect()),
        key=lambda t: tuple(str(x) for x in t),
    )


def assert_jvm_matches_scalar(spark, rows):
    a = _cands(spark, rows, "scalar")
    b = _cands(spark, rows, "jvm")
    assert a == b


class TestJvmExtraction:
    def test_fast_and_slow_html(self, spark):
        rows = [
            _page_row("http://h1.example.com/p/x.html", "html",
                      [_span(HTML_FAST)]),
            _page_row("http://h1.example.com/p/y.html", "html",
                      [_span(HTML_SLOW)]),  # guard-fail -> python doc
            _page_row("http://h1.example.com/p/z.html", "html",
                      [_span(HTML_SPECIAL)]),
            _page_row("http://h2.example.com/", "html",
                      [_span(HTML_FAST),
                       _span(kind="media", media_ref="/m/i.jpg")]),
        ]
        assert_jvm_matches_scalar(spark, rows)

    def test_text_chain(self, spark):
        rows = [
            _page_row(
                "http://h1.example.com/t/n.txt", "text",
                [_span("see http://h2.example.com/a.html and "
                       "ftp://f.example.com/d/ plus trailing "
                       "http://h3.example.com/end")],
            ),
            _page_row(
                "http://h1.example.com/t/m.txt", "text",
                [_span("https://skipped.example.com/x "
                       "HTTP://case.example.com/y "
                       "http://ok.example.com/z ")],
            ),
        ]
        assert_jvm_matches_scalar(spark, rows)

    def test_redirects(self, spark):
        rows = [
            _page_row("http://h1.example.com/p/a.html", "html", None,
                      status=301,
                      location="http://h2.example.com/b.html"),
            _page_row("http://h1.example.com/p/c.html", "html", None,
                      status=302, location="/p/rel.html", depth=2,
                      redirect_count=5),
            _page_row("http://h1.example.com/p/d.html", "html", None,
                      status=307, location="loop.html",
                      redirect_count=19),  # cap: dropped
        ]
        assert_jvm_matches_scalar(spark, rows)

    def test_mixed_spans_ordering(self, spark):
        """sibling_ix must follow document order across media + html
        spans exactly as the scalar enumerate does."""
        rows = [
            _page_row(
                "http://h1.example.com/p/x.html", "html",
                [
                    _span('<a href="/first.html">1</a>'),
                    _span(kind="media", media_ref="/mid.png"),
                    _span('<a href="/third.html">3</a>'
                          '<a href="#skip">s</a>'
                          '<a href="/fourth.html">4</a>'),
                ],
            )
        ]
        a = _cands(spark, rows, "scalar")
        b = _cands(spark, rows, "jvm")
        assert a == b
        cols = sorted(f.name for f in CANDIDATE_SCHEMA.fields)
        six_i = cols.index("sibling_ix")
        url_i = cols.index("url")
        order = sorted((r[six_i], r[url_i]) for r in b)
        assert [u for _, u in order] == [
            "http://h1.example.com/first.html",
            "http://h1.example.com/mid.png",
            "http://h1.example.com/third.html",
            "http://h1.example.com/fourth.html",
        ]

    def test_empty_and_parserless(self, spark):
        rows = [
            _page_row("http://h1.example.com/p/x.html", "html", None),
            _page_row("http://h1.example.com/t/n.txt", "text", []),
        ]
        assert_jvm_matches_scalar(spark, rows)


class TestJvmCrawlGolden:
    def test_full_crawl_matches_oracle(self, spark):
        from methanol_web_crawler_spark.oracle.crawler import (
            OracleCrawler,
        )
        from methanol_web_crawler_spark.plans.crawl import SparkCrawler
        from methanol_web_crawler_spark.sources.synthweb import (
            generate_web,
        )

        web = generate_web(n_docs=120, n_hosts=4, seed=42)
        cfg = default_config(robotstxt=True)
        oracle = OracleCrawler(web.doc_map, cfg).run(web.seeds)
        engine = SparkCrawler(
            spark, web.to_spark(spark), cfg, politeness_budget=0,
            resolver_mode="jvm",
        )
        stats = engine.run(web.seeds)
        assert stats.fetched == len(oracle.fetched_urls)
        seen = {
            r["seen_key"]
            for r in engine._final_seen.select("seen_key").collect()
        }
        assert seen == oracle.seen


class TestJvmRandomCorpus:
    def test_seeded_random_batch_equivalence(self, spark):
        """One batched comparison over a seeded random corpus mixing
        fast tags, slow shapes, specials, media spans, text chains and
        redirects — breadth beyond the hand-picked cases, one Spark
        job (per-example Spark round-trips would make hypothesis-style
        fuzzing here cost minutes; the pandas-level fuzz in
        the golden crawls cover the scalar semantics)."""
        import random

        rng = random.Random(20260817)
        hrefs = [
            "/p/a.html", "b.html", "../up.html", "./same.html",
            "//h2.example.com/x.html", "sub/", "/", ".", "..",
            "x.php?a=1", "?q=2", "x.html#f", "mailto:a@b.c",
            "http://h2.example.com/y.html", "HTTPS://H3.EXAMPLE.COM/",
            "ftp://f.example.com/d/", "sp ace.html", "unié.html",
            "x.html?a=1&amp;b=2", "%41.html", "", "#only",
            "[curie:ref]", "http://h2.example.com:8080/p.html",
            "a//b.html", "/p/./x.html",
        ]
        styles = [
            '<a href="{h}">t</a>',
            "<a href='{h}'>t</a>",
            '<img src="{h}"/>',
            '<a class="k" href="{h}" id="z">t</a>',
            '<a disabled href="{h}">t</a>',
            "<p>text {h} </p>",
            "<style>.x {{ background: url({h}); }}</style>",
            "<script>var x = '{h}';</script>",
        ]
        rows = []
        for i in range(120):
            base = rng.choice(
                [
                    "http://h1.example.com/p/x.html",
                    "http://www.h1.example.com/",
                    "http://h1.example.com/q/view.php?id=1",
                    "ftp://f.example.com/d/",
                ]
            )
            if rng.random() < 0.15:
                rows.append(
                    _page_row(
                        base, "html", None,
                        status=rng.choice([301, 302, 307]),
                        location=rng.choice(hrefs) or None,
                        depth=rng.randrange(3),
                        redirect_count=rng.choice([0, 3, 19]),
                    )
                )
                continue
            spans = []
            for _ in range(rng.randrange(1, 4)):
                if rng.random() < 0.2:
                    spans.append(
                        _span(kind="media",
                              media_ref=rng.choice(hrefs) or None)
                    )
                elif rng.random() < 0.15:
                    spans.append(_span("see " + rng.choice(
                        ["http://t.example.com/a ",
                         "ftp://t.example.com/b.txt end",
                         "no urls here"])))
                else:
                    body = "".join(
                        rng.choice(styles).format(h=rng.choice(hrefs))
                        for _ in range(rng.randrange(0, 5))
                    )
                    spans.append(_span(body))
            ft = "text" if rng.random() < 0.15 else "html"
            rows.append(
                _page_row(base, ft, spans,
                          external=rng.random() < 0.2,
                          depth=rng.randrange(3)))
        assert_jvm_matches_scalar(spark, rows)
