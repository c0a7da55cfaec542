"""JVM admission stage (functions/admit_jvm.py): split coverage and
plan audit on top of the equivalence already pinned by
tests/test_resolver_jvm_diff.py (which runs build_candidates in jvm
mode, i.e. THROUGH split_fast_admit, against the scalar resolver)."""

import pandas as pd
import pytest

from methanol_web_crawler_spark.config import default_config
from methanol_web_crawler_spark.functions.admit_jvm import (
    _ext_match_map,
    split_fast_admit,
)
from methanol_web_crawler_spark.functions.classify import (
    FtIndex,
    _ext_hash,
)
from methanol_web_crawler_spark.functions.extract_jvm import (
    split_jvm_extractable,
)
from tests.test_resolver_jvm_diff import IN_COLS, IN_SCHEMA, _page_row, _span

FAST_HREFS = [
    "/p/a.html", "b.html", "x.php?a=1", "sub/", "/q/?s=1",
    "http://h2.example.com/y.html", "HTTPS://H3.EXAMPLE.COM/",
    "ftp://f.example.com/d/", "trail.",
]
RESIDUE_HREFS = [
    "../up.html", "./same.html", "sp ace.html", "x.html#f",
    "x.html?a=1&amp;b=2", "http://h2.example.com:8080/p.html",
    "http:foo", "file:///etc/x", "a//b.html", "unié.html",
]
DROP_HREFS = ["mailto:a@b.c", ":x", "javascript:void(0)"]


def _link_rows(spark, hrefs):
    body = "".join(f'<a href="{h}">t</a>' for h in hrefs)
    rows = [
        _page_row("http://h1.example.com/p/x.html", "html",
                  [_span(body)])
    ]
    pdf = pd.DataFrame(rows, columns=IN_COLS)
    df = spark.createDataFrame(pdf, IN_SCHEMA)
    return split_jvm_extractable(df, default_config())[0]


class TestSplitFastAdmit:
    def test_split_boundary(self, spark):
        cfg = default_config()
        links = _link_rows(
            spark, FAST_HREFS + RESIDUE_HREFS + DROP_HREFS
        )
        fast, residue, _ = split_fast_admit(links, cfg, "default")
        assert fast.count() == len(FAST_HREFS)
        got_residue = {r["href"] for r in residue.collect()}
        assert got_residue == set(RESIDUE_HREFS)

    def test_fast_plan_has_no_python(self, spark):
        """The whole point: fast-shape admission never leaves the JVM."""
        cfg = default_config()
        links = _link_rows(spark, FAST_HREFS)
        fast, _, _ = split_fast_admit(links, cfg, "default")
        plan = fast._jdf.queryExecution().executedPlan().toString()
        for node in ("BatchEvalPython", "ArrowEvalPython",
                     "MapInPandas", "FlatMapGroupsInPandas"):
            assert node not in plan


class TestExtMatchMap:
    def test_matches_bucket_scan_for_all_prefixes(self):
        """The driver-precomputed literal map must agree with the
        16-bucket prefix-compare lookup (ftindex.c:100-133) for every
        candidate ext string AND for non-matching probes."""
        cfg = default_config()
        idx = FtIndex(cfg, cfg.crawlers[0])
        emap = _ext_match_map(idx)

        def by_ext_ref(e):
            if not e:  # match_by_ext's empty guard (classify.py:102)
                return None
            for entry, ft in idx.e_index[_ext_hash(e)]:
                if entry[: len(e)] == e:
                    return ft
            return None

        probes = set(emap) | {
            "", "h", "ht", "htm", "html", "htmlx", "p", "ph", "php",
            "t", "tx", "txt", "txtx", "jsp", "js", "asp", "as", "a",
            "aspx", "xml", "png",
        }
        for e in probes:
            assert emap.get(e) == by_ext_ref(e), e


class TestAllUmexConfig:
    """Regression (round-4 ADVICE): when EVERY crawler carries a UMEX
    expression (full-URL matching — the wikipedia.conf shape),
    fast_crawlers is empty and split_fast_admit used to crash at plan
    build (_per_crawler returned None). It must instead route all
    links to the Python admitter and stay oracle-equivalent."""

    @staticmethod
    def _umex_config():
        from dataclasses import replace

        cfg = default_config()
        return replace(
            cfg,
            filetypes=tuple(
                replace(f, expr="PATH<*>") for f in cfg.filetypes
            ),
        )

    def test_empty_fast_side_routes_all_to_residue(self, spark):
        cfg = self._umex_config()
        links = _link_rows(
            spark, FAST_HREFS + RESIDUE_HREFS + DROP_HREFS
        )
        fast, residue, cached = split_fast_admit(
            links, cfg, "default"
        )
        assert cached is None
        assert fast.count() == 0
        from methanol_web_crawler_spark.functions.udfs import (
            CANDIDATE_SCHEMA,
        )

        assert [f.name for f in fast.schema.fields] == [
            f.name for f in CANDIDATE_SCHEMA.fields
        ]
        got = {r["href"] for r in residue.collect()}
        # the exact unknown-protocol drop still applies JVM-side
        assert got == set(FAST_HREFS) | set(RESIDUE_HREFS)

    def test_cache_contract_holds(self, spark):
        cfg = self._umex_config()
        links = _link_rows(spark, FAST_HREFS)
        fast, residue, cached = split_fast_admit(
            links, cfg, "default", cache=True
        )
        assert cached is not None
        assert residue.count() == len(FAST_HREFS)
        cached.unpersist()

    def test_jvm_mode_matches_scalar_end_to_end(self, spark):
        """build_candidates in jvm mode (the crashing entry path) vs
        the scalar resolver under the all-UMEX config."""
        import pandas as pd

        from methanol_web_crawler_spark.functions.udfs import (
            CANDIDATE_SCHEMA,
            make_link_admitter,
            make_link_resolver_scalar,
        )
        from methanol_web_crawler_spark.plans.crawl import (
            build_candidates,
        )

        cfg = self._umex_config()
        body = "".join(
            f'<a href="{h}">t</a>'
            for h in FAST_HREFS + RESIDUE_HREFS + DROP_HREFS
        )
        rows = [
            _page_row(
                "http://h1.example.com/p/x.html", "html",
                [_span(body)],
            )
        ]
        pdf = pd.DataFrame(rows, columns=IN_COLS)
        df = spark.createDataFrame(pdf, IN_SCHEMA)
        resolver = make_link_resolver_scalar(cfg, "default")
        admitter = make_link_admitter(cfg, "default")
        cols = sorted(f.name for f in CANDIDATE_SCHEMA.fields)

        def cands(mode):
            out = build_candidates(df, cfg, resolver, admitter, mode)
            return sorted(
                (tuple(r[c] for c in cols) for r in out.collect()),
                key=lambda t: tuple(str(x) for x in t),
            )

        assert cands("jvm") == cands("scalar")


class TestResidueWebCrawl:
    """End-to-end jvm-mode crawl whose plan exercises BOTH admission
    branches (VERDICT r4 #5): the synthetic mega-corpus is 100%
    fast-shape so the Python residue branch was only unit-fuzzed;
    this web (entryqueries._residue_web, also the driver entry
    crawl_residue_jvm) straddles the fast-shape grammar on purpose."""

    def test_both_branches_nonempty(self, spark):
        from methanol_web_crawler_spark.entryqueries import (
            _residue_web,
        )
        from methanol_web_crawler_spark.functions.udfs import (
            make_link_resolver_scalar,
        )

        cfg = default_config()
        web = _residue_web()
        body = "".join(
            s[1] for d in web.docs for s in d.spans if s[0] == "text"
        )
        rows = [
            _page_row("http://r1.test/d/index.html", "html",
                      [_span(body)])
        ]
        pdf = pd.DataFrame(rows, columns=IN_COLS)
        df = spark.createDataFrame(pdf, IN_SCHEMA)
        links = split_jvm_extractable(df, cfg)[0]
        fast, residue, _ = split_fast_admit(links, cfg, "default")
        n_fast, n_residue = fast.count(), residue.count()
        assert n_fast > 0 and n_residue > 0
        # the residue shapes: dot-leading, ..-pop, entity-& query,
        # fragment, explicit port (the %-escape is fast-shape: the
        # JVM canonicalizer preserves escapes verbatim)
        assert n_residue >= 5

    def test_jvm_crawl_matches_oracle(self, spark, tmp_path):
        from methanol_web_crawler_spark.entryqueries import (
            _residue_web,
        )
        from methanol_web_crawler_spark.oracle.crawler import (
            OracleCrawler,
        )
        from methanol_web_crawler_spark.plans.crawl import SparkCrawler

        cfg = default_config()
        web = _residue_web()
        oracle = OracleCrawler(
            web.doc_map, cfg, politeness_budget=0
        ).run(web.seeds)
        engine = SparkCrawler(
            spark, web.to_spark(spark), cfg, politeness_budget=0,
            state_dir=str(tmp_path), resolver_mode="jvm",
        )
        stats = engine.run(web.seeds)
        assert stats.fetched == sum(len(r) for r in oracle.rounds)
        seen = {
            r["seen_key"]
            for r in engine._final_seen.select("seen_key").collect()
        }
        assert seen == oracle.seen
