"""JVM-side link extraction — the stage that actually removes Python
from the parse hot path.

The scalar resolver (udfs.make_link_resolver_scalar) pulls every
fetched page's SPAN TEXT across Arrow into Python workers each round;
at a steady-state mega-round that transfer (GBs of text per round) is
the dominant memory traffic. This module compiles the builtin html
and text parsers' fast shapes into Spark SQL expressions
(regexp_extract_all + higher-order functions) so extraction runs
inside whole-stage codegen and ONLY small candidate link rows
(base URL fields + href) reach the Python admission stage:

- html chain (parsers == ("html",)): the per-tag regex fast path from
  parsers.py runs as ONE regexp_extract_all per span; the guard
  ("every '<' starts a fast-shape tag, no special-prefixed tags")
  is a match-count equality plus one rlike, evaluated in the JVM.
  Documents with any guard-failing span fall back to the exact
  Python resolver.
- text chain (parsers == ("text",)): lm_extract_text_urls' documented
  semantics are exactly one regex (charset-delimited http://-or-
  ftp:// runs, end-of-buffer matches suppressed via lookahead), so
  the text chain needs no guard at all.
- media spans contribute their media_ref, any chain.
- redirect rows (3xx + Location) emit their single candidate with
  column expressions (the redirect-loop cap is a filter).

sibling_ix comes from posexplode over the per-document FLATTENED,
pre-filtered link array — the scalar resolver's enumerate() without a
window or shuffle. The Python patterns are passed to the JVM verbatim
(they contain literal control characters, not '\\v'-style escapes
whose meaning differs between re and java.util.regex).

Equivalence with the scalar resolver (udfs.make_link_resolver_scalar,
the semantics spec) is pinned by tests/test_resolver_jvm_diff.py.
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import CrawlConfig
from .parsers import _FAST_SKIP, _FAST_TAG

# combined tag pattern: group 1 is the href value of a fast open tag;
# FAST_SKIP alternation carries no groups, so its matches (and
# href-less tags) extract as '' and are filtered out — exactly the
# scalar fast loop's behavior (parsers.py extract_html_links)
TAGS_PATTERN = "<(?:" + _FAST_SKIP.pattern + "|" + _FAST_TAG.pattern + ")"
SPECIAL_PATTERN = "(?i)<(?:script|style|textarea|html)"
# lm_extract_text_urls' documented semantics as one regex (see
# parsers.py extract_text_urls for the charset + EOF quirk)
TEXT_URL_PATTERN = (
    r"(?:http|ftp)://[A-Za-z0-9%?=&/.]*(?=[^A-Za-z0-9%?=&/.])"
)


def jvm_fast_filetypes(config: CrawlConfig) -> Tuple[List[str], List[str]]:
    """(html_fts, text_fts): filetypes whose whole parser chain is
    JVM-expressible."""
    html_fts = [f.name for f in config.filetypes if f.parsers == ("html",)]
    text_fts = [f.name for f in config.filetypes if f.parsers == ("text",)]
    return html_fts, text_fts


def _span_guard(s) -> Column:
    """True when a text span is fully fast-extractable: every '<'
    starts a FAST_SKIP/FAST_TAG match and no special-prefixed tag
    appears (match count == '<' count: the tag patterns cannot contain
    '<' internally, so matches are non-overlapping and consume exactly
    one '<' each)."""
    n_lt = F.regexp_count(s["text"], F.lit("<"))
    n_match = F.regexp_count(s["text"], F.lit(TAGS_PATTERN))
    return (n_lt == n_match) & ~s["text"].rlike(SPECIAL_PATTERN)


def _span_links(s, is_html: Column, is_text: Column) -> Column:
    """Ordered candidate links of ONE span as an array column."""
    media = F.when(
        s["media_ref"].isNotNull() & (s["media_ref"] != ""),
        F.array(s["media_ref"]),
    ).otherwise(F.array().cast("array<string>"))
    empty = F.array().cast("array<string>")
    html_links = F.filter(
        F.regexp_extract_all(s["text"], F.lit(TAGS_PATTERN), F.lit(1)),
        lambda h: h.isNotNull()
        & (h != "")
        & ~h.startswith("#"),
    )
    text_links = F.regexp_extract_all(
        s["text"], F.lit(TEXT_URL_PATTERN), F.lit(0)
    )
    return (
        F.when(s["kind"] == "media", media)
        .when(s["text"].isNull() | (s["text"] == ""), empty)
        .when(is_html, html_links)
        .when(is_text, text_links)
        .otherwise(empty)
    )


def split_jvm_extractable(
    parse_input: DataFrame, config: CrawlConfig
) -> Tuple[DataFrame, DataFrame]:
    """(link_rows, python_docs).

    ``link_rows``: candidate links of all JVM-extractable documents —
    the parent's URL/classification columns plus (href, sibling_ix,
    child_depth, new_redirect_count) — produced entirely by column
    expressions. ``python_docs``: the residue documents (guard-failing
    spans or non-JVM parser chains) for the exact Python resolver."""
    html_fts, text_fts = jvm_fast_filetypes(config)
    parser_fts = [f.name for f in config.filetypes if f.parsers]

    is_red = (
        F.col("status").isNotNull()
        & (F.col("status") >= 300)
        & (F.col("status") < 400)
        & F.col("location").isNotNull()
        & (F.col("location") != "")
    )
    has_parsers = F.col("filetype").isin(parser_fts)
    parse_doc = (
        ~is_red & has_parsers & F.col("spans").isNotNull()
    )

    is_html_ft = F.col("filetype").isin(html_fts) if html_fts else F.lit(False)
    is_text_ft = F.col("filetype").isin(text_fts) if text_fts else F.lit(False)
    spans_ok = F.forall(
        "spans",
        lambda s: (s["kind"] == "media")
        | s["text"].isNull()
        | (s["text"] == "")
        | _span_guard(s),
    )
    # text-chain spans need no guard (the regex is exact on every
    # input); html-chain spans need the per-span guard
    jvm_parse = parse_doc & (
        is_text_ft | (is_html_ft & spans_ok)
    )

    base_cols = [
        "url", "host_o", "host_l", "file_o", "ext_o", "protocol",
        "is_dynamic", "www", "host", "external", "filetype", "crawler",
        "peek", "fetch_round", "fetch_ord",
    ]

    # redirect candidates: the Location header at the SAME depth
    # (ue_revert); the 20-redirect loop cap drops the row outright
    red_rows = (
        parse_input.filter(is_red & (F.col("redirect_count") + 1 < 20))
        .select(
            *base_cols,
            F.col("location").alias("href"),
            F.lit(0).alias("sibling_ix"),
            F.col("depth").cast("int").alias("child_depth"),
            (F.col("redirect_count") + 1).cast("int").alias("rcount"),
        )
    )

    jvm_docs = parse_input.filter(jvm_parse)
    links_col = F.flatten(
        F.transform(
            "spans",
            lambda s: _span_links(s, is_html_ft, is_text_ft),
        )
    )
    parse_rows = (
        jvm_docs.select(
            *base_cols,
            (F.col("depth") + 1).cast("int").alias("child_depth"),
            F.lit(0).alias("rcount"),
            F.posexplode(links_col).alias("sibling_ix", "href"),
        )
        .select(
            *base_cols, "href", "sibling_ix", "child_depth", "rcount"
        )
    )

    python_docs = parse_input.filter(parse_doc & ~jvm_parse)
    return red_rows.unionByName(parse_rows), python_docs
