"""Arrow-batched UDFs wrapping the scalar crawl functions for Spark.

All row-level logic runs inside ``mapInPandas`` / ``pandas_udf``
stages (Arrow batch transfer), never as row-at-a-time Python UDFs —
the input_hint mandate. The closures capture the (tiny) broadcast
crawl config; heavy lookups (content types, the seen set) are joins,
not closure state.

Multi-crawler semantics (Q4/Q5): every frontier row carries its
``crawler``; a fetched filetype with ``switch_to`` classifies and
routes its children under the switched crawler's ftindex
(worker.c:747-748 — the switch happens before the handler, so it
applies to redirect targets too). External peek (EPEEK): an external
link on a non-peeking row of an EPEEK crawler starts a peek — the
child re-enters at depth 0 with ``peek=True`` and is budgeted by
``peek_limit`` instead of ``depth_limit`` (worker.c:679-703).
"""

from __future__ import annotations

from typing import Dict, Iterator, List, Optional

import pandas as pd

from pyspark.sql import types as T

from ..config import CrawlConfig
from ..functions.canonicalize import ParsedUrl, add_url
from ..functions.classify import FT, HEAD, FtIndex
from ..functions.robots import parse_robots
from ..operators.admission import (
    R_DISCARD,
    R_EXTERNAL,
    R_FRONTIER,
    R_TARGET,
    extract_links_from_spans,
    route_of,
)

# candidate-link rows emitted by the parse/resolve stage
CANDIDATE_SCHEMA = T.StructType(
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
        T.StructField("external", T.BooleanType()),
        T.StructField("needs_head", T.BooleanType()),
        T.StructField("filetype", T.StringType()),
        T.StructField("ft_rank", T.IntegerType()),
        T.StructField("route", T.StringType()),
        T.StructField("crawler", T.StringType()),
        T.StructField("peek", T.BooleanType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("parent_round", T.IntegerType()),
        T.StructField("parent_ord", T.LongType()),
        T.StructField("sibling_ix", T.IntegerType()),
        T.StructField("redirect_count", T.IntegerType()),
    ]
)

ROBOTS_RULES_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("allow", T.BooleanType()),
            T.StructField("prefix", T.StringType()),
        ]
    )
)


def build_indexes(config: CrawlConfig) -> Dict[str, FtIndex]:
    return {c.name: FtIndex(config, c) for c in config.crawlers}


def make_link_resolver_scalar(config: CrawlConfig, default_crawler: str):
    """mapInPandas stage: fetched pages -> candidate link rows.

    The row-at-a-time resolver is the semantics spec of link
    resolution: the golden crawls (tests/test_crawl_golden.py) pin it
    against the pure-Python oracle, and the JVM extract+admit path
    (extract_jvm.py, admit_jvm.py) is pinned to it by
    tests/test_resolver_jvm_diff.py and tests/test_admit_jvm.py.

    Input rows carry the parent's parsed-URL fields, filetype, depth,
    crawler, peek flag, (fetch_round, fetch_ord), redirect_count,
    external flag, plus the joined document columns (spans, status,
    location). For 3xx rows the Location header is the single
    candidate at the SAME depth (ue_revert, urlengine.c:158-165);
    otherwise the filetype's parser chain extracts links and children
    land one level deeper.
    """

    def resolve(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        indexes = build_indexes(config)
        cols = [f.name for f in CANDIDATE_SCHEMA.fields]

        for pdf in it:
            out: List[list] = []
            for row in pdf.itertuples(index=False):
                base = ParsedUrl(
                    row.url,
                    row.host_o,
                    row.host_l,
                    row.file_o,
                    row.ext_o,
                    row.protocol,
                    row.is_dynamic,
                    row.www,
                )
                cr_name = getattr(row, "crawler", None) or default_crawler
                parent_peek = bool(getattr(row, "peek", False))
                ft = config.filetype(row.filetype)
                # crawler switch happens before the handler runs
                eff_name = ft.switch_to or cr_name
                idx = indexes[eff_name]

                status = row.status
                is_redirect = (
                    status is not None
                    and not pd.isna(status)
                    and 300 <= int(status) < 400
                    and isinstance(row.location, str)
                    and row.location
                )
                if is_redirect:
                    if row.redirect_count + 1 >= 20:
                        continue  # redirect-loop breaker (worker.c:808)
                    pairs = [(0, row.location)]
                    child_depth = int(row.depth)
                    rcount = int(row.redirect_count) + 1
                else:
                    if not ft.parsers or row.spans is None:
                        continue
                    spans = [
                        {
                            "kind": s["kind"],
                            "text": s["text"],
                            "media_ref": s["media_ref"],
                            "offset": s["offset"],
                        }
                        for s in row.spans
                    ]
                    links = extract_links_from_spans(spans, ft.parsers)
                    pairs = list(enumerate(links))
                    child_depth = int(row.depth) + 1
                    rcount = 0

                for six, href in pairs:
                    res = add_url(base, href, bool(row.external))
                    if res is None:
                        continue
                    parsed, external = res
                    kind, name = idx.match_by_url(parsed)
                    needs_head = kind == HEAD
                    depth = child_depth
                    peek = parent_peek
                    if needs_head:
                        route, rank = None, None
                    elif kind == FT:
                        route, rank, peek_start = route_of(
                            name, external, idx, config, parent_peek
                        )
                        if peek_start:
                            peek = True
                            depth = 0
                    else:
                        name = None
                        route, rank = R_DISCARD, len(idx.ft_list)
                    out.append(
                        [
                            parsed.url,
                            parsed.host_o,
                            parsed.host_l,
                            parsed.file_o,
                            parsed.ext_o,
                            parsed.protocol,
                            parsed.is_dynamic,
                            parsed.www_prefix,
                            parsed.seen_key,
                            parsed.host_identity,
                            external,
                            needs_head,
                            name,
                            rank,
                            route,
                            eff_name,
                            peek,
                            depth,
                            int(row.fetch_round),
                            int(row.fetch_ord),
                            six,
                            rcount,
                        ]
                    )
            yield pd.DataFrame(out, columns=cols)

    return resolve


def make_link_admitter(config: CrawlConfig, default_crawler: str):
    """mapInPandas stage: JVM-extracted link rows -> candidate rows.

    The downstream half of the resolver for the jvm extraction mode
    (functions/extract_jvm.py): inputs already carry one raw href per
    row plus the parent's URL fields, child depth and redirect count —
    NO span text crosses Arrow. Canonicalization/classification/
    routing are byte-identical to the scalar resolver's inner loop
    (ue_add + lm_worker_bind_url, urlengine.c:170-250 /
    worker.c:666-714)."""

    def admit(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        indexes = build_indexes(config)
        cols = [f.name for f in CANDIDATE_SCHEMA.fields]

        for pdf in it:
            out: List[list] = []
            for row in pdf.itertuples(index=False):
                base = ParsedUrl(
                    row.url, row.host_o, row.host_l, row.file_o,
                    row.ext_o, row.protocol, row.is_dynamic, row.www,
                )
                cr_name = getattr(row, "crawler", None) or default_crawler
                parent_peek = bool(getattr(row, "peek", False))
                ft = config.filetype(row.filetype)
                eff_name = ft.switch_to or cr_name
                idx = indexes[eff_name]

                res = add_url(base, row.href, bool(row.external))
                if res is None:
                    continue
                parsed, external = res
                kind, name = idx.match_by_url(parsed)
                needs_head = kind == HEAD
                depth = int(row.child_depth)
                peek = parent_peek
                if needs_head:
                    route, rank = None, None
                elif kind == FT:
                    route, rank, peek_start = route_of(
                        name, external, idx, config, parent_peek
                    )
                    if peek_start:
                        peek = True
                        depth = 0
                else:
                    name = None
                    route, rank = R_DISCARD, len(idx.ft_list)
                out.append(
                    [
                        parsed.url, parsed.host_o, parsed.host_l,
                        parsed.file_o, parsed.ext_o, parsed.protocol,
                        parsed.is_dynamic, parsed.www_prefix,
                        parsed.seen_key, parsed.host_identity,
                        external, needs_head, name, rank, route,
                        eff_name, peek, depth,
                        int(row.fetch_round), int(row.fetch_ord),
                        int(row.sibling_ix), int(row.rcount),
                    ]
                )
            yield pd.DataFrame(out, columns=cols)

    return admit


# attribute-target rows emitted by the attrs extraction stage (P11)
ATTR_TARGET_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("filetype", T.StringType()),
        T.StructField(
            "attributes", T.MapType(T.StringType(), T.StringType())
        ),
    ]
)


def make_attr_extractor(config: CrawlConfig):
    """mapInPandas stage: fetched pages -> attribute-target rows (P11).

    Runs the filetype's parser chain for its "attrs"-kind stages
    (js.c:305-330 set_attribute analog) plus the builtin html parser's
    whole-body 'html' attribute when declared (html.c:179-183); emits
    one row per document whose attribute list changed
    (worker.c:913-917)."""
    from ..operators.admission import run_parser_chain

    def extract(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for row in pdf.itertuples(index=False):
                ft = config.filetype(row.filetype)
                if row.spans is None:
                    continue
                spans = [
                    {
                        "kind": s["kind"],
                        "text": s["text"],
                        "media_ref": s["media_ref"],
                        "offset": s["offset"],
                    }
                    for s in row.spans
                ]
                attrs = {}
                if "html" in ft.attributes and "html" in ft.parsers:
                    attrs["html"] = "".join(
                        s["text"] or ""
                        for s in spans
                        if s["kind"] == "text"
                    )
                attrs.update(
                    run_parser_chain(spans, ft.parsers, ft.attributes)[1]
                )
                if attrs:
                    out.append([row.url, row.filetype, attrs])
            yield pd.DataFrame(
                out, columns=["url", "filetype", "attributes"]
            )

    return extract


def make_head_classifier(config: CrawlConfig, default_crawler: str):
    """Resolve POSSIBLE_MATCH rows by content type (the reference's
    HEAD request, worker.c:567-631) under the row's crawler; finalize
    route/peek/depth."""

    def classify(pdf: pd.DataFrame) -> pd.DataFrame:
        indexes = build_indexes(config)
        # the decision is a pure function of (content_type, crawler,
        # external, peek) — memoize over the batch's UNIQUE keys so
        # the per-row loop is dict lookups, not classifier calls
        memo: dict = {}
        fts, ranks, routes, peeks, depths = [], [], [], [], []
        for ct, ext, cr_name, peek, depth in zip(
            pdf["content_type"], pdf["external"], pdf["crawler"],
            pdf["peek"], pdf["depth"],
        ):
            key = (
                ct if isinstance(ct, str) else None,
                cr_name or default_crawler, bool(ext), bool(peek),
            )
            hit = memo.get(key)
            if hit is None:
                idx = indexes[key[1]]
                name = idx.match_by_mime(key[0])
                # a HEAD row's parent peek state is its tentative
                # peek column
                route, rank, peek_start = route_of(
                    name, key[2], idx, config, key[3]
                )
                hit = memo[key] = (name, route, rank, peek_start)
            name, route, rank, peek_start = hit
            if peek_start:
                peek = True
                depth = 0
            fts.append(name)
            ranks.append(rank)
            routes.append(route)
            peeks.append(bool(peek))
            depths.append(int(depth))
        return pd.DataFrame(
            {
                "filetype": fts,
                "ft_rank": ranks,
                "route": routes,
                "peek": peeks,
                "depth": depths,
            }
        )

    return classify


def make_robots_parser(user_agent: str):
    """pandas UDF body: robots.txt body -> ordered rule array."""

    def parse(bodies: pd.Series) -> pd.Series:
        out = []
        for body in bodies:
            rules = parse_robots(
                body if isinstance(body, str) else None, user_agent
            )
            out.append(
                [{"allow": a, "prefix": p} for (a, p) in rules]
            )
        return pd.Series(out)

    return parse
