"""Arrow-batched UDFs wrapping the scalar crawl functions for Spark.

All row-level logic runs inside ``mapInPandas`` / ``pandas_udf``
stages (Arrow batch transfer), never as row-at-a-time Python UDFs —
the input_hint mandate. The closures capture the (tiny) broadcast
crawl config; heavy lookups (content types, the seen set) are joins,
not closure state.

The stages: the link resolver (whole documents) and the link admitter
(JVM-extracted residue hrefs) share one per-link admission step,
``_link_admission``; the HEAD stage routes content-type-classified
rows through the same route/peek tail, ``_routed``; the attribute
extractor is the one attribute path (named attrs-parser attributes
and the whole-body 'html' attribute); the robots parser is a pandas
UDF body.

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
from ..functions.classify import HEAD, FtIndex
from ..functions.robots import parse_robots
from ..operators.admission import extract_links_from_spans, route_of

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


def _span_dicts(spans) -> List[dict]:
    """A document's Arrow span structs as the parser chain's dicts."""
    return [
        {
            "kind": s["kind"],
            "text": s["text"],
            "media_ref": s["media_ref"],
            "offset": s["offset"],
        }
        for s in spans
    ]


def _routed(idx: FtIndex, config: CrawlConfig, name: Optional[str],
            external: bool, peek: bool, depth: int) -> tuple:
    """(route, ft_rank, peek, depth) of a classified child: route_of,
    and an external peek start re-enters the child at depth 0 with
    ``peek`` set (worker.c:679-703)."""
    route, rank, peek_start = route_of(name, external, idx, config, peek)
    if peek_start:
        return route, rank, True, 0
    return route, rank, peek, depth


def _link_admission(config: CrawlConfig, default_crawler: str):
    """The per-link admission step (ue_add + lm_worker_bind_url,
    urlengine.c:170-250 / worker.c:666-714) that the resolver and the
    admitter share. Returns ``admit(row, links, depth, rcount)``,
    which yields the CANDIDATE_SCHEMA rows of the parent ``row``'s
    ``(sibling_ix, href)`` pairs: canonicalized against the parent
    URL, classified under the switched crawler's index, then marked
    for the HEAD stage, routed, or discarded."""
    indexes = build_indexes(config)

    def admit(row, links, depth: int, rcount: int):
        base = ParsedUrl(
            row.url, row.host_o, row.host_l, row.file_o, row.ext_o,
            row.protocol, row.is_dynamic, row.www,
        )
        # the crawler switch happens before the handler runs
        cr_name = (
            config.filetype(row.filetype).switch_to
            or getattr(row, "crawler", None) or default_crawler
        )
        idx = indexes[cr_name]
        parent_peek = bool(getattr(row, "peek", False))
        parent_external = bool(row.external)
        fetch_round, fetch_ord = int(row.fetch_round), int(row.fetch_ord)
        for six, href in links:
            res = add_url(base, href, parent_external)
            if res is None:
                continue
            parsed, external = res
            kind, name = idx.match_by_url(parsed)
            if kind == HEAD:
                route, rank, peek, d = None, None, parent_peek, depth
            else:
                route, rank, peek, d = _routed(
                    idx, config, name, external, parent_peek, depth
                )
            yield [
                parsed.url, parsed.host_o, parsed.host_l,
                parsed.file_o, parsed.ext_o, parsed.protocol,
                parsed.is_dynamic, parsed.www_prefix, parsed.seen_key,
                parsed.host_identity, external, kind == HEAD, name,
                rank, route, cr_name, peek, d, fetch_round, fetch_ord,
                six, rcount,
            ]

    return admit


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
    land one level deeper. Each link then takes the shared admission
    step (_link_admission).
    """

    def resolve(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        admit = _link_admission(config, default_crawler)
        cols = [f.name for f in CANDIDATE_SCHEMA.fields]

        for pdf in it:
            out: List[list] = []
            for row in pdf.itertuples(index=False):
                status = row.status
                if (
                    status is not None
                    and not pd.isna(status)
                    and 300 <= int(status) < 400
                    and isinstance(row.location, str)
                    and row.location
                ):
                    if row.redirect_count + 1 >= 20:
                        continue  # redirect-loop breaker (worker.c:808)
                    links = [(0, row.location)]
                    depth = int(row.depth)
                    rcount = int(row.redirect_count) + 1
                else:
                    parsers = config.filetype(row.filetype).parsers
                    if not parsers or row.spans is None:
                        continue
                    links = enumerate(extract_links_from_spans(
                        _span_dicts(row.spans), parsers
                    ))
                    depth, rcount = int(row.depth) + 1, 0
                out.extend(admit(row, links, depth, rcount))
            yield pd.DataFrame(out, columns=cols)

    return resolve


def make_link_admitter(config: CrawlConfig, default_crawler: str):
    """mapInPandas stage: JVM-extracted link rows -> candidate rows.

    The downstream half of the resolver for the jvm extraction mode
    (functions/extract_jvm.py): inputs already carry one raw href per
    row plus the parent's URL fields, child depth and redirect count —
    NO span text crosses Arrow. Each row takes the resolver's
    admission step (_link_admission)."""

    def admit_rows(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        admit = _link_admission(config, default_crawler)
        cols = [f.name for f in CANDIDATE_SCHEMA.fields]

        for pdf in it:
            out: List[list] = []
            for row in pdf.itertuples(index=False):
                out.extend(admit(
                    row, [(int(row.sibling_ix), row.href)],
                    int(row.child_depth), int(row.rcount),
                ))
            yield pd.DataFrame(out, columns=cols)

    return admit_rows


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

    The one attribute path: runs the filetype's parser chain for its
    "attrs"-kind stages (js.c:305-330 set_attribute analog) plus the
    builtin html parser's whole-body 'html' attribute when declared
    (html.c:179-183); emits one row per document whose attribute list
    changed (worker.c:913-917)."""
    from ..operators.admission import run_parser_chain

    def extract(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for row in pdf.itertuples(index=False):
                ft = config.filetype(row.filetype)
                if row.spans is None:
                    continue
                spans = _span_dicts(row.spans)
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
    """mapInPandas stage: POSSIBLE_MATCH candidate rows joined with
    their ``content_type`` -> candidate rows. Classifies by content
    type (the reference's HEAD request, worker.c:567-631) under the
    row's crawler, then routes like the link admission step; a HEAD
    row's tentative peek column is its parent's peek state."""
    cols = [f.name for f in CANDIDATE_SCHEMA.fields]

    def classify(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        indexes = build_indexes(config)
        # the result is a pure function of the row's few-valued
        # (content_type, crawler, external, peek, depth): memoize it
        # so the per-row loop is dict lookups, not classifier calls
        memo: dict = {}
        for pdf in it:
            if len(pdf) == 0:
                continue
            heads = []
            for key in zip(
                pdf["content_type"], pdf["crawler"], pdf["external"],
                pdf["peek"], pdf["depth"],
            ):
                hit = memo.get(key)
                if hit is None:
                    ct, cr_name, ext, peek, depth = key
                    idx = indexes[cr_name or default_crawler]
                    name = idx.match_by_mime(
                        ct if isinstance(ct, str) else None
                    )
                    hit = memo[key] = (name, *_routed(
                        idx, config, name, bool(ext), bool(peek), int(depth)
                    ))
                heads.append(hit)
            pdf[["filetype", "route", "ft_rank", "peek", "depth"]] = (
                pd.DataFrame(heads, index=pdf.index)
            )
            yield pdf[cols]

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
