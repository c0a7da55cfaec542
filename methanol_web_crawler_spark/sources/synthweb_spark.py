"""Distributed synthetic-web generator — the scale path.

The Python generator (synthweb.py) builds driver-side lists: fine for
golden tests, hopeless at 10^6+ documents. This one synthesizes the
same table shape entirely with JVM expressions (hash-derived
deterministic pseudo-randomness, zero Python rows): a ``sequence`` +
``explode`` per host lays out Zipf-skewed per-host id ranges, URL
patterns and link targets are pure column functions of
(host_ix, local_ix), spans are built with array/struct constructors.

Determinism: every choice derives from xxhash64(id, salt) — identical
output for a given (n_docs, n_hosts, seed) at any parallelism level,
which is what the two-cluster-size scaling run requires.
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .synthweb import _zipf_counts


def _h(seed: int, *cols) -> "F.Column":
    """Deterministic non-negative hash column."""
    return F.abs(F.xxhash64(F.lit(seed), *cols))


def _page_url(host_col, local_col, salt: int = 7) -> "F.Column":
    """URL pattern as a pure column function of (host_ix, local_ix) —
    shared by page layout and link-target construction so links always
    point at existing documents."""
    kind = _h(salt, host_col, local_col) % 100
    base = F.concat(
        F.lit("http://h"),
        F.lpad(host_col.cast("string"), 6, "0"),
        F.lit(".test"),
    )
    l = local_col.cast("string")
    return F.concat(
        base,
        F.when(kind < 8, F.concat(F.lit("/c/s"), l, F.lit(".css")))
        .when(kind < 18, F.concat(F.lit("/t/n"), l, F.lit(".txt")))
        .when(kind < 60, F.concat(F.lit("/p/page"), l, F.lit(".html")))
        .when(kind < 75, F.concat(F.lit("/d/item"), l))
        .when(kind < 90, F.concat(F.lit("/s/sub"), l, F.lit("/")))
        .otherwise(F.concat(F.lit("/q/view.php?id="), l)),
    )


def _page_kind(host_col, local_col, salt: int = 7) -> "F.Column":
    kind = _h(salt, host_col, local_col) % 100
    return (
        F.when(kind < 8, "css")
        .when(kind < 18, "txt")
        .otherwise("html")
    )


def generate_web_df(
    spark: SparkSession,
    n_docs: int,
    n_hosts: int,
    seed: int = 42,
    zipf_s: float = 1.1,
    links_per_doc: int = 4,
    cross_host_pct: int = 15,
    redirect_pct: int = 3,
    media_pct: int = 20,
    partitions: int = 32,
    n_seeds: int = 3,
    text_repeat: int = 1,
) -> Tuple[DataFrame, List[str]]:
    """Returns (docs DataFrame in the input_hint shape, seed URLs)."""
    counts = _zipf_counts(n_docs, n_hosts, zipf_s, None)
    offsets = []
    acc = 0
    for c in counts:
        offsets.append(acc)
        acc += c
    hosts_rows = [
        (i, offsets[i], counts[i]) for i in range(n_hosts)
    ]
    hosts_df = spark.createDataFrame(
        hosts_rows, "host_ix int, start long, cnt long"
    )

    # one row per document, with its host layout colocated
    docs = (
        hosts_df.select(
            "host_ix", "cnt",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("cnt") - 1)
            ).alias("local_ix"),
        )
        .repartition(partitions, "host_ix", "local_ix")
    )

    host_col = F.col("host_ix")
    local_col = F.col("local_ix")
    cnt = F.col("cnt")
    n_exp = links_per_doc - 1

    def expander(i: int) -> "F.Column":
        # expander links: page j -> pages j*L+i+1 — full coverage of
        # the host in ~log_L(cnt) crawl rounds (avoids the
        # pathological long-tail BFS of purely random targets)
        # (L-1)-ary tree: j -> j*(L-1)+1..(L-1) covers every id
        return _page_url(host_col, (local_col * n_exp + F.lit(i + 1)) % cnt)

    # link targets: mostly same-host (existing local_ix), some
    # cross-host (the other host's page 0 — its discovery root)
    def link(i: int) -> "F.Column":
        r = _h(seed + 100 + i, host_col, local_col)
        is_cross = (r % 100) < cross_host_pct
        other_host = (
            r % F.lit(max(n_hosts - 1, 1)) + host_col + 1
        ) % F.lit(n_hosts)
        if i < n_exp:
            same_host = expander(i)
        else:
            same_host = _page_url(
                host_col, _h(seed + 200 + i, host_col, local_col) % cnt
            )
        return F.when(
            is_cross, _page_url(other_host, F.lit(0).cast("long"))
        ).otherwise(same_host)

    # all expander links present; the last (random) link appears on a
    # hash-chosen subset of pages
    n_links = F.lit(n_exp) + (_h(seed + 1, host_col, local_col) % 2)

    # text_repeat scales the per-document text volume toward realistic
    # page sizes (real pages are tens of KB; parse/canonicalize cost
    # should dominate like a real crawl)
    words = F.concat(
        F.lit(
            "crawl frontier shuffle depth host token span round doc "
            * max(1, text_repeat)
        ),
        (_h(seed + 2, host_col, local_col) % 1000).cast("string"),
    )

    # the URL columns are computed once, in their own projection, and
    # the bodies below reuse them: one projection holding every
    # _page_url copy outgrows the 64 KB generated-method limit
    docs = docs.select(
        "host_ix", "local_ix", "cnt",
        _page_url(host_col, local_col).alias("url"),
        _page_kind(host_col, local_col).alias("kind"),
        words.alias("words"), n_links.alias("n_links"),
        *[link(i).alias(f"link{i}") for i in range(links_per_doc)],
        *[expander(i).alias(f"exp{i}") for i in range(n_exp)],
    )
    kind, words, n_links = F.col("kind"), F.col("words"), F.col("n_links")

    # text span: an HTML fragment with up to `links_per_doc` hrefs,
    # only the first n_links of which are "real" (the rest omitted)
    frag_parts = []
    for i in range(links_per_doc):
        frag_parts.append(
            F.when(
                F.lit(i) < n_links,
                F.concat(
                    F.lit('<p>'), words, F.lit('</p><a href="'),
                    F.col(f"link{i}"), F.lit('">x</a>'),
                ),
            ).otherwise(F.lit(""))
        )
    html_frag = F.concat(*frag_parts)

    # css/txt pages carry the same expander targets (multiple url()
    # refs / bare URLs) so the host coverage tree survives any page
    # kind on the path
    css_body = F.concat(*[
        F.concat(
            F.lit(f".x{i} {{ background: url("), F.col(f"exp{i}"),
            F.lit("); }\n"),
        )
        for i in range(n_exp)
    ])
    txt_body = F.concat(
        words,
        *[
            F.concat(F.lit(" "), F.col(f"exp{i}"), F.lit(" "))
            for i in range(n_exp)
        ],
        F.lit("tail"),
    )

    text_body = (
        F.when(kind == "css", css_body)
        .when(kind == "txt", txt_body)
        .otherwise(html_frag)
    )

    has_media = (_h(seed + 4, host_col, local_col) % 100) < media_pct
    media_url = F.concat(
        F.lit("http://h"), F.lpad(host_col.cast("string"), 6, "0"),
        F.lit(".test/img/m"),
        (_h(seed + 5, host_col, local_col) % 100).cast("string"),
        F.lit(".png"),
    )

    text_span = F.struct(
        F.lit("text").alias("kind"),
        text_body.alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    media_span = F.struct(
        F.lit("media").alias("kind"),
        F.lit(None).cast("string").alias("text"),
        media_url.alias("media_ref"),
        F.lit(1).alias("offset"),
    )
    spans = F.when(
        has_media & (kind == "html"),
        F.array(text_span, media_span),
    ).otherwise(F.array(text_span))

    is_redirect = (
        (kind == "html")
        & ((_h(seed + 6, host_col, local_col) % 100) < redirect_pct)
        & (local_col > 0)
    )
    redirect_target = _page_url(
        host_col, _h(seed + 7, host_col, local_col) % cnt
    )

    content_type = (
        F.when(kind == "css", "text/css")
        .when(kind == "txt", "text/plain")
        .otherwise("text/html")
    )

    pages = docs.select(
        F.col("url").alias("doc_id"),
        F.when(is_redirect, F.array().cast(
            "array<struct<kind:string,text:string,media_ref:string,"
            "offset:int>>"
        )).otherwise(spans).alias("spans"),
        content_type.alias("content_type"),
        F.when(is_redirect, 301).otherwise(200).alias("status"),
        F.when(is_redirect, redirect_target)
        .otherwise(F.lit(None).cast("string")).alias("location"),
    )

    # robots.txt for even-numbered hosts
    robots = hosts_df.filter(F.col("host_ix") % 2 == 0).select(
        F.concat(
            F.lit("http://h"),
            F.lpad(F.col("host_ix").cast("string"), 6, "0"),
            F.lit(".test/robots.txt"),
        ).alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.lit(
                    "User-agent: *\nDisallow: /q/\n"
                ).alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
        F.lit("text/plain").alias("content_type"),
        F.lit(200).alias("status"),
        F.lit(None).cast("string").alias("location"),
    )

    all_docs = pages.unionByName(robots)

    # seeds: page 0 of the biggest hosts (one tiny job evaluates the
    # URL pattern for each)
    n_seeds = min(n_seeds, n_hosts)
    seed_urls = [
        r["u"]
        for r in spark.range(n_seeds)
        .select(
            _page_url(
                F.col("id").cast("int"), F.lit(0).cast("long")
            ).alias("u")
        )
        .collect()
    ]
    return all_docs, seed_urls
