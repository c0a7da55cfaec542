"""JVM-side link admission — canonicalize/classify/route as column
expressions for fast-shape links.

This is the guard-and-residue pattern of extract_jvm.py applied one
stage downstream: after JVM extraction, the per-link admission stage
(udfs.make_link_admitter) still iterated every candidate row in
Python. Here the overwhelmingly-common shapes run entirely inside
whole-stage codegen and only the residue rows reach Python:

- canonicalization covers the shapes on which the exact byte
  machine (canonicalize.add_url, url.c:172-421) is the identity or a
  pure offset computation:
  * absolute ``proto://host/path`` with printable-ASCII path, clean
    host, no ``//`` ``/.`` ``./`` ``#`` before the query and no
    ``#``/``&amp;`` inside it — canonicalizes to ITSELF (plus a
    trailing ``/`` when pathless), offsets computable with
    length/instr/reverse;
  * root-relative and relative hrefs of the same printable shape
    against an all-ASCII base prefix;
  * absolute hrefs with an UNKNOWN protocol (mailto:, javascript:)
    are discarded outright (url.c:188-192 via ue_add) — an exact JVM
    decision, not residue;
- classification (ftindex.c:141-238) depends only on the finite key
  (protocol, ext, is_dynamic, is_dir, ext_o!=0) for crawlers without
  UMEX expressions (FtIndex.match_by_url with every UMEX scan
  empty). The 16-bucket
  extension table with its prefix-compare quirk (ftindex.c:100-133)
  collapses to a FINITE literal map at plan-build time: a URL ext e
  matches entry iff entry.startswith(e) AND _ext_hash(e) ==
  _ext_hash(entry), so the full set of matching ext strings is
  {prefixes p of entry : hash(p) == hash(entry)} — enumerable on the
  driver, with the first-in-bucket-order winner precomputed per
  string. At execution the lookup is one try_element_at on a map
  literal;
- routing (worker.c:666-714 route_of) is a CASE over driver-constant
  filetype sets (target-only, ignore_host) and crawler flags.

Residue rows — UMEX crawlers (which match on the full URL), ports,
userinfo, escapes, dot-leading hrefs, ``..`` pops, fragments —
take the exact Python admitter (udfs.make_link_admitter, which runs
the scalar resolver's own per-link admission step) on a (small)
filtered row set.

Equivalence with the scalar resolver (udfs.make_link_resolver_scalar,
the semantics spec) is pinned by tests/test_resolver_jvm_diff.py (fuzz
corpus + hand vectors) and tests/test_admit_jvm.py.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import CrawlConfig
from .canonicalize import MAX_URL_LEN, PROTOCOLS
from .classify import FtIndex, _ext_hash, has_umex
from ..operators.admission import (
    R_DISCARD,
    R_EXTERNAL,
    R_FRONTIER,
    R_TARGET,
)

# Java-regex forms of the fast-shape guards (see module docstring).
# Built as Python strings passed through the Column API (no SQL-string
# escaping layer); '\\z' is Java's absolute end anchor ('$' would
# accept a trailing newline).
_ABS_FORM = "^[A-Za-z0-9]*:"
_ABS_FULL = (
    "^(?i:https?|ftps?|file)://[A-Za-z0-9.\\-]{1,255}"
    "(/[\\x21-\\x7f]*)?\\z"
)
_PATH_UNSAFE_NOQ = "//|/\\.|\\./|#"
_Q_UNSAFE = "#|&amp;"
_PRINTABLE_FULL = "^[\\x21-\\x7f]+\\z"
_ASCII_FULL = "^[\\x00-\\x7f]*\\z"


def _ext_match_map(idx: FtIndex) -> Dict[str, str]:
    """ext-string -> filetype for every string that can match the
    16-bucket prefix-compare lookup (see module docstring). Valid only
    when the crawler has no UMEX (the per-entry confirm is vacuous)."""
    cands = set()
    for bucket in idx.e_index:
        for entry, _ft in bucket:
            for n in range(1, len(entry) + 1):
                cands.add(entry[:n])
    out: Dict[str, str] = {}
    for e in sorted(cands):
        for entry, ft_name in idx.e_index[_ext_hash(e)]:
            if entry[: len(e)] == e:
                out[e] = ft_name
                break
    return out


def _classify_cols(
    idx: FtIndex,
    protocol: Column,
    ext_l: Column,
    is_dynamic: Column,
    is_dir: Column,
    has_ext: Column,
) -> Column:
    """struct(nh boolean, ft string): the match_by_url decision tree
    for a no-UMEX crawler as one CASE expression
    (FtIndex.match_by_url branch for branch)."""
    emap = _ext_match_map(idx)
    if emap:
        pairs: List[Column] = []
        for k, v in emap.items():
            pairs.extend([F.lit(k), F.lit(v)])
        ft_hit = F.try_element_at(F.create_map(*pairs), ext_l)
    else:
        ft_hit = F.lit(None).cast("string")
    null_ft = F.lit(None).cast("string")

    def mk(nh: bool, ft: Column) -> Column:
        return F.struct(F.lit(nh).alias("nh"), ft.alias("ft"))

    def bind(name: str) -> Column:
        b = idx._bindings[name]
        if b.startswith("@"):
            return mk(False, F.lit(b[1:]))
        if b == "lookup":
            return mk(True, null_ft)
        return mk(False, null_ft)  # "discard": empty umex scan

    ftp_dir_b = idx._bindings["ftp_dir_url"]
    o_ftp_dir = (
        mk(False, F.lit(ftp_dir_b[1:]))
        if ftp_dir_b.startswith("@")
        else mk(False, null_ft)  # QUIRK: lookup AND discard drop
    )
    o_ftp = F.when(is_dir, o_ftp_dir).otherwise(mk(False, ft_hit))
    o_noext = (
        F.when(is_dynamic, bind("dynamic_url"))
        .when(is_dir, bind("dir_url"))
        .otherwise(bind("extless_url"))
    )
    dyn_b = idx._bindings["dynamic_url"]
    if dyn_b.startswith("@"):
        o_dyn_ext = mk(False, F.lit(dyn_b[1:]))
    elif dyn_b == "lookup":
        o_dyn_ext = mk(True, null_ft)
    else:
        o_dyn_ext = mk(False, ft_hit)  # discard: ext match, empty scan
    o_ext = F.when(ft_hit.isNotNull(), mk(False, ft_hit)).otherwise(
        bind("unknown_url")
    )
    return (
        F.when(protocol == "ftp", o_ftp)
        .when(~has_ext, o_noext)
        .when(is_dynamic, o_dyn_ext)
        .otherwise(o_ext)
    )


def _route_cols(
    idx: FtIndex,
    config: CrawlConfig,
    ft: Column,
    external: Column,
    parent_peek: Column,
) -> Column:
    """struct(route string, rank int, ps boolean): route_of
    (operators/admission.py:54-78) as one CASE expression."""
    cr = idx.crawler
    rank_pairs: List[Column] = []
    for f in idx.ft_list:
        rank_pairs.extend(
            [F.lit(f.name),
             F.lit(config.filetype_rank(cr.name, f.name))]
        )
    rank = (
        F.try_element_at(F.create_map(*rank_pairs), ft)
        if rank_pairs
        else F.lit(None).cast("int")
    )
    target_only = [
        f.name for f in idx.ft_list
        if config.filetype(f.name).is_target_only
    ]
    ignore_host = [
        f.name for f in idx.ft_list
        if config.filetype(f.name).ignore_host
    ]

    def mk(route, rank_c, ps: bool) -> Column:
        return F.struct(
            route.alias("route"),
            rank_c.cast("int").alias("rank"),
            F.lit(ps).alias("ps"),
        )

    is_target = ft.isin(target_only) if target_only else F.lit(False)
    ext_applies = external & (
        ~ft.isin(ignore_host) if ignore_host else F.lit(True)
    )
    if cr.external_peek:
        o_ext = F.when(
            ~parent_peek, mk(F.lit(R_FRONTIER), rank, True)
        ).otherwise(
            mk(F.lit(R_EXTERNAL if cr.external else R_DISCARD),
               rank, False)
        )
    elif cr.external:
        o_ext = mk(F.lit(R_EXTERNAL), rank, False)
    else:
        o_ext = mk(F.lit(R_DISCARD), rank, False)
    return (
        F.when(
            ft.isNull(),
            mk(F.lit(R_DISCARD), F.lit(len(idx.ft_list)), False),
        )
        .when(is_target, mk(F.lit(R_TARGET), rank, False))
        .when(ext_applies, o_ext)
        .otherwise(mk(F.lit(R_FRONTIER), rank, False))
    )


def split_fast_admit(
    link_rows: DataFrame,
    config: CrawlConfig,
    default_crawler: str,
    cache: bool = False,
) -> Tuple[DataFrame, DataFrame, Optional[DataFrame]]:
    """(fast_candidates, residue_link_rows, cached_or_None).

    ``fast_candidates`` is CANDIDATE_SCHEMA-shaped, produced entirely
    by column expressions; ``residue_link_rows`` keeps the input shape
    for the exact Python admitter. Unknown-protocol hrefs are filtered
    from BOTH (the exact ue_add drop).

    With ``cache=True`` the tagged link rows are persisted before the
    two-way filter — otherwise BOTH branches re-run the upstream
    extraction (extract_jvm's regex pass over all span text) plus the
    fast-shape guard, which measured ~60 s of duplicate work per
    mega-round. The caller owns the unpersist (the returned third
    element, non-None only when cache was requested): release it once
    the candidates are materialized downstream."""
    from .udfs import build_indexes

    indexes = build_indexes(config)
    fast_crawlers = [n for n, ix in indexes.items() if not has_umex(ix)]

    switched = [f for f in config.filetypes if f.switch_to]
    eff: Column = F.coalesce(
        F.nullif(F.col("crawler"), F.lit("")), F.lit(default_crawler)
    )
    for f in switched:
        eff = F.when(
            F.col("filetype") == f.name, F.lit(f.switch_to)
        ).otherwise(eff)

    href = F.col("href")
    nonempty = href.isNotNull() & (href != "")
    abs_form = href.rlike(_ABS_FORM)
    proto_typed = F.regexp_extract(href, "^([A-Za-z0-9]*):", 1)
    known = F.lower(proto_typed).isin(list(PROTOCOLS))

    if not fast_crawlers:
        # Every crawler carries a UMEX expression (full-URL matching,
        # e.g. a wikipedia.conf-style config): no link is
        # JVM-admittable. Route everything to the exact Python
        # admitter — still applying the exact unknown-protocol drop
        # (url.c:188-192 via ue_add) — and return a valid empty
        # CANDIDATE_SCHEMA frame for the fast side. Without this, the
        # _per_crawler dispatch below would build no branch and crash
        # at plan build.
        from .udfs import CANDIDATE_SCHEMA

        residue = link_rows.filter(nonempty & ~(abs_form & ~known))
        cached = None
        if cache:
            residue = residue.persist()
            cached = residue
        fast_out = link_rows.sparkSession.createDataFrame(
            [], CANDIDATE_SCHEMA
        )
        return fast_out, residue, cached

    def lad(df: DataFrame, **cols: Column) -> DataFrame:
        """One ladder rung: materialize expressions as NAMED columns.

        Every intermediate here is referenced more than once by later
        rungs, and none of them is 'cheap' in CollapseProject's sense
        (attribute/literal), so the optimizer keeps the projections
        separate and each value is computed ONCE per row. Inlining
        them instead (one giant nested expression) re-evaluates every
        shared subtree at every reference — Spark's codegen
        subexpression elimination skips conditional (CaseWhen)
        branches — which measured as a 4x mega-round regression
        (~3,250 s of pure expression CPU, BENCH/BASELINE.md round 4)."""
        return df.select("*", *[v.alias(k) for k, v in cols.items()])

    def ladder(df: DataFrame) -> DataFrame:
        """Shared canonicalization intermediates (the fast shapes of
        the module docstring) as attribute columns, linear work per
        row."""
        df = lad(
            df,
            _abs=abs_form,
            _proto=proto_typed,
            _ahost=F.regexp_extract(
                href, "^[A-Za-z0-9]+://([A-Za-z0-9.\\-]+)", 1
            ),
            _afull=href.rlike(_ABS_FULL),
            _rprint=href.rlike(_PRINTABLE_FULL),
            _first=F.substring(href, 1, 1),
            _hlen=F.length(href),
        )
        df = lad(
            df,
            _aho=(F.length("_proto") + 3).cast("int"),
            _ahl=F.length("_ahost").cast("int"),
        )
        df = lad(df, _aroot=(F.col("_aho") + F.col("_ahl")))
        df = lad(
            df,
            _apath=href.substr(F.col("_aroot") + 1, F.col("_hlen")),
            # relative prefix cut: root '/' for lead-slash, after the
            # base's last '/' otherwise
            _rcut=F.when(
                F.col("_first") == "/",
                F.col("host_o") + F.col("host_l"),
            ).otherwise(F.col("file_o") + 1),
        )
        df = lad(
            df,
            _aq=F.instr("_apath", "?"),
            _rq=F.instr(href, "?"),
            _has_path=F.col("_apath") != "",
            _rprefix=F.col("url").substr(F.lit(1), F.col("_rcut")),
        )
        df = lad(
            df,
            _apre=F.when(
                F.col("_aq") > 0,
                F.col("_apath").substr(F.lit(1), F.col("_aq") - 1),
            ).otherwise(F.col("_apath")),
            _aquery=F.col("_apath").substr(
                F.col("_aq") + 1, F.col("_hlen")
            ),
            _rpre=F.when(
                F.col("_rq") > 0, href.substr(F.lit(1), F.col("_rq") - 1)
            ).otherwise(href),
            _rquery=href.substr(F.col("_rq") + 1, F.col("_hlen")),
        )
        df = lad(
            df,
            _afr_p=F.instr(F.reverse(F.col("_apre")), "/"),
            _aer_p=F.instr(F.reverse(F.col("_apre")), "."),
            _rfr_p=F.instr(F.reverse(F.col("_rpre")), "/"),
            _rer_p=F.instr(F.reverse(F.col("_rpre")), "."),
            _apre_l=F.length("_apre"),
            _rpre_l=F.length("_rpre"),
            _apath_ok=~F.col("_apre").rlike(_PATH_UNSAFE_NOQ)
            & (
                ~(F.col("_aq") > 0)
                | ~F.col("_aquery").rlike(_Q_UNSAFE)
            ),
            _rsafe=F.col("_rprint")
            & ~F.col("_rpre").rlike(_PATH_UNSAFE_NOQ)
            & (
                ~(F.col("_rq") > 0)
                | ~F.col("_rquery").rlike(_Q_UNSAFE)
            ),
        )
        return lad(
            df,
            _fast_abs=F.col("_abs")
            & F.col("_afull")
            & (~F.col("_has_path") | F.col("_apath_ok"))
            & (F.col("_hlen") <= MAX_URL_LEN),
            _fast_rel=~F.col("_abs")
            & (F.col("_first") != ".")
            & F.col("_rsafe")
            & (F.col("_rcut") + F.col("_hlen") <= MAX_URL_LEN)
            & F.col("_rprefix").rlike(_ASCII_FULL),
        )

    inp_cols = link_rows.columns
    base = link_rows.withColumn("_eff", eff).filter(
        nonempty & ~(abs_form & ~known)
    )
    tagged = lad(
        ladder(base),
        _fast=F.col("_eff").isin(fast_crawlers)
        & (F.col("_fast_abs") | F.col("_fast_rel")),
    ).select(*inp_cols, "_eff", "_fast")
    cached: Optional[DataFrame] = None
    if cache:
        tagged = tagged.persist()
        cached = tagged
    residue = tagged.filter(~F.col("_fast")).drop("_fast", "_eff")

    # ---- canonical fields for the fast rows (ladder attributes) --------
    d = ladder(tagged.filter(F.col("_fast")))
    is_abs = F.col("_abs")
    a_fr = F.when(
        F.col("_afr_p") > 0, F.col("_apre_l") - F.col("_afr_p")
    ).otherwise(F.lit(-1))
    a_er = F.when(
        F.col("_aer_p") > 0, F.col("_apre_l") - F.col("_aer_p")
    ).otherwise(F.lit(-1))
    r_fr = F.when(
        F.col("_rfr_p") > 0, F.col("_rpre_l") - F.col("_rfr_p")
    ).otherwise(F.lit(-1))
    r_er = F.when(
        F.col("_rer_p") > 0, F.col("_rpre_l") - F.col("_rer_p")
    ).otherwise(F.lit(-1))
    d = lad(
        d,
        _fr_abs=a_fr, _er_abs=a_er, _fr_rel=r_fr, _er_rel=r_er,
        _proto_l=F.lower("_proto"),
        _ahost_l=F.lower("_ahost"),
        # lowercased base host, rebuilt from identity + www flag
        _bhost_l=F.when(
            F.col("www"), F.concat(F.lit("www."), F.col("host"))
        ).otherwise(F.col("host")),
    )

    # external for absolute: fresh protocol + www-insensitive hostcmp
    # (urlengine.c:199-203); relative inherits the base flag
    ah, bh = F.col("_ahost_l"), F.col("_bhost_l")
    hosts_match = (
        (ah == bh)
        | ((F.length(ah) - F.length(bh) == 4)
           & ah.startswith("www.")
           & (F.substring(ah, 5, MAX_URL_LEN) == bh))
        | ((F.length(bh) - F.length(ah) == 4)
           & bh.startswith("www.")
           & (F.substring(bh, 5, MAX_URL_LEN) == ah))
    )
    d = lad(
        d,
        _url=F.when(
            is_abs,
            F.when(F.col("_has_path"), href).otherwise(
                F.concat(href, F.lit("/"))
            ),
        ).otherwise(F.concat(F.col("_rprefix"), href)),
        _c_host_o=F.when(is_abs, F.col("_aho"))
        .otherwise(F.col("host_o")).cast("int"),
        _c_host_l=F.when(is_abs, F.col("_ahl"))
        .otherwise(F.col("host_l")).cast("int"),
        _c_file_o=F.when(
            is_abs,
            F.when(
                F.col("_has_path"), F.col("_aroot") + F.col("_fr_abs")
            ).otherwise(F.col("_hlen")),
        ).otherwise(
            F.when(F.col("_fr_rel") < 0, F.col("file_o")).otherwise(
                F.col("_rcut") + F.col("_fr_rel")
            )
        ).cast("int"),
        _c_ext_o=F.when(
            is_abs,
            F.when(
                F.col("_has_path")
                & (F.col("_er_abs") > F.col("_fr_abs")),
                F.col("_aroot") + F.col("_er_abs"),
            ).otherwise(F.lit(0)),
        ).otherwise(
            F.when(
                F.col("_er_rel") > F.col("_fr_rel"),
                F.col("_rcut") + F.col("_er_rel"),
            ).otherwise(F.lit(0))
        ).cast("int"),
        _c_proto=F.when(is_abs, F.col("_proto_l")).otherwise(
            F.col("protocol")
        ),
        _c_dyn=F.when(
            is_abs, F.col("_has_path") & (F.col("_aq") > 0)
        ).otherwise(F.col("_rq") > 0),
        _c_www=F.when(
            is_abs,
            (F.col("_ahl") > 4)
            & (F.substring(F.col("_ahost_l"), 1, 4) == "www."),
        ).otherwise(F.col("www")),
        _c_ext_flag=F.when(
            is_abs,
            (F.col("_proto_l") != F.col("protocol")) | ~hosts_match,
        ).otherwise(F.coalesce(F.col("external"), F.lit(False))),
        _peek=F.coalesce(F.col("peek"), F.lit(False)),
    )

    d = lad(
        d,
        _ulen=F.length("_url"),
        _host_low=F.lower(
            F.col("_url").substr(
                F.col("_c_host_o") + 1, F.col("_c_host_l")
            )
        ),
    )
    d = lad(
        d,
        _seen_key=F.lower(
            F.col("_url").substr(F.col("_c_host_o") + 1, F.col("_ulen"))
        ),
        _ident=F.when(
            F.col("_c_www"),
            F.substring(F.col("_host_low"), 5, MAX_URL_LEN),
        ).otherwise(F.col("_host_low")),
        _ext_raw=F.when(F.col("_c_ext_o") == 0, F.lit("")).otherwise(
            F.col("_url").substr(F.col("_c_ext_o") + 2, F.col("_ulen"))
        ),
        _is_dir=F.col("_c_file_o") == F.col("_ulen") - 1,
        _has_ext=F.col("_c_ext_o") != 0,
    )
    d = lad(d, _ext_l=F.lower(F.substring_index("_ext_raw", "?", 1)))

    # per-crawler classification + routing: one branch per fast
    # crawler, dispatched on the row's effective crawler
    def _per_crawler(make) -> Column:
        if len(fast_crawlers) == 1:
            return make(indexes[fast_crawlers[0]])
        out = None
        for name in fast_crawlers:
            c = make(indexes[name])
            out = (
                F.when(F.col("_eff") == name, c)
                if out is None
                else out.when(F.col("_eff") == name, c)
            )
        return out

    d = lad(
        d,
        _cls=_per_crawler(
            lambda idx: _classify_cols(
                idx, F.col("_c_proto"), F.col("_ext_l"),
                F.col("_c_dyn"), F.col("_is_dir"), F.col("_has_ext"),
            )
        ),
    )
    d = lad(
        d,
        _rt=_per_crawler(
            lambda idx: _route_cols(
                idx, config, F.col("_cls.ft"), F.col("_c_ext_flag"),
                F.col("_peek"),
            )
        ),
    )

    nh = F.col("_cls.nh")
    ps = ~nh & F.col("_rt.ps")
    fast_out = d.select(
        F.col("_url").alias("url"),
        F.col("_c_host_o").alias("host_o"),
        F.col("_c_host_l").alias("host_l"),
        F.col("_c_file_o").alias("file_o"),
        F.col("_c_ext_o").alias("ext_o"),
        F.col("_c_proto").alias("protocol"),
        F.col("_c_dyn").alias("is_dynamic"),
        F.col("_c_www").alias("www"),
        F.col("_seen_key").alias("seen_key"),
        F.col("_ident").alias("host"),
        F.col("_c_ext_flag").alias("external"),
        nh.alias("needs_head"),
        F.when(~nh, F.col("_cls.ft")).alias("filetype"),
        F.when(~nh, F.col("_rt.rank")).cast("int").alias("ft_rank"),
        F.when(~nh, F.col("_rt.route")).alias("route"),
        F.col("_eff").alias("crawler"),
        (F.col("_peek") | ps).alias("peek"),
        F.when(ps, F.lit(0))
        .otherwise(F.col("child_depth"))
        .cast("int")
        .alias("depth"),
        F.col("fetch_round").cast("int").alias("parent_round"),
        F.col("fetch_ord").cast("long").alias("parent_ord"),
        F.col("sibling_ix").cast("int").alias("sibling_ix"),
        F.col("rcount").cast("int").alias("redirect_count"),
    )
    return fast_out, residue, cached
