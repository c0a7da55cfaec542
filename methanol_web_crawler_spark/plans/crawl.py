"""The Spark crawl engine: BSP round loop over DataFrames.

One crawl round is one declarative DataFrame job (SURVEY.md §3.1
mapping of the reference's worker loop, worker.c:214-407):

  frontier(depth=d) --politeness window--> selected
     --robots/jail gates--> --join docs ("fetch")--> fetched
     --mapInPandas parse+canonicalize+classify--> candidates
     --in-batch dedup window--> --anti-join seen--> admitted
     --route--> targets | parked(external) | frontier(depth+1)
  appends: frontier', seen+delta, targets, crawl_log, metrics, hosts

Scale posture (the parts that matter at a 10^10-URL frontier):
- admission/classification runs pre-join, so the docs join input is
  pre-pruned (the reference's sort-before-fetch, our predicate
  pushdown);
- all shuffles key on ``host`` (politeness, robots) or ``seen_key``
  (dedup) — AQE (+ optional salted two-phase windows for hot hosts)
  handles skew;
- the seen set is an append-only snapshot table joined anti; a
  partitioned bloom prefilter (operators/seen.py) cuts the anti-join
  input;
- every round's state lands in SnapshotTables (parquet + manifest),
  so lineage is truncated per round and the crawl resumes exactly
  from any checkpoint;
- ordering parity (strict_order=True) costs one range-sort of the
  round's selected rows; turn it off for throughput when oracle
  parity is not required.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import CrawlConfig
from ..functions.classify import FtIndex
from ..functions.udfs import (
    ATTR_TARGET_SCHEMA,
    CANDIDATE_SCHEMA,
    ROBOTS_RULES_TYPE,
    make_attr_extractor,
    make_head_classifier,
    make_link_admitter,
    make_robots_parser,
)
from ..operators.admission import admit_seed
from ..operators.seen import BLOOM_SCHEMA, BloomSeenFilter
from ..sources.tables import SnapshotStore

FRONTIER_COLS = [
    "url", "host_o", "host_l", "file_o", "ext_o", "protocol",
    "is_dynamic", "www", "seen_key", "host", "filetype", "ft_rank",
    "crawler", "peek", "depth", "parent_round", "parent_ord",
    "sibling_ix", "redirect_count", "external",
]

FRONTIER_SCHEMA = T.StructType(
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
    ]
)

SEEN_SCHEMA = "seen_key string, key_hash long, first_round int"

# bucket count of the compacted seen table (at 100 TB this is the
# Iceberg bucket(seen_key) spec; locally a bucketed parquet table)
SEEN_BUCKETS = 64

_SORT_COLS = ["ft_rank", "parent_round", "parent_ord", "sibling_ix"]


def politeness_split(
    elig: DataFrame, budget: int, salt_k: int = 0
) -> Tuple[DataFrame, DataFrame]:
    """Per-host token bucket (Q10, metha.c:71-79 budget analog): the B
    smallest rows by sort key per host fetch this round, the rest defer
    with their key intact. With salt_k > 1, a two-phase window handles
    hot-host skew: per-(host, salt) top-B first (parallel over salts),
    then the exact per-host top-B over the <= salt_k*B survivors — the
    result is identical to the unsalted window by construction."""
    if not budget:
        return elig, elig.limit(0)
    w = Window.partitionBy("host").orderBy(*_SORT_COLS)
    if salt_k > 1:
        w1 = Window.partitionBy("host", "salt").orderBy(*_SORT_COLS)
        pre = (
            elig.withColumn(
                "salt", F.pmod(F.xxhash64("seen_key"), F.lit(salt_k))
            )
            .withColumn("rn1", F.row_number().over(w1))
            .filter(F.col("rn1") <= budget)
            .drop("rn1", "salt")
        )
        sel = (
            pre.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= budget)
            .drop("rn")
        )
        deferred = elig.join(
            sel.select("seen_key"), "seen_key", "left_anti"
        )
        return sel, deferred
    ranked = elig.withColumn("rn", F.row_number().over(w))
    return (
        ranked.filter(F.col("rn") <= budget).drop("rn"),
        ranked.filter(F.col("rn") > budget).drop("rn"),
    )


def robots_gate_expr() -> "F.Column":
    """F5 allow/deny as a pure JVM higher-order expression over the
    per-host ``rules`` array: first path-prefix match wins, default
    allow (filter.c:34-54). NULL/empty rules coalesce to allow —
    identical to parse_robots of an absent body. get() (not [0])
    because ANSI mode throws on indexing an empty filter result."""
    return F.coalesce(
        F.expr(
            "get(filter(rules, r -> startswith("
            "substring(url, host_o + host_l + 1),"
            " r.prefix)), 0).allow"
        ),
        F.lit(True),
    )


def split_wave(
    pending: DataFrame,
) -> Tuple[int, int, int, DataFrame, DataFrame]:
    """Q1 ue_next round selection: one driver agg (per-depth counts,
    a handful of rows), then the BSP wave is the min-depth slice of
    the frontier (ue.c's depth-ordered next_url analog). Returns
    (n_pending, depth, n_wave, elig, rest) — n_pending counts the
    whole frontier (loop-termination signal), n_wave counts only the
    min-depth slice that actually feeds this round (the auto resolver
    gate reads it; the total would overcount multi-depth backlogs)."""
    rows = pending.groupBy("depth").agg(
        F.count("*").alias("n")
    ).collect()
    if not rows:
        return 0, -1, 0, pending.limit(0), pending.limit(0)
    d = min(r["depth"] for r in rows)
    return (
        sum(r["n"] for r in rows),
        d,
        next(r["n"] for r in rows if r["depth"] == d),
        pending.filter(F.col("depth") == d),
        pending.filter(F.col("depth") != d),
    )


def build_candidates(
    parse_input: DataFrame,
    config,
    resolver,
    admitter,
    mode: str,
    default_crawler: str = "default",
    persists: Optional[list] = None,
) -> DataFrame:
    """The parse/canonicalize/classify stage under a resolver mode.
    ``resolver`` is udfs.make_link_resolver_scalar's stage, the
    semantics spec that tests/test_resolver_jvm_diff.py and
    tests/test_admit_jvm.py pin the JVM path to:

    - "jvm": link EXTRACTION runs as JVM expressions
      (functions/extract_jvm.py) — span text never crosses Arrow —
      and ADMISSION of fast-shape links (the overwhelmingly-common
      printable-ASCII absolute/relative hrefs under no-UMEX crawlers)
      runs as JVM expressions too (functions/admit_jvm.py); only
      residue link rows (through ``admitter``) and guard-failing
      documents (through ``resolver``) reach Python.
    - "scalar": the whole document goes through the mapInPandas
      resolver.

    Callers pass a RESOLVED per-round mode ("jvm"/"scalar");
    the engine default "auto" (SparkCrawler._loop) resolves to jvm
    for waves at or past the measured ~1.5M-row crossover and scalar
    below it, so clusters run the codegen path and tiny test crawls
    keep the cheap one without configuration."""
    from ..functions.udfs import CANDIDATE_SCHEMA

    if mode == "jvm":
        from ..functions.admit_jvm import split_fast_admit
        from ..functions.extract_jvm import split_jvm_extractable

        link_rows, py_docs = split_jvm_extractable(parse_input, config)
        # cache the tagged link rows when the caller manages the
        # lifecycle (the round loop): both filter branches then read
        # one materialization instead of re-running the span
        # extraction regexes
        fast_out, residue, cached = split_fast_admit(
            link_rows, config, default_crawler,
            cache=persists is not None,
        )
        if cached is not None:
            persists.append(cached)
        out = fast_out.unionByName(
            residue.mapInPandas(admitter, CANDIDATE_SCHEMA)
        )
        return out.unionByName(
            py_docs.mapInPandas(resolver, CANDIDATE_SCHEMA)
        )
    return parse_input.mapInPandas(resolver, CANDIDATE_SCHEMA)


def adopt_parked(parked: DataFrame) -> DataFrame:
    """Q6 pending-host adoption: when the frontier is exhausted,
    parked EXTERNAL rows re-enter as a fresh wave at depth 0 with the
    peek flag cleared (the reference's pending-host hand-off:
    ue_push_pending/ue_pop_pending, urlengine.c:567,624, popped by an
    idle worker at worker.c:257,375 — a host parked by an EXTERNAL
    crawler is adopted as a new crawl root, not resumed at its link
    depth)."""
    return parked.withColumn("depth", F.lit(0)).withColumn(
        "peek", F.lit(False)
    )


@dataclass
class CrawlStats:
    rounds: int = 0
    fetched: int = 0
    admitted: int = 0
    targets: int = 0
    seen: int = 0
    wall_s: float = 0.0
    per_round: List[Dict] = field(default_factory=list)


class SparkCrawler:
    # scale-adaptive physical-plan gates. localCheckpointed state
    # frames (hosts/jail/seen) carry NO size statistics, so the
    # planner sort-merge-joins even a 200-row hosts table — both
    # sides exchanged+sorted every round. The driver tracks the row
    # counts it already knows (counts over materialized checkpoints
    # are metadata-cheap) and hints broadcast while the state is below
    # `broadcast_state_max` rows; past it — the 100 TB regime — the
    # plan falls back to the exchange/bucketed path automatically.
    # Checkpoint partition counts derive from tracked row counts
    # (~checkpoint_rows_per_part rows each, capped at
    # defaultParallelism) instead of a flat defaultParallelism: a
    # 3k-row local frontier stops costing 32 near-empty tasks per
    # round while a 10^9-row frontier keeps full parallelism.
    broadcast_state_max = 1_000_000
    checkpoint_rows_per_part = 100_000

    def __init__(
        self,
        spark: SparkSession,
        docs: DataFrame,
        config: CrawlConfig,
        crawler: str = "default",
        politeness_budget: int = 0,
        strict_order: bool = True,
        state_dir: Optional[str] = None,
        salt_k: int = 0,
        collect_metrics: bool = True,
        log_spans: bool = False,
        max_rounds: int = 10_000,
        bloom_buckets: int = 0,
        bloom_bits: int = 1 << 20,
        bloom_expected_keys: Optional[int] = None,
        serial_transfers: bool = False,
        fetcher=None,
        seen_compact_every: int = 8,
        resolver_mode: str = "auto",
        auto_jvm_threshold: int = 1_500_000,
        hooks=None,
    ):
        self.spark = spark
        self.config = config
        self.crawler_name = crawler
        self.crawler = config.crawler(crawler)
        self.idx = FtIndex(config, self.crawler)
        self.budget = politeness_budget
        # friendly/coward single-synchronous-worker consequence
        # (metha.c:71-79, 957-961): the inter-transfer waits force ONE
        # worker, so the global fetch order is fully deterministic.
        # The timing itself is meaningless in a batch engine; the
        # ORDER is the observable — one transfer per BSP round, chosen
        # by the global sort key. A parity mode, not a scale path.
        self.serial = serial_transfers
        self.strict_order = strict_order
        self.salt_k = salt_k
        self.collect_metrics = collect_metrics
        self.log_spans = log_spans
        self.max_rounds = max_rounds
        self.robots_enabled = any(c.robotstxt for c in config.crawlers)
        self.jail_crawlers = [c.name for c in config.crawlers if c.jail]
        # P11 attribute emission: which filetypes go through which path
        from ..functions.parsers import resolve_parser

        def _has_attrs_parser(ft) -> bool:
            return any(
                (resolve_parser(p) or ("", None))[0] == "attrs"
                for p in ft.parsers
            )

        self.attr_fts_py = [
            f.name
            for f in self.idx.ft_list
            if f.attributes and _has_attrs_parser(f)
        ]
        self.attr_fts_html = [
            f.name
            for f in self.idx.ft_list
            if "html" in f.attributes
            and "html" in f.parsers
            and f.name not in self.attr_fts_py
        ]
        # static plan pruning: HEAD (POSSIBLE_MATCH) rows can only
        # exist when some crawler has a "lookup" binding — otherwise
        # the whole content-type resolution stage is dropped
        self.any_lookup = any(
            b == "lookup"
            for c in config.crawlers
            for b in (c.dynamic_url, c.extless_url, c.dir_url,
                      c.unknown_url)
        )
        # static plan pruning: route == "external" is only reachable
        # when some crawler is EXTERNAL (route_of, admission.py) — for
        # everyone else the per-round parked bookkeeping (persist +
        # cadenced checkpoint) is dead weight and is dropped outright
        self.any_external = any(c.external for c in config.crawlers)
        # S9 writefile sink: a parser+handler filetype fetches through
        # the handler (worker.c:765-771), which saves the body under a
        # dedup-suffixed basename and hands the FILENAME to the parser
        # chain (builtin.c:63-133). Handler-ONLY filetypes never fetch
        # (the FT_FLAG_HAS_HANDLER quirk, worker.c:676) — routing
        # already treats them as targets. Statically pruned: the extra
        # naming window/join exists only when some filetype binds the
        # writefile handler.
        self.writefile_fts = [
            f.name
            for f in self.idx.ft_list
            if f.handler == "writefile" and f.parsers
        ]
        # S3 real-fetch seam: a callable(urls_df) -> docs-shaped frame
        # (sources/fetch_http.py make_http_fetcher) replaces the
        # synthetic docs join; robots/HEAD side-tables still come from
        # the docs table (pass real robots docs there, or none)
        self.fetcher = fetcher
        # resolver mode: "auto" is the deployment default — "scalar"
        # measured fastest at small waves, "jvm" moves extraction into
        # codegen and wins at cluster scale; see build_candidates.
        # "auto" picks per ROUND by wave size: the measured record
        # (BENCH/BASELINE.md round 4) is jvm 214 s vs scalar 228 s on
        # the 7.36M-row mega-round (26.1M links) but jvm 69 s vs
        # scalar 28 s across 12 sf0.1 rounds — jvm carries ~3.4 s of
        # fixed per-round plan/driver cost and wins ~0.67 us/link at
        # the margin, so breakeven sits near 5M links ~ 1.5M wave
        # rows. Below the threshold the wave runs the scalar machine,
        # at/above it the JVM extract+admit path — the configuration
        # a 100 TB deployment gets out of the box without tuning.
        if resolver_mode not in ("auto", "scalar", "jvm"):
            raise ValueError(
                f"resolver_mode must be 'auto', 'scalar' or 'jvm', "
                f"not {resolver_mode!r}"
            )
        self.resolver_mode = resolver_mode
        self.auto_jvm_threshold = auto_jvm_threshold
        self.store = SnapshotStore(state_dir) if state_dir else None
        # session lifecycle hooks (mn-slaved analog, plans/hooks.py):
        # session-complete runs between the 'hook' and 'done' session
        # states; cleanup runs from close()
        self.hooks = hooks
        self._session_id: Optional[str] = None
        # bucketed seen table (PLANS.md design, enacted): in store
        # mode, every `seen_compact_every` rounds the full seen set is
        # compacted into a parquet table BUCKETED by seen_key; the
        # per-round exact anti-join then scans it with NO exchange on
        # the seen side (only candidates shuffle into the bucket
        # layout) and removes the few post-compaction delta rounds
        # with a broadcast anti-join. 0 disables compaction.
        self.seen_compact_every = seen_compact_every if self.store else 0
        self._seen_bucketed: Optional[DataFrame] = None
        self._compact_round = -1
        # bloom sizing: frontier-derived when the caller states an
        # expected key count (operators/seen.py sized_for — ~9.6
        # bits/key at 1% FP), else the explicit bloom_bits constant
        if bloom_buckets and bloom_expected_keys:
            self.bloom = BloomSeenFilter.sized_for(
                spark, bloom_expected_keys, n_buckets=bloom_buckets
            )
        elif bloom_buckets:
            self.bloom = BloomSeenFilter(
                spark, n_buckets=bloom_buckets, m_bits=bloom_bits
            )
        else:
            self.bloom = None

        # the docs table is the synthetic web; only the columns a
        # round needs are projected (column pruning reaches the scan).
        # The fetch join runs EVERY round against this table — laying
        # it out hash-partitioned + sorted by the join key ONCE (state
        # setup, like the robots bootstrap below) removes the
        # docs-side Exchange+Sort from every round's sort-merge fetch
        # join: only the (small) wave side shuffles into the docs
        # layout. This is the engine-side twin of the bucketed seen
        # table.
        n_shuffle = int(
            spark.conf.get("spark.sql.shuffle.partitions", "200")
        )
        self.docs = (
            docs.select(
                "doc_id", "spans", "content_type", "status", "location"
            )
            .repartition(n_shuffle, "doc_id")
            .sortWithinPartitions("doc_id")
            .persist()
        )
        self.docs_ct = docs.select("doc_id", "content_type")
        # robots side-table: the reference keeps per-host robots state
        # on the host struct (worker.c:269-283 fetches robots.txt once
        # per host). At 100 TB robots bodies are a tiny hot table, not
        # rows interleaved in the corpus — scanning the full docs table
        # per depth-0 wave to find them is the wrong plan. Pre-filter +
        # pre-parse ONCE (n_hosts rows); every wave then joins this
        # small cached table. parse_robots is pure and per-host, so
        # parsing at bootstrap instead of per-wave is semantics-
        # preserving (absent robots parse to the same allow-all as a
        # NULL rules array).
        self.robots_cache = None
        if self.robots_enabled:
            robots_parse = F.pandas_udf(
                make_robots_parser(self.config.user_agent),
                ROBOTS_RULES_TYPE,
            )
            body_expr = F.expr(
                "concat_ws('', transform(filter(spans,"
                " s -> s.kind = 'text'), s -> coalesce(s.text, '')))"
            )
            # localCheckpoint (not persist): the checkpointed frame's
            # plan IS the materialized blocks, so every later join
            # reads them directly — cache-fragment substitution does
            # not reliably kick in under a join for python-UDF
            # lineage, and the parse must never re-run in-round
            self.robots_cache = (
                self.docs.filter(F.col("doc_id").endswith("/robots.txt"))
                .select(
                    F.col("doc_id").alias("robots_url"),
                    robots_parse(body_expr).alias("rules"),
                )
                .localCheckpoint()
            )
            # cheap count on the just-materialized blocks: feeds the
            # broadcast gate (bootstrap state setup)
            self._n_robots = self.robots_cache.count()
        else:
            self._n_robots = 0

        self._n_hosts: Optional[int] = None
        self._n_jail: Optional[int] = None
        self._n_seen_est: Optional[int] = None

    # -- seed admission (driver-side; seeds are tiny) -------------------

    def _admit_seeds(self, seeds: List[str]) -> Tuple[DataFrame, DataFrame, List[dict]]:
        seed_seen: set = set()

        def tryadd(k: str) -> bool:
            if k in seed_seen:
                return False
            seed_seen.add(k)
            return True

        # content types for HEAD-classified seeds via one tiny lookup
        ct_rows = (
            self.docs_ct.filter(F.col("doc_id").isin(seeds)).collect()
            if seeds
            else []
        )
        ct_map = {r["doc_id"]: r["content_type"] for r in ct_rows}

        rows, targets = [], []
        for ix, raw in enumerate(seeds):
            adm = admit_seed(
                raw, self.idx, self.config, tryadd, ct_map.get
            )
            if adm is None or adm.route == "discard":
                continue
            if adm.route == "target":
                targets.append(
                    {"url": adm.parsed.url, "filetype": adm.filetype,
                     "round": 0}
                )
                continue
            p = adm.parsed
            rows.append(
                (
                    p.url, p.host_o, p.host_l, p.file_o, p.ext_o,
                    p.protocol, p.is_dynamic, p.www_prefix, p.seen_key,
                    p.host_identity, adm.filetype, adm.ft_rank,
                    self.crawler_name, False, 0, -1, -1, ix, 0, False,
                )
            )
        pending = self.spark.createDataFrame(rows, FRONTIER_SCHEMA)
        seen = pending.select(
            "seen_key",
            F.xxhash64("seen_key").alias("key_hash"),
            F.lit(0).alias("first_round"),
        )
        # exact driver-side bootstrap count for the seen-broadcast
        # gate (per-round admitted deltas keep it current in _loop)
        self._n_seen_est = len(seed_seen)
        # seed keys that were admitted but routed away still occupy
        # the seen set
        extra = [k for k in seed_seen
                 if k not in {r[8] for r in rows}]
        if extra:
            seen = seen.unionByName(
                self.spark.createDataFrame(
                    [(k,) for k in extra], "seen_key string"
                ).select(
                    "seen_key",
                    F.xxhash64("seen_key").alias("key_hash"),
                    F.lit(0).alias("first_round"),
                )
            )
        return pending, seen, targets

    # -- politeness -----------------------------------------------------

    def _politeness_split(self, elig: DataFrame) -> Tuple[DataFrame, DataFrame]:
        return politeness_split(elig, self.budget, self.salt_k)

    # -- scale-adaptive plan gates ---------------------------------------

    def _maybe_broadcast(self, df: DataFrame, n: Optional[int]):
        """Broadcast-hint ``df`` when its driver-tracked row count is
        known and small; otherwise leave the planner's exchange path
        (the correct one once the state outgrows executor memory)."""
        if n is not None and n <= self.broadcast_state_max:
            return F.broadcast(df)
        return df

    def _n_parts(self, est_rows: int) -> int:
        """Checkpoint partition count from an estimated row count."""
        cap = self.spark.sparkContext.defaultParallelism
        return max(
            1, min(cap, est_rows // self.checkpoint_rows_per_part + 1)
        )

    # -- robots / jail ----------------------------------------------------

    def _update_hosts(
        self, hosts: DataFrame, selected: DataFrame, round_no: int
    ) -> DataFrame:
        """Fetch robots.txt for hosts entering at depth 0 (worker.c:
        269-283; fetched even when the crawler ignores robots —
        preserved). The robots URL uses the www-stripped host identity
        (worker.c:1002-1004)."""
        new_hosts = (
            selected.filter(F.col("depth") == 0)
            .select("host")
            .distinct()
            .join(hosts.select("host"), "host", "left_anti")
        )
        fetched = (
            new_hosts.join(
                self._maybe_broadcast(self.robots_cache, self._n_robots),
                F.concat(F.lit("http://"), F.col("host"), F.lit("/robots.txt"))
                == F.col("robots_url"),
                "left",
            )
            .select("host", "rules")
        )
        return hosts.unionByName(fetched)

    # -- seen anti-join (bucketed fast path) -----------------------------

    def _anti_seen(self, cand: DataFrame, seen: DataFrame) -> DataFrame:
        """Remove already-seen keys from ``cand``.

        With a compacted bucketed seen snapshot attached, the big
        anti-join side is a bucketed table scan (no seen-side
        exchange; candidates shuffle into its bucket layout) and the
        post-compaction rounds — a few small deltas — broadcast.
        Otherwise: the plain anti-join against the in-memory union."""
        if self._seen_bucketed is not None:
            out = cand.join(
                self._seen_bucketed.select("seen_key"),
                "seen_key", "left_anti",
            )
            recent = self.store.table("seen").read_since(
                self.spark, self._compact_round
            )
            if recent is not None:
                out = out.join(
                    F.broadcast(recent.select("seen_key")),
                    "seen_key", "left_anti",
                )
            return out
        # driver-tracked seen size gates a broadcast anti-join (no
        # exchange on either side) while the set is small; seed crawls
        # track it exactly (bootstrap count + per-round admitted
        # deltas), frontier/resume entries leave it None -> exchange
        return cand.join(
            self._maybe_broadcast(
                seen.select("seen_key"), self._n_seen_est
            ),
            "seen_key", "left_anti",
        )

    def _maybe_compact_seen(self, r: int) -> None:
        """Cadenced seen-table compaction (store mode): rewrite the
        full set as ONE bucketed snapshot and re-attach it as a
        bucketed table scan for the next rounds' anti-joins."""
        k = self.seen_compact_every
        if not k or r % k != k - 1:
            return
        spark = self.spark
        full = self.store.table("seen").read_until(spark).select(
            "seen_key", "key_hash", "first_round"
        )
        self.store.table("seen_bucketed").append(
            full, r, collect_lineage=False,
            bucket_by=("seen_key", SEEN_BUCKETS),
        )
        self._seen_bucketed = self.store.table(
            "seen_bucketed"
        ).read_bucketed(spark, table_name="seen_bucketed_attach")
        self._compact_round = r

    # -- S9 writefile handler -------------------------------------------

    def _writefile_stage(
        self, fetched: DataFrame, names: DataFrame, round_no: int
    ) -> Tuple[DataFrame, DataFrame]:
        """The writefile handler (builtin.c:63-133) as a sink stage.

        For fetched rows of a parser+handler filetype:
        - derive the download basename from the URL: the last path
          segment query-stripped; a directory URL becomes
          ``index.html`` (builtin.c:97-103); ``ext_o`` points AT the
          dot (url.c:402) so the extension keeps its dot;
        - the reference's stat()-loop dedup (builtin.c:112-117)
          becomes a per-base row_number over fetch order plus the
          CUMULATIVE per-base count carried across rounds: the Nth
          collision is named ``<stem>-<N><ext>``;
        - the body is appended to the ``files`` table and the PARSE
          BUFFER becomes the filename (h->buf swap, builtin.c:123-126)
          — the parser chain then sees the name, not the body.

        Returns (parse_input, new_names_state).
        """
        spark = self.spark
        wf = fetched.filter(
            F.col("filetype").isin(self.writefile_fts)
            & F.col("spans").isNotNull()
            & ~(
                (F.col("status") >= 300) & (F.col("status") < 400)
                & F.col("location").isNotNull()
            )
        )
        is_dir = (F.col("file_o") + F.lit(1)) == F.length("url")
        rest = F.expr("substring(url, file_o + 2)")
        rest_noq = F.when(
            F.instr(rest, "?") > 0,
            F.expr("left(substring(url, file_o + 2),"
                   " instr(substring(url, file_o + 2), '?') - 1)"),
        ).otherwise(rest)
        ext_raw = F.expr("substring(url, ext_o + 1)")
        ext = F.when(is_dir, F.lit(".html")).when(
            F.col("ext_o") > 0,
            F.when(
                F.instr(ext_raw, "?") > 0,
                F.expr("left(substring(url, ext_o + 1),"
                       " instr(substring(url, ext_o + 1), '?') - 1)"),
            ).otherwise(ext_raw),
        ).otherwise(F.lit(""))
        stem = F.when(is_dir, F.lit("index")).when(
            F.col("ext_o") > 0,
            F.expr("substring(url, file_o + 2, ext_o - file_o - 1)"),
        ).otherwise(rest_noq)
        body = F.expr(
            "concat_ws('', transform(filter(spans,"
            " s -> s.kind = 'text'), s -> coalesce(s.text, '')))"
        )
        wfb = wf.select(
            "url", "filetype", *_SORT_COLS,
            stem.alias("stem"), ext.alias("ext"), body.alias("body"),
        ).withColumn("base", F.concat("stem", "ext"))

        # collision numbering follows the DETERMINISTIC crawl sort key,
        # not fetch_ord: with strict_order=False fetch_ord is
        # xxhash64(url) — layout-invariant but in ARBITRARY order, so
        # ordering by it would assign "page0.html" vs "page0-1.html"
        # by hash accident; the reference's stat() loop runs in its
        # strict crawl order (builtin.c:112-117), which the explicit
        # sort key reproduces
        wn = Window.partitionBy("base").orderBy(*_SORT_COLS)
        named = (
            wfb.withColumn("rn", F.row_number().over(wn))
            .join(names, "base", "left")
            .withColumn(
                "prior", F.coalesce(F.col("cnt"), F.lit(0))
                + F.col("rn") - F.lit(1)
            )
            .withColumn(
                "filename",
                F.when(F.col("prior") == 0, F.col("base")).otherwise(
                    F.concat(
                        "stem", F.lit("-"),
                        F.col("prior").cast("string"), "ext",
                    )
                ),
            )
        )
        if self.store:
            self.store.table("files").append(
                named.select(
                    "url", "filetype", "filename", "body",
                    F.lit(round_no).alias("round"),
                ),
                round_no, collect_lineage=True,
            )

        new_counts = wfb.groupBy("base").agg(
            F.count("*").alias("add")
        )
        names = (
            names.join(new_counts, "base", "full_outer")
            .select(
                "base",
                (F.coalesce(F.col("cnt"), F.lit(0))
                 + F.coalesce(F.col("add"), F.lit(0))).alias("cnt"),
            )
            .localCheckpoint()
        )
        if self.store:
            self.store.table("names_state").append(
                names, round_no + 1, collect_lineage=False
            )

        # h->buf swap: downstream parse/attr stages see the filename
        filename_span = F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("filename").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        )
        parse_input = (
            fetched.join(
                named.select("url", "filename"), "url", "left"
            )
            .withColumn(
                "spans",
                F.when(
                    F.col("filename").isNotNull(), filename_span
                ).otherwise(F.col("spans")),
            )
            .drop("filename")
        )
        return parse_input, names

    def _jail_prefixes(self, selected: DataFrame) -> DataFrame:
        dir_region = F.expr(
            "lower(substring(url, host_o + host_l + 1,"
            " greatest(file_o - host_o - host_l, 0)))"
        )
        return (
            selected.filter(
                (F.col("depth") == 0)
                & F.col("crawler").isin(self.jail_crawlers)
            )
            .groupBy("host")
            .agg(
                F.min_by(
                    dir_region, F.struct(*_SORT_COLS)
                ).alias("jail_prefix")
            )
        )

    # -- entry points -----------------------------------------------------

    def _hosts_schema(self) -> T.StructType:
        return T.StructType(
            [
                T.StructField("host", T.StringType()),
                T.StructField("rules", ROBOTS_RULES_TYPE),
            ]
        )

    def run(self, seeds: List[str]) -> CrawlStats:
        """Fresh crawl from a seed list.

        When the crawler binds an ``init`` function (S2), it runs once
        here over the raw args and returns the actual seed URLs (the
        reference calls it with methabot's trailing command-line
        arguments — e.g. google.js composes search URLs from query
        terms)."""
        from ..functions.parsers import resolve_init

        if self.crawler.init:
            init_fn = resolve_init(self.crawler.init)
            if init_fn is not None:
                seeds = list(init_fn(seeds))
        spark = self.spark
        stats = CrawlStats()
        pending, seen, seed_targets = self._admit_seeds(seeds)
        if self.store:
            # snapshot 0 — the resume baseline
            self.store.table("seen").append(seen, 0, collect_lineage=False)
            self.store.table("frontier").append(
                pending, 0, collect_lineage=True
            )
            if seed_targets:
                self.store.table("targets").append(
                    spark.createDataFrame(
                        [(t["url"], t["filetype"], 0) for t in seed_targets],
                        "url string, filetype string, round int",
                    ),
                    0, collect_lineage=False,
                )
        stats.targets += len(seed_targets)
        if self.bloom is not None:
            self.bloom.update(seen.select("key_hash"))
        hosts = spark.createDataFrame([], self._hosts_schema()).persist()
        jail = (
            spark.createDataFrame(
                [], "host string, jail_prefix string"
            ).persist()
            if self.jail_crawlers
            else None
        )
        return self._loop(
            pending.persist(), seen.persist(), hosts, jail, None, 0, stats
        )

    def resume(self) -> CrawlStats:
        """Continue a crawl exactly from the latest snapshots (north
        rule: resumable from any checkpoint with per-partition
        lineage — see SnapshotTable manifests)."""
        assert self.store is not None, "resume requires state_dir"
        spark = self.spark
        ft = self.store.table("frontier")
        r0 = ft.latest_round()
        assert r0 is not None, "no frontier snapshot to resume from"
        pending = ft.read_round(spark, r0)
        seen = self.store.table("seen").read_until(spark).select(
            "seen_key", "key_hash", "first_round"
        )
        sb = self.store.table("seen_bucketed")
        last_compact = sb.latest_round()
        if last_compact is not None:
            # re-attach the compacted bucketed seen scan (files carry
            # the bucket ids; the in-memory catalog forgot them)
            self._seen_bucketed = sb.read_bucketed(
                spark, table_name="seen_bucketed_attach"
            )
            self._compact_round = last_compact
        hosts = self.store.table("hosts_state").read_latest(spark)
        if hosts is None:
            hosts = spark.createDataFrame([], self._hosts_schema())
        jail = None
        if self.jail_crawlers:
            jail = self.store.table("jail_state").read_latest(spark)
            if jail is None:
                jail = spark.createDataFrame(
                    [], "host string, jail_prefix string"
                )
            jail = jail.persist()
        parked = self.store.table("parked_state").read_latest(spark)
        if parked is not None and parked.isEmpty():
            parked = None
        if self.bloom is not None:
            state = self.store.table("bloom_state").read_latest(spark)
            if state is not None:
                self.bloom.state = state.localCheckpoint()
        return self._loop(
            pending.persist(),
            seen.persist(),
            hosts.persist(),
            jail,
            parked.persist() if parked is not None else None,
            r0,
            CrawlStats(),
        )

    def run_frontier(
        self,
        pending: DataFrame,
        seen: Optional[DataFrame] = None,
    ) -> CrawlStats:
        """Run the loop over a caller-provided frontier (FRONTIER_SCHEMA
        rows) and optional pre-existing seen set — the steady-state
        bench entry (one or few mega-rounds over a large frontier)."""
        spark = self.spark
        if seen is None:
            seen = pending.select(
                "seen_key",
                F.xxhash64("seen_key").alias("key_hash"),
                F.lit(0).alias("first_round"),
            )
        if self.bloom is not None:
            # seed the filter with the initial seen keys — run() does
            # this for seed crawls; without it every frontier key
            # bypasses the exact anti-join as "definitely new" and the
            # seen set inflates (caught by the --bloom-diag checksum)
            self.bloom.update(seen.select("key_hash"))
        hosts = spark.createDataFrame([], self._hosts_schema()).persist()
        jail = (
            spark.createDataFrame(
                [], "host string, jail_prefix string"
            ).persist()
            if self.jail_crawlers
            else None
        )
        return self._loop(
            pending.persist(), seen.persist(), hosts, jail, None, 0,
            CrawlStats(),
        )

    # -- the round loop ---------------------------------------------------

    def _loop(
        self,
        pending: DataFrame,
        seen: DataFrame,
        hosts: DataFrame,
        jail: Optional[DataFrame],
        parked: Optional[DataFrame],
        start_round: int,
        stats: CrawlStats,
    ) -> CrawlStats:
        spark = self.spark
        t0 = time.time()

        self._append_session("running", stats, start_round)
        head_classify = make_head_classifier(self.config, self.crawler_name)
        # imported per call, not at module level, so a wrapper set on
        # the udfs module (perfbench's tracer) is the one that runs.
        # jvm rounds feed it guard-failing documents only, scalar
        # rounds whole documents.
        from ..functions.udfs import make_link_resolver_scalar

        resolver = make_link_resolver_scalar(self.config, self.crawler_name)
        admitter = make_link_admitter(self.config, self.crawler_name)

        # S9 writefile naming state (cumulative per-base counts); on
        # resume the latest snapshot restores exact dedup numbering
        names = None
        if self.writefile_fts:
            if self.store:
                names = self.store.table("names_state").read_latest(
                    spark
                )
            if names is None:
                names = spark.createDataFrame(
                    [], "base string, cnt long"
                )
            names = names.localCheckpoint()

        r = start_round
        while r < self.max_rounds:
            n_pending, d, n_wave, elig, rest = split_wave(pending)
            if n_pending == 0:
                if parked is None or parked.isEmpty():
                    break
                # host-adoption wave: parked rows re-enter at depth 0
                pending.unpersist()
                pending = adopt_parked(parked).persist()
                parked = None
                if self.store:
                    self.store.table("frontier").append(
                        pending, r, collect_lineage=True
                    )
                    self.store.table("parked_state").append(
                        spark.createDataFrame([], FRONTIER_SCHEMA),
                        r, collect_lineage=False,
                    )
                continue

            # effective resolver mode this round: "auto" gates the
            # JVM extract+admit path on the size of THIS round's wave
            # (the min-depth slice — not the whole frontier, which
            # overcounts multi-depth backlogs; see __init__ for the
            # measured ~1.5M-row breakeven)
            mode_r = self.resolver_mode
            if mode_r == "auto":
                mode_r = (
                    "jvm" if n_wave >= self.auto_jvm_threshold
                    else "scalar"
                )

            if self.serial:
                wser = Window.orderBy(*_SORT_COLS)
                ranked = elig.withColumn(
                    "rn", F.row_number().over(wser)
                )
                selected = ranked.filter(F.col("rn") == 1).drop("rn")
                deferred = ranked.filter(F.col("rn") > 1).drop("rn")
            else:
                selected, deferred = self._politeness_split(elig)
            if self.budget:
                # the politeness window reshuffles — cache it for the
                # hosts-update + fetch consumers
                selected = selected.persist()
            # with no budget, selected IS the (already cached) wave —
            # an extra persist would copy the whole frontier per round

            if self.robots_enabled and d == 0:
                # new hosts only enter at depth 0 (worker.c:269-283)
                hosts = self._update_hosts(hosts, selected, r)
                hosts = hosts.localCheckpoint()
                # metadata-cheap on the materialized blocks; feeds the
                # broadcast gate for the per-round robots join
                self._n_hosts = hosts.count()

            # gates -----------------------------------------------------
            gated = selected
            if self.jail_crawlers:
                if d == 0:
                    new_jail = self._jail_prefixes(selected).join(
                        jail.select("host"), "host", "left_anti"
                    )
                    jail = jail.unionByName(new_jail).localCheckpoint()
                    self._n_jail = jail.count()
                gated = gated.join(
                    self._maybe_broadcast(jail, self._n_jail),
                    "host", "left",
                )
                dir_region = F.expr(
                    "lower(substring(url, host_o + host_l + 1,"
                    " greatest(file_o - host_o - host_l, 0)))"
                )
                gated = gated.filter(
                    ~F.col("crawler").isin(self.jail_crawlers)
                    | (F.col("depth") == 0)
                    | F.col("jail_prefix").isNull()
                    | dir_region.startswith(F.col("jail_prefix"))
                ).drop("jail_prefix")
            if self.robots_enabled:
                # first path-prefix match wins, default allow
                # (filter.c:34-54) — a pure JVM higher-order expression,
                # no Python in the gate (NULL/empty rules coalesce to
                # allow, matching parse_robots of an absent body)
                gated = (
                    gated.join(
                        self._maybe_broadcast(hosts, self._n_hosts),
                        "host", "left",
                    )
                    .withColumn("robots_ok", robots_gate_expr())
                    .filter(F.col("robots_ok"))
                    .drop("rules", "robots_ok")
                )

            # deterministic fetch order + fetch ids ----------------------
            if self.strict_order:
                # after the global sort, partition index order matches
                # sort order, so monotonically_increasing_id is
                # monotone in the strict crawl order (worker.c fetch
                # loop parity) — id VALUES vary with layout but their
                # ORDER (all any consumer uses) does not
                ordered = gated.orderBy(*_SORT_COLS).withColumn(
                    "fetch_ord", F.monotonically_increasing_id()
                )
            else:
                # layout-INVARIANT ids: urls are unique within a
                # round's frontier, so xxhash64(url) is a unique,
                # content-determined fetch id. monotonically_
                # increasing_id here would encode the partition
                # layout, and every repartition/coalesce/AQE change
                # would silently shift which same-round duplicate
                # wins the in-batch dedup tie-break downstream (the
                # round-3 bench-total drift: 35,066 -> 35,062 fetched
                # at sf0.1 from a coalesce-before-checkpoint).
                ordered = gated.withColumn(
                    "fetch_ord", F.xxhash64("url")
                )
            ordered = ordered.withColumn("fetch_round", F.lit(r))

            # the "fetch": join the docs table — or, with a fetcher
            # installed (sources/fetch_http.py), the mapInPandas
            # batch-HTTP stage producing the same docs shape ----------
            if self.fetcher is not None:
                docs_side = self.fetcher(ordered)
            else:
                docs_side = self.docs
            fetched = ordered.join(
                docs_side, ordered.url == docs_side.doc_id, "left"
            ).drop("doc_id")
            # materializing here is the MEASURED winner even for
            # single-consumer rounds (8-core mega-round A/B: 151 s
            # cached vs 200 s uncached in adjacent windows — the
            # un-cached variant recomputes the politeness/robots chain
            # for the fetch count); localCheckpoint rather than
            # persist because EVERY downstream exec (candidates
            # checkpoint, crawl-log/attr appends, the fetch count)
            # otherwise re-embeds and re-optimizes the full fetch-join
            # logical plan — measured ~95 KB of plan text per exec,
            # thrice per round, the dominant driver-side cost of a
            # small round. The checkpointed frame's plan IS its
            # materialized blocks. The fetch count rides along the
            # checkpoint job as an observed metric instead of a second
            # job.
            obs_f = Observation(f"fetch_r{r}")
            fetched = fetched.observe(
                obs_f, F.count(F.lit(1)).alias("n")
            ).localCheckpoint()
            n_fetched = obs_f.get["n"]

            # crawl log (S11) -------------------------------------------
            if self.store:
                log_cols = [
                    F.lit(r).alias("round"), "fetch_ord", "url",
                    "filetype", "depth", "host",
                    F.coalesce(F.col("status"), F.lit(404)).alias("status"),
                ]
                if self.log_spans:
                    log_cols.append("spans")
                self.store.table("crawl_log").append(
                    fetched.select(*log_cols), r, collect_lineage=False
                )

            # S9 writefile: sink + parse-buffer swap --------------------
            if self.writefile_fts:
                parse_input, names = self._writefile_stage(
                    fetched, names, r
                )
            else:
                parse_input = fetched

            # attribute targets (P11) -------------------------------------
            # Two paths, both emitting (url, filetype, attributes map):
            # - JVM expression for filetypes whose ONLY attribute is the
            #   builtin html whole-body one (html.c:179-183) — no Python;
            # - the attrs-parser mapInPandas stage for filetypes whose
            #   chain sets named attributes (js.c set_attribute analog).
            n_targets_attr = 0
            not_redirect = F.col("spans").isNotNull() & ~(
                (F.col("status") >= 300) & (F.col("status") < 400)
                & F.col("location").isNotNull()
            )
            attr_frames = []
            if self.attr_fts_html:
                body_expr = F.expr(
                    "concat_ws('', transform(filter(spans,"
                    " s -> s.kind = 'text'), s -> coalesce(s.text, '')))"
                )
                attr_frames.append(
                    parse_input.filter(
                        F.col("filetype").isin(self.attr_fts_html)
                        & not_redirect
                    ).select(
                        "url", "filetype",
                        F.create_map(
                            F.lit("html"), body_expr
                        ).alias("attributes"),
                    )
                )
            if self.attr_fts_py:
                attr_frames.append(
                    parse_input.filter(
                        F.col("filetype").isin(self.attr_fts_py)
                        & not_redirect
                    )
                    .select("url", "filetype", "spans")
                    .mapInPandas(
                        make_attr_extractor(self.config),
                        ATTR_TARGET_SCHEMA,
                    )
                )
            if attr_frames:
                attr_targets = attr_frames[0]
                for fdf in attr_frames[1:]:
                    attr_targets = attr_targets.unionByName(fdf)
                attr_targets = attr_targets.withColumn("round", F.lit(r))
                if self.store:
                    # one job: the append's lineage read-back counts the
                    # written rows from the (small) snapshot parquet —
                    # never recompute the fetch pipeline just to count
                    entry = self.store.table("attr_targets").append(
                        attr_targets, r, collect_lineage=True
                    )
                    n_targets_attr = entry.get("rows", 0)
                elif self.collect_metrics:
                    # store-less metric runs still count attribute
                    # targets (the reference counts m.targets
                    # unconditionally, worker.c:913-917) so stats
                    # parity with the oracle holds without a state_dir
                    n_targets_attr = attr_targets.count()

            # parse + canonicalize + classify ----------------------------
            round_caches: list = []
            candidates = build_candidates(
                parse_input, self.config, resolver, admitter,
                mode_r, self.crawler_name, round_caches,
            )

            # in-batch dedup: first admission in fetch order wins --------
            wd = Window.partitionBy("seen_key").orderBy(
                "parent_ord", "sibling_ix"
            )
            candidates = (
                candidates.withColumn("rn", F.row_number().over(wd))
                .filter(F.col("rn") == 1)
                .drop("rn")
            )

            # global dedup: bloom prefilter + exact anti-join -------------
            n_bloom_new = n_bloom_maybe = None
            if self.bloom is not None:
                cand_hashed = candidates.withColumn(
                    "key_hash", F.xxhash64("seen_key")
                )
                definitely_new, maybe = self.bloom.split(cand_hashed)
                if self.collect_metrics:
                    # anti-join input reduction is THE bloom metric:
                    # checkpoint both halves (one computation), then
                    # the counts are metadata-cheap
                    definitely_new = definitely_new.localCheckpoint()
                    maybe = maybe.localCheckpoint()
                    n_bloom_new = definitely_new.count()
                    n_bloom_maybe = maybe.count()
                checked = self._anti_seen(maybe, seen)
                new_links = definitely_new.unionByName(checked).drop(
                    "key_hash"
                )
            else:
                new_links = self._anti_seen(candidates, seen)

            # HEAD resolution (F3): content-type join for POSSIBLE_MATCH
            # (statically pruned when no crawler has a "lookup" binding
            # — then needs_head is always false)
            if self.any_lookup:
                head_rows = new_links.filter(F.col("needs_head"))
                plain_rows = new_links.filter(~F.col("needs_head"))
                resolved_head = (
                    head_rows.drop("filetype", "ft_rank", "route")
                    .join(
                        self.docs_ct,
                        F.col("url") == F.col("doc_id"),
                        "left",
                    )
                    .drop("doc_id")
                    .mapInPandas(
                        _head_mapper(head_classify),
                        CANDIDATE_SCHEMA,
                    )
                )
                admitted = plain_rows.unionByName(resolved_head)
            else:
                admitted = new_links
            # checkpoint the (small) per-round delta: everything
            # downstream (seen delta, targets, frontier add, parked)
            # then reads a materialized scan instead of re-nesting the
            # whole round pipeline — keeps all cross-round plans flat
            track_seen = (
                self._n_seen_est is not None
                and self._n_seen_est <= self.broadcast_state_max
            )
            if track_seen:
                # the admitted count (the seen delta size) rides along
                # the checkpoint as an observed metric — keeps the
                # seen-broadcast gate's row count exact at zero extra
                # jobs; once the gate is past the threshold it stays
                # off (seen only grows), so the tracking stops too
                obs_a = Observation(f"admit_r{r}")
                admitted = admitted.observe(
                    obs_a, F.count(F.lit(1)).alias("n")
                )
            admitted = admitted.localCheckpoint()
            for c in round_caches:
                c.unpersist()
            if track_seen:
                self._n_seen_est += obs_a.get["n"]

            # seen delta --------------------------------------------------
            seen_delta = admitted.select(
                "seen_key",
                F.xxhash64("seen_key").alias("key_hash"),
                F.lit(r).alias("first_round"),
            )
            if self.store:
                self.store.table("seen").append(seen_delta, r,
                                                collect_lineage=True)
            new_seen = seen.unionByName(seen_delta)
            if self.bloom is not None:
                self.bloom.update(seen_delta.select("key_hash"))
                if self.store:
                    self.store.table("bloom_state").append(
                        self.bloom.state, r + 1, collect_lineage=False
                    )

            # routing ------------------------------------------------------
            targets_df = admitted.filter(F.col("route") == "target").select(
                "url", "filetype", F.lit(r).alias("round")
            )
            if self.store:
                self.store.table("targets").append(
                    targets_df, r, collect_lineage=False
                )

            frontier_add = admitted.filter(F.col("route") == "frontier")
            # per-row depth budget: peek rows use their crawler's
            # peek_limit, regular rows its depth_limit (0 = unlimited);
            # over-limit rows stay in the seen set but never fetch
            cond = F.lit(False)
            for cr in self.config.crawlers:
                nonpeek_ok = F.lit(cr.depth_limit == 0) | (
                    F.col("depth") < cr.depth_limit
                )
                peek_ok = F.col("depth") < cr.peek_limit
                cond = cond | (
                    (F.col("crawler") == cr.name)
                    & F.when(F.col("peek"), peek_ok).otherwise(nonpeek_ok)
                )
            frontier_add = frontier_add.filter(cond)
            frontier_add = frontier_add.select(*FRONTIER_COLS)

            if self.any_external:
                external_add = admitted.filter(
                    F.col("route") == "external"
                ).select(*FRONTIER_COLS)
                if parked is None:
                    parked = external_add.persist()
                else:
                    parked = parked.unionByName(
                        external_add
                    ).persist()

            new_pending = deferred.select(*FRONTIER_COLS).unionByName(
                rest.select(*FRONTIER_COLS)
            ).unionByName(frontier_add)

            # snapshot the next frontier; reading it back truncates
            # lineage and is the resume point
            if self.store:
                entry = self.store.table("frontier").append(
                    new_pending, r + 1, collect_lineage=True
                )
                pending.unpersist()
                pending = self.store.table("frontier").read_round(
                    spark, r + 1
                ).persist()
            else:
                old = pending
                # coalesce before the checkpoint: the 3-way union
                # inherits the sum of its parents' partitions, which
                # compounds +O(shuffle.partitions) per round — a
                # many-round budgeted crawl otherwise snowballs into
                # tens of thousands of near-empty tasks (measured:
                # a 36k-task stage on an 81-round politeness crawl).
                # coalesce is a narrow dep: no shuffle, just fewer,
                # fuller tasks. The target derives from the known
                # frontier size (2x headroom for this round's growth)
                # instead of a flat defaultParallelism: a few-thousand-
                # row local frontier checkpoints as ONE task while a
                # cluster-scale frontier keeps full parallelism.
                n_part = self._n_parts(2 * n_pending)
                pending = new_pending.coalesce(
                    n_part
                ).localCheckpoint()
                old.unpersist()

            seen.unpersist()
            if self.store:
                self._maybe_compact_seen(r)
                # re-read from snapshots: flat parquet scans instead of
                # an ever-growing union plan (lineage truncation)
                seen = self.store.table("seen").read_until(spark).select(
                    "seen_key", "key_hash", "first_round"
                ).persist()
            else:
                # seen is cumulative: a full localCheckpoint per round
                # would rewrite the whole set (O(total) each round);
                # checkpoint on a cadence, accumulate flat unions of
                # already-truncated deltas in between
                if r % 8 == 7:
                    # same partition-snowball guard as the frontier.
                    # NOT sized down to the tracked row count: a
                    # single-task coalesce(1) over the many-delta seen
                    # union measured 7-9 s of BLOCKED (not computing —
                    # ~120 ms CPU) time in the one task, reproducibly;
                    # the cadenced checkpoint is once per 8 rounds, so
                    # defaultParallelism tasks are cheap and sidestep
                    # whatever serial block-read wait that was.
                    seen = new_seen.coalesce(
                        spark.sparkContext.defaultParallelism
                    ).localCheckpoint()
                else:
                    seen = new_seen.persist()
            if parked is not None and r % 4 == 3:
                # truncate the parked union chain on a cadence: each
                # delta already descends from the checkpointed
                # ``admitted``, so between truncations the plan is a
                # flat union of materialized scans — a per-round
                # full rewrite (O(total parked) driver job) is waste
                parked = parked.localCheckpoint()

            stats.fetched += n_fetched
            n_admitted = n_targets = 0
            if self.collect_metrics:
                route_counts = {
                    row["route"]: row["n"]
                    for row in admitted.groupBy("route")
                    .agg(F.count("*").alias("n"))
                    .collect()
                }
                n_admitted = sum(route_counts.values())
                n_targets = route_counts.get("target", 0)
            stats.admitted += n_admitted

            if self.collect_metrics:
                row = {
                    "round": r,
                    "depth": int(d),
                    "fetched": int(n_fetched),
                    "admitted": int(n_admitted),
                    "targets": int(n_targets) + int(n_targets_attr),
                    "selected": int(n_fetched),
                    "pending": int(n_pending),
                    "wave": int(n_wave),
                    "resolver_mode": mode_r,
                }
                if n_bloom_new is not None:
                    # exact-join probe volume saved by the bloom layer
                    row["bloom_definitely_new"] = int(n_bloom_new)
                    row["bloom_maybe"] = int(n_bloom_maybe)
                stats.per_round.append(row)
                if self.store:
                    # explicit field list: `row` may carry extra
                    # diagnostic keys (bloom counters) beyond the
                    # stored metric schema
                    self.store.table("metrics").append(
                        spark.createDataFrame(
                            [(
                                row["round"], row["depth"],
                                row["fetched"], row["admitted"],
                                row["targets"], row["selected"],
                            )],
                            "round int, depth int, fetched long,"
                            " admitted long, targets long, selected long",
                        ),
                        r, collect_lineage=False,
                    )
            stats.targets += int(n_targets) + int(n_targets_attr)

            # full-state snapshots for exact resume
            if self.store:
                self.store.table("hosts_state").append(
                    hosts, r + 1, collect_lineage=False
                )
                if jail is not None:
                    self.store.table("jail_state").append(
                        jail, r + 1, collect_lineage=False
                    )
                self.store.table("parked_state").append(
                    parked
                    if parked is not None
                    else spark.createDataFrame([], FRONTIER_SCHEMA),
                    r + 1, collect_lineage=False,
                )

            # fetched is localCheckpointed — its blocks free via the
            # ContextCleaner when the reference drops next round (the
            # same lifecycle the other checkpointed frames use)
            if self.budget:
                selected.unpersist()
            admitted.unpersist()
            r += 1
            stats.rounds = r

        stats.seen = seen.count()
        stats.wall_s = time.time() - t0
        self._final_seen = seen
        self._final_pending = pending
        self._finish_session(stats, r)
        return stats

    # -- session lifecycle (mn-slaved analog) ---------------------------

    def _session_row(self, state: str, stats: CrawlStats, r: int):
        import uuid

        if self._session_id is None:
            self._session_id = uuid.uuid4().hex[:12]
        return (
            self._session_id, state, int(r), int(stats.fetched),
            int(stats.seen),
        )

    def _append_session(self, state: str, stats: CrawlStats, r: int):
        if not self.store:
            return
        self.store.table("sessions").append(
            self.spark.createDataFrame(
                [self._session_row(state, stats, r)],
                "session_id string, state string, rounds int,"
                " fetched long, seen long",
            ),
            r, collect_lineage=False,
        )

    def _finish_session(self, stats: CrawlStats, r: int) -> None:
        """Session completion: state 'running' -> 'hook' -> 'done'
        around the session-complete hook, exactly the nol_session
        transition the slave performs (client.c:470-486)."""
        info = {
            "session_id": self._session_id or "",
            "rounds": stats.rounds,
            "fetched": stats.fetched,
            "seen": stats.seen,
            "targets": stats.targets,
        }
        if self.hooks is not None and self.hooks.has(
            "session-complete"
        ):
            self._append_session("hook", stats, r)
            info["session_id"] = self._session_id or ""
            self.hooks.invoke("session-complete", info)
        self._append_session("done", stats, r)

    def close(self) -> None:
        """Engine shutdown: the slave's exit path runs the cleanup
        hook (main.c:230 nol_s_hook_invoke(HOOK_CLEANUP))."""
        if self.hooks is not None:
            self.hooks.invoke("cleanup", {
                "session_id": self._session_id or "",
            })


def _head_mapper(head_classify):
    """mapInPandas wrapper applying the mime classifier and restoring
    the CANDIDATE_SCHEMA column set/order."""
    import pandas as pd

    cols = [f.name for f in CANDIDATE_SCHEMA.fields]

    def fn(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            res = head_classify(
                pdf[["content_type", "external", "crawler", "peek",
                     "depth"]]
            )
            pdf = pdf.drop(columns=["content_type"])
            pdf["filetype"] = res["filetype"].values
            pdf["ft_rank"] = res["ft_rank"].values
            pdf["route"] = res["route"].values
            pdf["peek"] = res["peek"].values
            pdf["depth"] = res["depth"].values
            yield pdf[cols]

    return fn
