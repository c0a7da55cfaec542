"""The Spark crawl engine: BSP round loop over DataFrames.

One crawl round is one declarative DataFrame job (SURVEY.md §3.1
mapping of the reference's worker loop, worker.c:214-407):

  frontier(depth=d) --politeness window--> selected
     --robots/jail gates--> --join docs ("fetch")--> fetched
     --mapInPandas parse+canonicalize+classify--> candidates
     --in-batch dedup window--> --anti-join seen--> admitted
     --route--> targets | frontier(depth+1, or NULL: parked external)
  appends: frontier', seen+delta, targets, crawl_log, metrics, hosts

Parked external hosts wait in the frontier with depth NULL until no
row with a depth is left; that round adopts them at depth 0
(split_wave, adopt_parked).

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
from ..operators.seen import BloomSeenFilter, key_hash
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

# key_hash is Spark's xxhash64(seen_key) (operators/seen.py key_hash)
SEEN_SCHEMA = T.StructType(
    [
        T.StructField("seen_key", T.StringType()),
        T.StructField("key_hash", T.LongType()),
        T.StructField("first_round", T.IntegerType()),
    ]
)

# per-host state: robots rules (robots on) and jail prefix (jail on)
HOSTS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("rules", ROBOTS_RULES_TYPE),
        T.StructField("jail_prefix", T.StringType()),
    ]
)
# writefile naming state: cumulative per-basename download counts
NAMES_SCHEMA = "base string, cnt long"
METRICS_SCHEMA = T.StructType(
    [T.StructField(c, T.IntegerType()) for c in ("round", "depth")]
    + [T.StructField(c, T.LongType())
       for c in ("fetched", "admitted", "targets", "selected")]
)
TARGETS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("filetype", T.StringType()),
        T.StructField("round", T.IntegerType()),
    ]
)
SESSIONS_SCHEMA = T.StructType(
    [
        T.StructField("session_id", T.StringType()),
        T.StructField("state", T.StringType()),
        T.StructField("rounds", T.IntegerType()),
        T.StructField("fetched", T.LongType()),
        T.StructField("seen", T.LongType()),
    ]
)

_SORT_COLS = ["ft_rank", "parent_round", "parent_ord", "sibling_ix"]


def _seen_rows(df: DataFrame, first_round: int) -> DataFrame:
    """Seen-set rows (SEEN_SCHEMA) for the keys of ``df``."""
    return df.select(
        "seen_key",
        F.xxhash64("seen_key").alias("key_hash"),
        F.lit(first_round).alias("first_round"),
    )


def _counted(df: DataFrame, name: str) -> Tuple[DataFrame, Observation]:
    """``df`` with an Observation of its row count ``n``, which the
    first action on the returned frame fills — counting adds no job."""
    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def _span_body() -> "F.Column":
    """A document's body: the concatenated text of its text spans."""
    return F.expr(
        "concat_ws('', transform(filter(spans,"
        " s -> s.kind = 'text'), s -> coalesce(s.text, '')))"
    )


def _dir_region() -> "F.Column":
    """The lower-cased directory part of ``url`` (the jail scope)."""
    return F.expr(
        "lower(substring(url, host_o + host_l + 1,"
        " greatest(file_o - host_o - host_l, 0)))"
    )


def _not_redirect() -> "F.Column":
    """A fetched row with a body that is not a 3xx redirect."""
    return F.col("spans").isNotNull() & ~(
        (F.col("status") >= 300) & (F.col("status") < 400)
        & F.col("location").isNotNull()
    )


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


def adopt_parked(parked: DataFrame) -> DataFrame:
    """Q6 pending-host adoption: when no frontier row with a depth is
    left, the parked EXTERNAL rows (depth NULL) re-enter as a fresh
    wave at depth 0 with the peek flag cleared (the reference's
    pending-host hand-off: ue_push_pending/ue_pop_pending,
    urlengine.c:567,624, popped by an idle worker at worker.c:257,375
    — a host parked by an EXTERNAL crawler is adopted as a new crawl
    root, not resumed at its link depth)."""
    return parked.withColumn("depth", F.lit(0)).withColumn(
        "peek", F.lit(False)
    )


def split_wave(
    pending: DataFrame,
    depth_counts: Optional[Dict[int, int]] = None,
) -> Tuple[int, int, int, DataFrame, DataFrame]:
    """Q1 ue_next round selection: one driver agg (per-depth counts,
    a handful of rows), then the BSP wave is the min-depth slice of
    the frontier (ue.c's depth-ordered next_url analog). A caller that
    already knows the counts passes them as ``depth_counts`` ({depth:
    rows}; the seed frontier is all depth 0) and no job runs. Returns
    (n_pending, depth, n_wave, elig, rest) — n_pending counts the
    whole frontier (loop-termination signal), n_wave counts only the
    slice that actually feeds this round (the auto resolver gate reads
    it; the total would overcount multi-depth backlogs).

    Parked external hosts are frontier rows with depth NULL: they wait
    in ``rest`` until no row with a depth is left, then they are the
    wave, adopted at depth 0 (``adopt_parked``) in the round that
    fetches them."""
    if depth_counts is None:
        rows = pending.groupBy("depth").agg(
            F.count("*").alias("n")
        ).collect()
        depth_counts = {r["depth"]: r["n"] for r in rows}
    n_pending = sum(depth_counts.values())
    if not n_pending:
        return 0, -1, 0, pending.limit(0), pending.limit(0)
    depths = [k for k, n in depth_counts.items() if n and k is not None]
    if not depths:
        return (
            n_pending, 0, n_pending, adopt_parked(pending),
            pending.limit(0),
        )
    d = min(depths)
    return (
        n_pending,
        d,
        depth_counts[d],
        pending.filter(F.col("depth") == d),
        # eqNullSafe: a plain != would drop the parked (NULL) rows
        pending.filter(~F.col("depth").eqNullSafe(d)),
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
    # scale-adaptive physical-plan gates. A localCheckpointed frame
    # keeps its source plan's size estimate, which is useless for
    # state built by joins or createDataFrame (a 46-row hosts state
    # estimates 0.5-1.25 GB, round 0's seen set 1e19 B), so the
    # planner sort-merge-joins even a 200-row hosts table — both
    # sides exchanged+sorted every round. The driver tracks exact row
    # counts instead, observed on jobs that already run (or read from
    # the snapshot manifests), and hints broadcast while the state is
    # below `broadcast_state_max` rows; past it — the 100 TB regime —
    # the plan falls back to the exchange path automatically.
    # Checkpoint partition counts derive from tracked row counts
    # (~checkpoint_rows_per_part rows each, capped at
    # defaultParallelism) instead of a flat defaultParallelism: a
    # 3k-row local frontier stops costing 32 near-empty tasks per
    # round while a 10^9-row frontier keeps full parallelism.
    broadcast_state_max = 1_000_000
    checkpoint_rows_per_part = 100_000
    # resolver_mode="auto" runs the JVM extract+admit path for waves of
    # at least this many rows (the measured crossover, see __init__)
    auto_jvm_threshold = 1_500_000

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
        bloom_expected_keys: Optional[int] = None,
        serial_transfers: bool = False,
        fetcher=None,
        resolver_mode: str = "auto",
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
        # the round counts are always observed on the fetch/admit
        # checkpoints (CrawlStats totals are exact either way); this
        # only decides whether per-round rows go to
        # CrawlStats.per_round and the `metrics` table
        self.collect_metrics = collect_metrics
        self.log_spans = log_spans
        self.max_rounds = max_rounds
        self.robots_enabled = any(c.robotstxt for c in config.crawlers)
        self.jail_crawlers = [c.name for c in config.crawlers if c.jail]
        # P11 attribute emission: filetypes that declare attributes go
        # through the attribute extractor (udfs.make_attr_extractor)
        self.attr_fts = [f.name for f in self.idx.ft_list if f.attributes]
        # static plan pruning: HEAD (POSSIBLE_MATCH) rows can only
        # exist when some crawler has a "lookup" binding — otherwise
        # the whole content-type resolution stage is dropped
        self.any_lookup = any(
            b == "lookup"
            for c in config.crawlers
            for b in (c.dynamic_url, c.extless_url, c.dir_url,
                      c.unknown_url)
        )
        # per-row depth budget: peek rows use their crawler's
        # peek_limit, regular rows its depth_limit (0 = unlimited);
        # over-limit rows stay in the seen set but never fetch
        self.depth_ok = F.lit(False)
        for cr in config.crawlers:
            nonpeek_ok = F.lit(cr.depth_limit == 0) | (
                F.col("depth") < cr.depth_limit
            )
            self.depth_ok = self.depth_ok | (
                (F.col("crawler") == cr.name)
                & F.when(
                    F.col("peek"), F.col("depth") < cr.peek_limit
                ).otherwise(nonpeek_ok)
            )
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
        self.store = SnapshotStore(state_dir) if state_dir else None
        # session lifecycle hooks (mn-slaved analog, plans/hooks.py):
        # session-complete runs between the 'hook' and 'done' session
        # states; cleanup runs from close()
        self.hooks = hooks
        self._session_id: Optional[str] = None
        # bloom sizing: frontier-derived when the caller states an
        # expected key count (operators/seen.py sized_for — ~9.6
        # bits/key at 1% FP), else BloomSeenFilter's default bitmap
        if bloom_buckets and bloom_expected_keys:
            self.bloom = BloomSeenFilter.sized_for(
                spark, bloom_expected_keys, n_buckets=bloom_buckets
            )
        elif bloom_buckets:
            self.bloom = BloomSeenFilter(spark, n_buckets=bloom_buckets)
        else:
            self.bloom = None

        # the docs table is the synthetic web; only the columns a
        # round needs are projected (column pruning reaches the scan).
        # The fetch join runs EVERY round against this table — laying
        # it out hash-partitioned + sorted by the join key ONCE (state
        # setup, like the robots bootstrap below) removes the
        # docs-side Exchange+Sort from every round's sort-merge fetch
        # join: only the (small) wave side shuffles into the docs
        # layout.
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
            # localCheckpoint (not persist): the checkpointed frame's
            # plan IS the materialized blocks, so every later join
            # reads them directly — cache-fragment substitution does
            # not reliably kick in under a join for python-UDF
            # lineage, and the parse must never re-run in-round. Its
            # size (the broadcast gate) is observed on that job
            robots_cache, obs = _counted(
                self.docs.filter(F.col("doc_id").endswith("/robots.txt"))
                .select(
                    F.col("doc_id").alias("robots_url"),
                    robots_parse(_span_body()).alias("rules"),
                ),
                "robots",
            )
            self.robots_cache = robots_cache.localCheckpoint()
            self._n_robots = obs.get["n"]
        else:
            self._n_robots = 0

        self._n_hosts: Optional[int] = None
        # exact seen-set size, set by each entry point and kept
        # current with the admitted counts: it gates the broadcast
        # anti-join and is CrawlStats.seen
        self._n_seen = 0

    # -- seed admission (driver-side; seeds are tiny) -------------------

    def _admit_seeds(self, seeds: List[str]) -> Tuple[list, list, list]:
        """(frontier rows, seen rows, target rows) of the seeds: row
        tuples of FRONTIER_SCHEMA, SEEN_SCHEMA and TARGETS_SCHEMA, all
        built on the driver (the seen keys hashed by key_hash)."""
        seed_seen: set = set()

        def tryadd(k: str) -> bool:
            if k in seed_seen:
                return False
            seed_seen.add(k)
            return True

        # content types for HEAD-classified seeds via one tiny lookup;
        # only a "lookup" binding classifies a seed HEAD
        ct_rows = (
            self.docs_ct.filter(F.col("doc_id").isin(seeds)).collect()
            if seeds and self.any_lookup
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
                targets.append((adm.parsed.url, adm.filetype, 0))
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
        self._n_seen = len(seed_seen)
        # every admitted seed key is seen, routed to the frontier or not
        seen = [(k, key_hash(k), 0) for k in sorted(seed_seen)]
        return rows, seen, targets

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

    # -- seen anti-join ----------------------------------------------------

    def _read_seen(self) -> DataFrame:
        """The full seen set from its snapshots (store mode)."""
        return self.store.table("seen").read_until(self.spark).select(
            *SEEN_SCHEMA.names
        )

    def _anti_seen(self, cand: DataFrame, seen: DataFrame) -> DataFrame:
        """Remove already-seen keys from ``cand``: one anti-join,
        broadcast (no exchange on either side) while the exact seen
        size is small."""
        return cand.join(
            self._maybe_broadcast(seen.select("seen_key"), self._n_seen),
            "seen_key", "left_anti",
        )

    # -- entry points -----------------------------------------------------

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
        rows, seen, seed_targets = self._admit_seeds(seeds)
        if self.store:
            # snapshot 0 — the resume baseline; the seed rows are on
            # the driver, which writes them with no job
            self.store.table("seen").append(seen, 0, schema=SEEN_SCHEMA)
            self.store.table("frontier").append(
                rows, 0, schema=FRONTIER_SCHEMA
            )
            if seed_targets:
                self.store.table("targets").append(
                    seed_targets, 0, schema=TARGETS_SCHEMA
                )
        if self.bloom is not None:
            self.bloom.reset(h for _, h, _ in seen)
        return self._loop(
            self.spark.createDataFrame(rows, FRONTIER_SCHEMA),
            self.spark.createDataFrame(seen, SEEN_SCHEMA),
            0, CrawlStats(targets=len(seed_targets)),
            # the seed frontier is all depth 0: no count job
            wave_counts={0: len(rows)},
        )

    def resume(self) -> CrawlStats:
        """Continue a crawl exactly from the latest snapshots (north
        rule: resumable from any checkpoint with per-file lineage —
        see SnapshotTable manifests)."""
        if self.store is None:
            raise ValueError("resume requires state_dir")
        spark = self.spark
        ft = self.store.table("frontier")
        r0 = ft.latest_round()
        if r0 is None:
            raise ValueError("no frontier snapshot to resume from")
        # the seen size from the manifest's Parquet-footer row counts
        self._n_seen = sum(
            s["rows"] for s in self.store.table("seen").snapshots()
        )
        seen = self._read_seen()
        if self.bloom is not None:
            # the bitmaps are the OR of every seen key's bits: rebuild
            # them from the seen set rather than snapshot them per round
            # (built at the first probe; a resume that runs no round
            # builds none)
            self.bloom.reset()
            self.bloom.update(seen.select("key_hash"))
        return self._loop(
            ft.read_round(spark, r0), seen, r0, CrawlStats(), restore=True
        )

    def run_frontier(
        self,
        pending: DataFrame,
        seen: Optional[DataFrame] = None,
    ) -> CrawlStats:
        """Run the loop over a caller-provided frontier (FRONTIER_SCHEMA
        rows) and optional pre-existing seen set — the steady-state
        bench entry (one or few mega-rounds over a large frontier)."""
        if seen is None:
            seen = _seen_rows(pending, 0)
        self._n_seen = seen.count()
        if self.bloom is not None:
            # seed the filter with the initial seen keys — run() does
            # this for seed crawls; without it every frontier key
            # bypasses the exact anti-join as "definitely new" and the
            # seen set inflates (a bench_scaling --bloom run's seen
            # total shows it)
            self.bloom.reset()
            self.bloom.update(seen.select("key_hash"))
        return self._loop(pending, seen, 0, CrawlStats())

    # -- the round loop ---------------------------------------------------

    def _loop(
        self,
        pending: DataFrame,
        seen: DataFrame,
        start_round: int,
        stats: CrawlStats,
        restore: bool = False,
        wave_counts: Optional[Dict[int, int]] = None,
    ) -> CrawlStats:
        """The BSP round loop (worker.c:214-407): each round runs the
        phase methods below in order. They build frames and issue
        store appends; every Spark action of a round is issued here,
        except the bloom merge inside ``BloomSeenFilter.split``.
        ``wave_counts`` are the first frontier's per-depth counts when
        the caller knows them (``split_wave``).
        The round's two checkpoints are ``fetched`` and ``admitted``;
        its counts ride on them as observed metrics (worker.c:913-917
        counts as it goes), so counting costs no job."""
        spark = self.spark
        t0 = time.time()
        self._append_session("running", stats, start_round)
        stages = self._round_stages()
        pending, seen = pending.persist(), seen.persist()
        hosts, names = self._initial_state(restore)
        if names is not None:
            names = names.localCheckpoint()

        r = start_round
        while r < self.max_rounds:
            n_pending, d, n_wave, elig, rest = split_wave(
                pending, wave_counts
            )
            wave_counts = None
            if n_pending == 0:
                break
            mode = self._round_mode(n_wave)
            selected, deferred = self._select(elig)
            # new hosts only enter at depth 0 (worker.c:269-287); the
            # state's size, observed on its checkpoint, feeds the gate's
            # broadcast
            if hosts is not None and d == 0:
                hosts, obs_h = _counted(
                    self._update_hosts(hosts, selected), f"hosts_r{r}"
                )
                hosts = hosts.localCheckpoint()
                self._n_hosts = obs_h.get["n"]

            fetched, obs_f = _counted(
                self._fetch_plan(self._gate(selected, hosts), r),
                f"fetch_r{r}",
            )
            fetched = fetched.localCheckpoint()
            n_fetched = obs_f.get["n"]
            parse_input, names = self._parse_input(fetched, names, r)
            if names is not None:
                names = names.localCheckpoint()
            attr_targets, n_attr = self._attr_targets(parse_input, r)
            if attr_targets is not None:
                n_attr = attr_targets.count()

            plan, obs_a, obs_bloom, caches = self._admit_plan(
                parse_input, seen, mode, r, stages
            )
            admitted = plan.localCheckpoint()
            for c in caches:
                c.unpersist()
            n_admitted, n_targets = obs_a.get["n"], obs_a.get["targets"]
            self._n_seen += n_admitted

            new_pending, new_seen = self._route(
                admitted, n_admitted, n_targets, seen, deferred, rest, r
            )
            old_pending = pending
            seen.unpersist()
            if self.store:
                # re-read from snapshots: flat parquet scans instead of
                # an ever-growing union plan (lineage truncation)
                pending = self.store.table("frontier").read_round(
                    spark, r + 1
                ).persist()
                seen = self._read_seen().persist()
            else:
                # coalesce before the checkpoint: the 3-way union
                # inherits the sum of its parents' partitions, which
                # compounds +O(shuffle.partitions) per round (measured:
                # a 36k-task stage on an 81-round politeness crawl).
                # coalesce is a narrow dep; the target derives from
                # the known frontier size (2x headroom for this
                # round's growth), so a few-thousand-row frontier
                # checkpoints as ONE task
                pending = new_pending.coalesce(
                    self._n_parts(2 * n_pending)
                ).localCheckpoint()
                # seen is cumulative: a full checkpoint per round would
                # rewrite the whole set, so checkpoint on a cadence and
                # accumulate flat unions of truncated deltas between.
                # NOT sized down to the tracked row count: a one-task
                # coalesce(1) over the many-delta union measured 7-9 s
                # of blocked (not computing) time, reproducibly
                seen = (
                    new_seen.coalesce(
                        spark.sparkContext.defaultParallelism
                    ).localCheckpoint()
                    if r % 8 == 7
                    else new_seen.persist()
                )
            old_pending.unpersist()

            stats.fetched += n_fetched
            stats.admitted += n_admitted
            stats.targets += n_targets + n_attr
            if self.collect_metrics:
                row = {
                    "round": r, "depth": int(d), "fetched": n_fetched,
                    "admitted": n_admitted, "targets": n_targets + n_attr,
                    "selected": n_fetched, "pending": n_pending,
                    "wave": n_wave, "resolver_mode": mode,
                }
                if obs_bloom:
                    # exact-join probe volume saved by the bloom layer
                    row["bloom_definitely_new"] = obs_bloom[0].get["n"]
                    row["bloom_maybe"] = obs_bloom[1].get["n"]
                self._record_round(stats, row)
            self._snapshot_state(r, d, hosts, names)
            # fetched is localCheckpointed — its blocks free via the
            # ContextCleaner when the reference drops next round
            if self.budget:
                selected.unpersist()
            admitted.unpersist()
            r += 1
            stats.rounds = r

        stats.seen = self._n_seen
        stats.wall_s = time.time() - t0
        self._final_seen = seen
        self._finish_session(stats, r)
        return stats

    # -- round phases, in loop order --------------------------------------

    def _round_stages(self) -> tuple:
        """(resolver, admitter, head classifier) for the crawl's rounds.
        make_link_resolver_scalar is imported per call, not at module
        level, so a wrapper set on the udfs module (perfbench's tracer)
        is the one that runs. jvm rounds feed it guard-failing
        documents only, scalar rounds whole documents."""
        from ..functions.udfs import make_link_resolver_scalar

        return (
            make_link_resolver_scalar(self.config, self.crawler_name),
            make_link_admitter(self.config, self.crawler_name),
            make_head_classifier(self.config, self.crawler_name),
        )

    def _initial_state(self, restore: bool):
        """The full-state tables entering the loop, (hosts, names):
        the latest snapshots when ``restore`` (resume), else empty.
        hosts is None unless robots or jail is on, names unless some
        filetype binds writefile (they keep exact dedup numbering on
        resume). The hosts size is the manifest's Parquet-footer row
        count. Parked external hosts need no restore: they are rows of
        the frontier snapshot ``resume`` reads."""

        def latest(table: str, schema):
            """(latest snapshot, else an empty ``schema`` frame, its
            row count)."""
            t = self.store.table(table) if restore else None
            snaps = t.snapshots() if t else []
            if snaps:
                return t.read_latest(self.spark), snaps[-1]["rows"]
            return self.spark.createDataFrame([], schema), 0

        hosts = names = None
        if self.robots_enabled or self.jail_crawlers:
            hosts, self._n_hosts = latest("hosts_state", HOSTS_SCHEMA)
            hosts = hosts.persist()
        if self.writefile_fts:
            names, _ = latest("names_state", NAMES_SCHEMA)
        return hosts, names

    def _round_mode(self, n_wave: int) -> str:
        """Effective resolver mode of a round: "auto" gates the JVM
        extract+admit path on the size of THIS round's wave (the
        min-depth slice — not the whole frontier, which overcounts
        multi-depth backlogs; see __init__ for the measured ~1.5M-row
        breakeven)."""
        if self.resolver_mode != "auto":
            return self.resolver_mode
        return "jvm" if n_wave >= self.auto_jvm_threshold else "scalar"

    def _select(self, elig: DataFrame) -> Tuple[DataFrame, DataFrame]:
        """(selected, deferred): the wave rows fetched this round and
        the rest, which keep their sort key. Serial mode fetches one
        row per round in global order; otherwise the per-host
        politeness budget applies."""
        if self.serial:
            ranked = elig.withColumn(
                "rn", F.row_number().over(Window.orderBy(*_SORT_COLS))
            )
            selected = ranked.filter(F.col("rn") == 1).drop("rn")
            deferred = ranked.filter(F.col("rn") > 1).drop("rn")
        else:
            selected, deferred = politeness_split(
                elig, self.budget, self.salt_k
            )
        if self.budget:
            # the politeness window reshuffles — cache it for the
            # hosts-update + fetch consumers. With no budget, selected
            # IS the (already cached) wave — an extra persist would
            # copy the whole frontier per round
            selected = selected.persist()
        return selected, deferred

    def _update_hosts(
        self, hosts: DataFrame, selected: DataFrame
    ) -> DataFrame:
        """The per-host state after the hosts entering at depth 0
        (worker.c:269-287 fetches a new host's robots.txt and captures
        its jail URL in one block). Per arriving host: its robots rules
        when robots is on (fetched even when the crawler ignores robots
        — preserved; the robots URL uses the www-stripped host
        identity, worker.c:1002-1004), and the directory region of its
        first jailing URL in crawl order as the jail prefix. A known
        host keeps its rules and prefix; it gains a prefix the first
        time a jailing crawler enters it."""
        arrivals = (
            selected.filter(F.col("depth") == 0)
            .groupBy("host")
            .agg(
                F.min_by(
                    _dir_region(),
                    F.when(
                        F.col("crawler").isin(self.jail_crawlers),
                        F.struct(*_SORT_COLS),
                    ),
                ).alias("jail_prefix")
            )
        )
        if self.robots_enabled:
            arrivals = arrivals.join(
                self._maybe_broadcast(self.robots_cache, self._n_robots),
                F.concat(F.lit("http://"), F.col("host"), F.lit("/robots.txt"))
                == F.col("robots_url"),
                "left",
            )
        else:
            arrivals = arrivals.withColumn(
                "rules", F.lit(None).cast(ROBOTS_RULES_TYPE)
            )
        old, new = hosts.alias("old"), arrivals.alias("new")
        return old.join(new, "host", "full_outer").select(
            "host",
            *(
                F.coalesce(f"old.{c}", f"new.{c}").alias(c)
                for c in ("rules", "jail_prefix")
            ),
        )

    def _gate(
        self, selected: DataFrame, hosts: Optional[DataFrame]
    ) -> DataFrame:
        """The jail and robots gates over the selected rows: one join
        with the per-host state, then each gate's filter."""
        if hosts is None:
            return selected
        gated = selected.join(
            self._maybe_broadcast(hosts, self._n_hosts), "host", "left"
        )
        if self.jail_crawlers:
            gated = gated.filter(
                ~F.col("crawler").isin(self.jail_crawlers)
                | (F.col("depth") == 0)
                | F.col("jail_prefix").isNull()
                | _dir_region().startswith(F.col("jail_prefix"))
            )
        if self.robots_enabled:
            # first path-prefix match wins, default allow
            # (filter.c:34-54) — a pure JVM higher-order expression,
            # no Python in the gate (NULL/empty rules coalesce to
            # allow, matching parse_robots of an absent body)
            gated = gated.filter(robots_gate_expr())
        return gated.drop("rules", "jail_prefix")

    def _fetch_plan(self, gated: DataFrame, r: int) -> DataFrame:
        """Fetch ids in deterministic order, then the "fetch": the docs
        join — or, with a fetcher installed (sources/fetch_http.py),
        the mapInPandas batch-HTTP stage producing the same docs shape.

        _loop materializes the result with localCheckpoint: the
        MEASURED winner even for single-consumer rounds (8-core
        mega-round A/B: 151 s cached vs 200 s uncached), and rather
        than persist because every downstream exec otherwise re-embeds
        and re-optimizes the full fetch-join logical plan (~95 KB of
        plan text per exec, the dominant driver cost of a small
        round)."""
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
            ordered = gated.withColumn("fetch_ord", F.xxhash64("url"))
        ordered = ordered.withColumn("fetch_round", F.lit(r))
        docs_side = (
            self.fetcher(ordered) if self.fetcher is not None
            else self.docs
        )
        return ordered.join(
            docs_side, ordered.url == docs_side.doc_id, "left"
        ).drop("doc_id")

    def _parse_input(
        self, fetched: DataFrame, names: Optional[DataFrame], r: int
    ) -> Tuple[DataFrame, Optional[DataFrame]]:
        """Append the crawl log (S11); run the S9 writefile sink, whose
        parse-buffer swap makes the parse input. Returns (parse_input,
        next names state plan)."""
        if self.store:
            log_cols = [
                F.lit(r).alias("round"), "fetch_ord", "url",
                "filetype", "depth", "host",
                F.coalesce(F.col("status"), F.lit(404)).alias("status"),
            ]
            if self.log_spans:
                log_cols.append("spans")
            self.store.table("crawl_log").append(fetched.select(*log_cols), r)
        if not self.writefile_fts:
            return fetched, names
        return self._writefile_stage(fetched, names, r)

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

        Returns (parse_input, new_names_state plan).
        """
        wf = fetched.filter(
            F.col("filetype").isin(self.writefile_fts) & _not_redirect()
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
        wfb = wf.select(
            "url", "filetype", *_SORT_COLS,
            stem.alias("stem"), ext.alias("ext"),
            _span_body().alias("body"),
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
                round_no,
            )

        new_counts = wfb.groupBy("base").agg(
            F.count("*").alias("add")
        )
        names = names.join(new_counts, "base", "full_outer").select(
            "base",
            (F.coalesce(F.col("cnt"), F.lit(0))
             + F.coalesce(F.col("add"), F.lit(0))).alias("cnt"),
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

    def _attr_targets(
        self, parse_input: DataFrame, r: int
    ) -> Tuple[Optional[DataFrame], int]:
        """Attribute targets (P11): the attribute extractor's (url,
        filetype, attributes map) rows for the fetched documents of
        filetypes that declare attributes — attrs-kind parser stages
        (js.c set_attribute analog) and the builtin html parser's
        whole-body 'html' attribute (html.c:179-183) alike.
        In store mode they are appended and the manifest entry's
        footer row count counts them: returns (None, rows). Otherwise
        returns (frame, 0) for _loop to count
        (the reference counts m.targets unconditionally,
        worker.c:913-917). (None, 0) when no filetype has attributes."""
        if not self.attr_fts:
            return None, 0
        out = (
            parse_input.filter(
                F.col("filetype").isin(self.attr_fts) & _not_redirect()
            )
            .select("url", "filetype", "spans")
            .mapInPandas(
                make_attr_extractor(self.config), ATTR_TARGET_SCHEMA
            )
            .withColumn("round", F.lit(r))
        )
        if not self.store:
            return out, 0
        return None, self.store.table("attr_targets").append(out, r)["rows"]

    def _admit_plan(
        self,
        parse_input: DataFrame,
        seen: DataFrame,
        mode: str,
        r: int,
        stages: tuple,
    ) -> Tuple[DataFrame, Observation, List[Observation], list]:
        """Parse + canonicalize + classify, in-batch dedup, the global
        dedup (bloom prefilter + exact anti-join) and HEAD resolution.

        Returns (admitted plan, its Observation of ``n`` rows and
        ``targets`` rows, the [definitely_new, maybe] bloom-half
        Observations or [], caches to free once admitted is
        materialized)."""
        resolver, admitter, head_classify = stages
        caches: list = []
        candidates = build_candidates(
            parse_input, self.config, resolver, admitter,
            mode, self.crawler_name, caches,
        )

        # in-batch dedup: first admission in fetch order wins
        wd = Window.partitionBy("seen_key").orderBy(
            "parent_ord", "sibling_ix"
        )
        candidates = (
            candidates.withColumn("rn", F.row_number().over(wd))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

        # global dedup: bloom prefilter + exact anti-join. The bloom
        # metric is the anti-join input reduction: both halves are
        # observed where the admitted checkpoint computes them
        obs_bloom: List[Observation] = []
        if self.bloom is not None:
            definitely_new, maybe = self.bloom.split(
                candidates.withColumn("key_hash", F.xxhash64("seen_key"))
            )
            definitely_new, obs_new = _counted(
                definitely_new, f"bloom_new_r{r}"
            )
            maybe, obs_maybe = _counted(maybe, f"bloom_maybe_r{r}")
            obs_bloom = [obs_new, obs_maybe]
            admitted = definitely_new.unionByName(
                self._anti_seen(maybe, seen)
            ).drop("key_hash")
        else:
            admitted = self._anti_seen(candidates, seen)

        # HEAD resolution (F3): content-type join for POSSIBLE_MATCH
        # (statically pruned when no crawler has a "lookup" binding
        # — then needs_head is always false)
        if self.any_lookup:
            resolved_head = (
                admitted.filter(F.col("needs_head"))
                .join(
                    self.docs_ct, F.col("url") == F.col("doc_id"), "left"
                )
                .drop("doc_id")
                .mapInPandas(head_classify, CANDIDATE_SCHEMA)
            )
            admitted = admitted.filter(~F.col("needs_head")).unionByName(
                resolved_head
            )
        obs = Observation(f"admit_r{r}")
        admitted = admitted.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("route") == "target").alias("targets"),
        )
        return admitted, obs, obs_bloom, caches

    def _route(
        self,
        admitted: DataFrame,
        n_admitted: int,
        n_targets: int,
        seen: DataFrame,
        deferred: DataFrame,
        rest: DataFrame,
        r: int,
    ) -> Tuple[DataFrame, DataFrame]:
        """Route the materialized ``admitted`` delta of ``n_admitted``
        rows, ``n_targets`` of them targets: the seen delta (and bloom
        update), targets, and the next frontier — depth-budgeted
        frontier rows plus the external ones, parked with depth NULL
        until ``split_wave`` adopts them. Store mode snapshots the seen
        delta and targets when they are non-empty, and the next
        frontier in every round — reading that back is the resume
        point (``resume`` rebuilds the bloom from the seen set).
        Returns (next frontier, next seen)."""
        seen_delta = _seen_rows(admitted, r)
        if n_admitted:
            if self.store:
                self.store.table("seen").append(seen_delta, r)
            if self.bloom is not None:
                self.bloom.update(seen_delta.select("key_hash"))
        if self.store and n_targets:
            self.store.table("targets").append(
                admitted.filter(F.col("route") == "target").select(
                    "url", "filetype", F.lit(r).alias("round")
                ),
                r,
            )

        external = F.col("route") == "external"
        frontier_add = admitted.filter(
            ((F.col("route") == "frontier") & self.depth_ok) | external
        ).withColumn(
            "depth", F.when(~external, F.col("depth"))
        ).select(*FRONTIER_COLS)

        new_pending = deferred.select(*FRONTIER_COLS).unionByName(
            rest.select(*FRONTIER_COLS)
        ).unionByName(frontier_add)
        if self.store:
            self.store.table("frontier").append(new_pending, r + 1)
        return new_pending, seen.unionByName(seen_delta)

    def _record_round(self, stats: CrawlStats, row: dict) -> None:
        """Per-round counts to CrawlStats.per_round and, in store mode,
        the ``metrics`` table (its fixed columns only: ``row`` also
        carries diagnostic keys such as the bloom counters)."""
        stats.per_round.append(row)
        if self.store:
            self.store.table("metrics").append(
                [tuple(row[c] for c in METRICS_SCHEMA.names)],
                row["round"], schema=METRICS_SCHEMA,
            )

    def _snapshot_state(
        self,
        r: int,
        d: int,
        hosts: Optional[DataFrame],
        names: Optional[DataFrame],
    ) -> None:
        """Full-state snapshots for exact resume (store mode), written
        only in rounds that change them: hosts at depth 0 (its one
        update point), names every writefile round. ``_initial_state``
        reads each one's latest snapshot."""
        if not self.store:
            return
        if d == 0 and hosts is not None:
            self.store.table("hosts_state").append(hosts, r + 1)
        if names is not None:
            self.store.table("names_state").append(names, r + 1)

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
            [self._session_row(state, stats, r)], r, schema=SESSIONS_SCHEMA
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
