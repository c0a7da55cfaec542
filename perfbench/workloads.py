"""The benchmark's workloads.

Each workload is a closed loop with one caller: ``setup()`` builds the
inputs and the engine, ``expect()`` computes the reference answer
outside any timing, and ``op()`` runs one timed operation and checks
its outputs after the clock stops. ``op()`` returns a record with the
operation wall, the number of program operations it attempted and how
many of them failed (an exception or a mismatch against the
reference).
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import time
import traceback

import pandas as pd

from methanol_web_crawler_spark import entryqueries
from methanol_web_crawler_spark.config import default_config
from methanol_web_crawler_spark.oracle.crawler import OracleCrawler
from methanol_web_crawler_spark.plans.crawl import SparkCrawler
from methanol_web_crawler_spark.sources import synthweb, synthweb_spark

from . import tables

# bench.py's analytics suite without q10_politeness_window,
# f8_seen_antijoin and q8_priority_topk: those run crawl-loop code
# (politeness_split, BloomSeenFilter), and this workload must stay
# unmoved by crawl-loop changes. Without dedup_components too: its pair
# graph is dedup_ngram_jaccard's, and its ~4 s of label propagation per
# pass does not fit a run beside the warm-up pass
CURATION_QUERIES = [
    "dedup_exact", "dedup_minhash_lsh_pairs", "dedup_simhash",
    "dedup_ngram_jaccard", "ann_brute_topk", "ann_lsh_topk",
    "text_fingerprint", "text_quality", "events_sessionize",
]


def _drop_engine(engine) -> None:
    if engine is not None:
        engine.docs.unpersist()


class CrawlDurable:
    """North-rule crawl settings: politeness budget, strict order,
    bloom seen filter and snapshot store. One op crawls ``rounds``
    rounds from the seeds, then a fresh engine resumes from the store
    and crawls ``resume_rounds`` more (0: it only restores the state)."""

    # n_docs, n_hosts, rounds, resume_rounds
    SIZES = {"default": (5_000, 50, 1, 0), "tiny": (300, 6, 2, 2)}
    BUDGET = 16
    # set-ups per run; the first, in a cold JVM, is the slowest
    SETUPS = 3
    # untimed operations before the timed ones: the first operation in a
    # fresh JVM takes ~1.5x a warm one, and by a share that varies with
    # host load
    WARMUPS = 1

    def __init__(self, spark, seed: int, tmp: str, size: str):
        self.spark, self.seed, self.tmp = spark, seed, tmp
        (self.n_docs, self.n_hosts, self.rounds,
         self.resume_rounds) = self.SIZES[size]
        self.total_rounds = self.rounds + self.resume_rounds
        self.cfg = default_config(robotstxt=True)
        self.wrong_reference = False
        self.docs = self.engine = None
        self.n_state = 0
        self.layer = {}

    def _engine(self, state_dir: str, max_rounds: int) -> SparkCrawler:
        return SparkCrawler(
            self.spark, self.docs, self.cfg,
            politeness_budget=self.BUDGET, salt_k=4, strict_order=True,
            state_dir=state_dir, bloom_buckets=16,
            bloom_expected_keys=self.n_docs, resolver_mode="auto",
            collect_metrics=False, max_rounds=max_rounds,
        )

    def _fresh_engine(self) -> SparkCrawler:
        self.n_state += 1
        return self._engine(os.path.join(self.tmp, f"state-{self.n_state}"),
                            self.rounds)

    def setup(self) -> None:
        """Generate the web, persist its docs, build the first engine."""
        web = synthweb.generate_web(n_docs=self.n_docs,
                                    n_hosts=self.n_hosts, seed=self.seed)
        # one seed per host: the first page laid out for each host
        first = {}
        for d in web.docs:
            if not d.doc_id.endswith("/robots.txt"):
                first.setdefault(d.doc_id.split("/")[2], d.doc_id)
        _drop_engine(self.engine)
        if self.docs is not None:
            self.docs.unpersist()
        self.web, self.seeds = web, list(first.values())
        self.docs = web.to_spark(self.spark).persist()
        self.docs.count()
        self.engine = self._fresh_engine()

    def expect(self) -> tuple:
        res = OracleCrawler(
            self.web.doc_map, self.cfg, politeness_budget=self.BUDGET,
            max_rounds=self.total_rounds,
        ).run(self.seeds)
        self.want_rounds = [[r.url for r in rnd] for rnd in res.rounds]
        self.want_seen = res.seen
        if self.wrong_reference:
            self.want_seen = self.want_seen - {min(self.want_seen)}
        return 0, 0

    def op(self) -> dict:
        first = self.engine or self._fresh_engine()
        self.engine = second = None
        state = first.store.root
        t0 = time.time()
        try:
            run = first.run(self.seeds)
            t1 = time.time()
            second = self._engine(state, self.total_rounds)
            res = second.resume()
            t2 = time.time()
            got = self._logged_rounds(second)
            seen = {r[0] for r in
                    second._final_seen.select("seen_key").collect()}
        except Exception:
            traceback.print_exc()
            _drop_engine(first)
            _drop_engine(second)
            t2 = time.time()
            return {"wall": t2 - t0, "start": t0, "end": t2,
                    "attempted": 2, "failed": 2}
        # per-round fetch sequences: the run's rounds, then the resumed
        # rounds plus the restored seen set
        want = self.want_rounds
        failed = int(got[:self.rounds] != want[:self.rounds])
        failed += int(got[self.rounds:] != want[self.rounds:]
                      or seen != self.want_seen)
        state_bytes = sum(os.path.getsize(os.path.join(d, f))
                          for d, _, fs in os.walk(state) for f in fs)
        self.layer = {"bitmap_bytes": second.bloom.m_bits
                      * second.bloom.n_buckets // 8}
        _drop_engine(first)
        _drop_engine(second)
        shutil.rmtree(state, ignore_errors=True)
        fetched = run.fetched + res.fetched
        return {
            "wall": t2 - t0, "start": t0, "end": t2,
            "attempted": 2, "failed": failed,
            "run_s": t1 - t0, "resume_s": t2 - t1,
            "urls": fetched + res.seen, "fetched": fetched,
            "seen": res.seen,
            "state_bytes_per_url": state_bytes / max(1, res.seen),
        }

    def _logged_rounds(self, engine) -> list:
        log = engine.store.table("crawl_log").read_until(self.spark)
        out = [[] for _ in range(self.total_rounds)]
        for row in log.orderBy("round", "fetch_ord").select(
                "round", "url").collect():
            out[row["round"]].append(row["url"])
        return [urls for urls in out if urls]


class CrawlWide:
    """bench.py's crawl: a ``generate_web_df`` web with one seed per
    host, ``rounds`` rounds with no politeness budget, no ordering, no
    store and no bloom; resolver ``auto``. Not listed in BENCHMARK.json
    (one operation takes longer than a run may); it reproduces bench.py's
    pinned totals at seed 42 and prints a seen-set digest otherwise."""

    # n_docs, n_hosts, rounds
    SIZES = {"default": (200_000, 500, 12), "tiny": (2_000, 20, 3)}
    PINS = {("default", 42): (35_050, 63_518)}
    SETUPS = 3
    # one operation alone takes longer than a listed workload's run
    WARMUPS = 0

    def __init__(self, spark, seed: int, tmp: str, size: str):
        self.spark, self.seed, self.size = spark, seed, size
        self.n_docs, self.n_hosts, self.rounds = self.SIZES[size]
        self.wrong_reference = False
        self.docs = self.engine = None
        self.layer = {}

    def _engine(self) -> SparkCrawler:
        return SparkCrawler(
            self.spark, self.docs, default_config(robotstxt=True),
            politeness_budget=0, strict_order=False, collect_metrics=False,
            max_rounds=self.rounds, resolver_mode="auto",
        )

    def setup(self) -> None:
        _drop_engine(self.engine)
        if self.docs is not None:
            self.docs.unpersist()
        docs, self.seeds = synthweb_spark.generate_web_df(
            self.spark, self.n_docs, self.n_hosts, seed=self.seed,
            partitions=self.spark.sparkContext.defaultParallelism,
            n_seeds=self.n_hosts,
        )
        self.docs = docs.persist()
        self.docs.count()
        self.engine = self._engine()

    def expect(self) -> tuple:
        self.pin = self.PINS.get((self.size, self.seed))
        if self.wrong_reference:
            self.pin = (-1, -1)
        return 0, 0

    def op(self) -> dict:
        engine = self.engine or self._engine()
        self.engine = None
        t0 = time.time()
        try:
            stats = engine.run(self.seeds)
            t1 = time.time()
            keys = sorted(r[0] for r in
                          engine._final_seen.select("seen_key").collect())
        except Exception:
            traceback.print_exc()
            _drop_engine(engine)
            t1 = time.time()
            return {"wall": t1 - t0, "start": t0, "end": t1,
                    "attempted": 1, "failed": 1}
        _drop_engine(engine)
        got = (stats.fetched, stats.seen)
        return {
            "wall": t1 - t0, "start": t0, "end": t1, "attempted": 1,
            "failed": int(self.pin is not None and got != self.pin),
            "urls": sum(got), "fetched": stats.fetched, "seen": stats.seen,
            "seen_digest": hashlib.sha256(
                "\n".join(keys).encode()).hexdigest()[:16],
        }


def _canon(table) -> pd.DataFrame:
    """Order-insensitive form of a result: columns in name order,
    integers as int64, doubles rounded to 6 places, rows sorted."""
    df = table.to_pandas()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


class Curation:
    """The curation queries over seeded tables: one pass per op,
    each query's result collected to the driver as Arrow and checked
    against its DuckDB oracle after the pass's clock stops."""

    TABLES = ("documents", "embeddings", "events")
    # set-ups per run; the first, in a cold JVM, is the slowest
    SETUPS = 3
    # untimed passes before the timed ones (see CrawlDurable.WARMUPS)
    WARMUPS = 1

    def __init__(self, spark, seed: int, tmp: str, size: str):
        self.spark, self.seed, self.tmp, self.size = spark, seed, tmp, size
        # the self-test's tiny size runs two of the queries
        self.queries = CURATION_QUERIES[:2] if size == "tiny" else list(
            CURATION_QUERIES)
        self.wrong_reference = False
        self.n_setup = 0
        self.data = None
        self.loaded = []
        self.tracer = None
        self.layer = {}

    def setup(self) -> None:
        """Write the seeded tables, then load each through the package's
        table reader and persist it; the queries' scans of the same
        files then read the cached rows."""
        self.n_setup += 1
        path = os.path.join(self.tmp, f"tables-{self.n_setup}")
        tables.write_tables(path, self.seed, self.size)
        for df in self.loaded:
            df.unpersist(blocking=True)
        if self.data is not None:
            shutil.rmtree(self.data, ignore_errors=True)
        self.data = path
        self.loaded = [entryqueries._t(self.spark, path, t).persist()
                       for t in self.TABLES]
        for df in self.loaded:
            df.count()

    def expect(self) -> tuple:
        import duckdb

        con = duckdb.connect()
        for t in self.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.data}/{t}.parquet')")
        self.want = {}
        for q in self.queries:
            self.want[q] = _canon(con.sql(entryqueries.ORACLES[q]).arrow())
        con.close()
        if self.wrong_reference:
            q = self.queries[0]
            self.want[q] = self.want[q].iloc[1:].reset_index(drop=True)
        return 0, 0

    def op(self) -> dict:
        # one order for every pass and seed: the first query of a cold
        # pass pays 7-14 s of JVM and Python-worker warm-up, depending on
        # which query it is, and a varying order would add that
        # difference to the pass wall
        failed, per_query, results = 0, {}, {}
        start = time.time()
        for q in self.queries:
            span = (self.tracer.span(q, id_=q, kind="query")
                    if self.tracer else contextlib.nullcontext())
            tq = time.time()
            try:
                with span:
                    results[q] = entryqueries.QUERIES[q](
                        self.spark, self.data).toArrow()
            except Exception:
                traceback.print_exc()
                results[q] = None
            per_query[q] = time.time() - tq
        end = time.time()
        for q in self.queries:
            if results[q] is None or not _canon(results[q]).equals(
                    self.want[q]):
                failed += 1
                print(f"curation: {q} differs from its DuckDB oracle",
                      flush=True)
        return {"wall": sum(per_query.values()), "start": start,
                "end": end, "attempted": len(self.queries), "failed": failed,
                "per_query": per_query}


WORKLOADS = {"crawl_durable": CrawlDurable, "curation": Curation,
             "crawl_wide": CrawlWide}
