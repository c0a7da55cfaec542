"""spark-submit entry point for the crawl engine (north rule: "runs
via spark-submit --py-files on multi-executor clusters").

spark-submit takes a primary application FILE (it has no ``-m`` module
flag), so cluster runs go through the thin launcher at the repo root,
with this package shipped as a zip:

    cd /root/repo && zip -qr methanol_web_crawler_spark.zip \
        methanol_web_crawler_spark
    spark-submit --py-files methanol_web_crawler_spark.zip \
        jobs/crawl.py \
        --conf conf/default.conf --docs /data/docs.parquet \
        --state-dir /data/crawl-state --seeds http://a.test/ ...

or locally:

    python -m methanol_web_crawler_spark.jobs.crawl \
        --config default --synth-docs 5000 --synth-hosts 50 \
        --seeds http://h0000.test/p/page0.html

Config comes from a reference-grammar ``.conf`` file (--conf) or a
named built-in (--config default|media|title|meta|writefile). When
the crawler binds an init function (S2), --seeds are its raw
arguments (e.g. query terms for google.conf). --resume continues
exactly from the snapshots in --state-dir.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="methanol-spark-crawl", description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    src = p.add_argument_group("document source")
    src.add_argument("--docs", help="parquet path of the docs table "
                     "(doc_id, spans, content_type, status, location)")
    src.add_argument("--synth-docs", type=int, default=0,
                     help="generate a synthetic web of N docs instead")
    src.add_argument("--synth-hosts", type=int, default=50)
    src.add_argument("--synth-seed", type=int, default=42)

    cfg = p.add_argument_group("config")
    cfg.add_argument("--conf", help="a .conf file (reference grammar)")
    cfg.add_argument("--conf-dir", action="append", default=[],
                     help="search dir(s) for include directives")
    cfg.add_argument("--config", default="default",
                     help="named built-in config (default, media, "
                     "title, meta, writefile)")
    cfg.add_argument("--crawler", default="default")

    run = p.add_argument_group("run")
    run.add_argument("--seeds", nargs="+", default=[],
                     help="seed URLs, or init-fn args when the "
                     "crawler binds an init function")
    run.add_argument("--state-dir", help="snapshot store directory "
                     "(enables targets/crawl_log/files sinks + resume)")
    run.add_argument("--resume", action="store_true")
    run.add_argument("--max-rounds", type=int, default=10_000)
    run.add_argument("--politeness", default=None,
                     help="aggressive|friendly|coward or an integer "
                     "per-host budget")
    run.add_argument("--serial", action="store_true",
                     help="one synchronous transfer per round "
                     "(friendly/coward ordering)")
    run.add_argument("--salt-k", type=int, default=0,
                     help="salted two-phase politeness window for "
                     "hot-host skew")
    run.add_argument("--bloom-buckets", type=int, default=0)
    run.add_argument("--strict-order", action="store_true")
    run.add_argument("--fetch", default="join",
                     choices=["join", "http"],
                     help="'join' reads --docs/--synth-docs; 'http' "
                     "performs real batched HTTP GETs per round "
                     "(sources/fetch_http.py)")
    run.add_argument("--fetch-timeout", type=float, default=30.0)
    run.add_argument("--hook-session-complete", default=None,
                     help="shell command run when the session "
                     "finishes (mn-slaved session-complete hook; "
                     "session info exported as NOL_* env vars)")
    run.add_argument("--hook-cleanup", default=None,
                     help="shell command run at engine shutdown "
                     "(mn-slaved cleanup hook)")

    sess = p.add_argument_group("session (ignored under spark-submit)")
    sess.add_argument("--master", default=None)
    sess.add_argument("--shuffle-partitions", type=int, default=None)
    return p


def load_cfg(args):
    if args.conf:
        from ..config_loader import load_config

        return load_config(args.conf, conf_dirs=tuple(args.conf_dir))
    from .. import config as C

    named = {
        "default": C.default_config,
        "media": C.media_config,
        "title": C.title_config,
        "meta": C.meta_config,
        "writefile": C.writefile_config,
    }
    return named[args.config]()


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    if args.resume and not args.state_dir:
        print("--resume needs --state-dir", file=sys.stderr)
        return 2
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("methanol-spark-crawl")
    if args.master:
        b = b.master(args.master)
    if args.shuffle_partitions:
        b = b.config(
            "spark.sql.shuffle.partitions", args.shuffle_partitions
        )
    spark = b.getOrCreate()

    cfg = load_cfg(args)

    fetcher = None
    if args.fetch == "http":
        from ..sources.fetch_http import DOCS_SCHEMA, make_http_fetcher

        fetcher = make_http_fetcher(timeout=args.fetch_timeout)
        # docs table optional in http mode (robots/HEAD side-tables
        # come from it when provided)
        docs = (
            spark.read.parquet(args.docs)
            if args.docs
            else spark.createDataFrame([], DOCS_SCHEMA)
        )
        seeds = args.seeds
    elif args.synth_docs:
        from ..sources.synthweb_spark import generate_web_df

        docs, gen_seeds = generate_web_df(
            spark, args.synth_docs, args.synth_hosts,
            seed=args.synth_seed,
        )
        seeds = args.seeds or gen_seeds
    else:
        if not args.docs:
            print("need --docs or --synth-docs", file=sys.stderr)
            return 2
        docs = spark.read.parquet(args.docs)
        seeds = args.seeds

    budget = 0
    if args.politeness is not None:
        from ..config import politeness_budget_for

        budget = (
            int(args.politeness) if args.politeness.isdigit()
            else politeness_budget_for(args.politeness)
        )

    from ..plans.crawl import SparkCrawler

    hooks = None
    if args.hook_session_complete or args.hook_cleanup:
        from ..plans.hooks import SessionHooks

        hooks = SessionHooks(
            session_complete=args.hook_session_complete,
            cleanup=args.hook_cleanup,
        )

    crawler = SparkCrawler(
        spark, docs, cfg, crawler=args.crawler,
        politeness_budget=budget, strict_order=args.strict_order,
        state_dir=args.state_dir, salt_k=args.salt_k,
        max_rounds=args.max_rounds,
        bloom_buckets=args.bloom_buckets,
        serial_transfers=args.serial,
        fetcher=fetcher,
        hooks=hooks,
    )
    try:
        stats = crawler.resume() if args.resume else crawler.run(seeds)
    finally:
        crawler.close()
    print(json.dumps({
        "rounds": stats.rounds,
        "fetched": stats.fetched,
        "admitted": stats.admitted,
        "targets": stats.targets,
        "seen": stats.seen,
        "wall_s": round(stats.wall_s, 3),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
