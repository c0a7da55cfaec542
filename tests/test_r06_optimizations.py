"""Focused tests for the round-6 optimization internals: each pins an
equivalence or plan property a rewrite relies on, so a regression in
the optimized shape fails loudly rather than silently changing cost
(or worse, results)."""

from pyspark.sql import functions as F

from methanol_web_crawler_spark.operators import dedup as dd


# -- connected_components: convergence folded into the aggregate --------


def test_components_chain_converges_to_min_label(spark):
    """A pure chain is the worst case for min-label propagation (one
    hop per iteration); the rewritten loop (cached und + in-aggregate
    old-label carry) must still converge to the global minimum and
    stop via the new changed-detection path."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "doc_a long, doc_b long"
    )
    got = {
        (r["doc"], r["component"])
        for r in dd.connected_components(edges).collect()
    }
    assert got == {(i, 0) for i in range(10)}


def test_components_two_clusters_and_selfcontained_rows(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10)],
        "doc_a long, doc_b long",
    )
    got = {
        (r["doc"], r["component"])
        for r in dd.connected_components(edges).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10),
    }


def test_components_empty_edges(spark):
    edges = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dd.connected_components(edges).count() == 0


# -- within-row token/signature shapes ---------------------------------


def test_tokens_within_row_matches_global_distinct(spark):
    """tokens() now dedups within-row (array_distinct); for unique-id
    corpora this must equal the old corpus-wide distinct."""
    docs = spark.createDataFrame(
        [(1, "a b a  c"), (2, ""), (3, "c c c"), (4, "  ")],
        "doc_id long, text string",
    )
    got = {
        (r["doc"], r["token"])
        for r in dd.tokens(docs, "doc_id", "text").collect()
    }
    old = {
        (r["doc"], r["token"])
        for r in docs.select(
            F.col("doc_id").alias("doc"),
            F.explode(F.split("text", " ")).alias("token"),
        )
        .filter(F.col("token") != "")
        .distinct()
        .collect()
    }
    assert got == old == {(1, "a"), (1, "b"), (1, "c"), (3, "c")}


def test_signature_projection_drops_tokenless_docs(spark):
    """The trim()-based emptiness filter must drop exactly the docs the
    old groupBy-over-empty-explode dropped: empty and all-space texts,
    and NULL text."""
    docs = spark.createDataFrame(
        [(1, "x y"), (2, ""), (3, "   "), (4, None)],
        "doc_id long, text string",
    )
    sig = dd.minhash_signatures(docs, "doc_id", "text")
    assert [r["doc"] for r in sig.collect()] == [1]
    sh = dd.simhash(docs, "doc_id", "text")
    assert [r["doc"] for r in sh.collect()] == [1]


# -- crawl loop: gated broadcasts are output-equivalent ----------------


def _small_crawl(spark, **gates):
    from methanol_web_crawler_spark.config import default_config
    from methanol_web_crawler_spark.plans.crawl import SparkCrawler
    from methanol_web_crawler_spark.sources.synthweb import generate_web

    web = generate_web(n_docs=300, n_hosts=6, seed=7)
    cfg = default_config(robotstxt=True)
    crawler = SparkCrawler(
        spark, web.to_spark(spark), cfg, politeness_budget=0,
        collect_metrics=True,
    )
    for k, v in gates.items():
        assert hasattr(crawler, k), k
        setattr(crawler, k, v)
    stats = crawler.run(web.seeds)
    return [
        (m["round"], m["depth"], m["fetched"], m["admitted"],
         m["targets"])
        for m in stats.per_round
    ], stats.seen


def test_crawl_broadcast_gate_equivalence(spark):
    """The size-gated broadcast hints (hosts/jail/seen) and the
    row-count-derived checkpoint partitioning are physical-plan
    choices only: forcing every broadcast gate OFF (threshold 0) and
    one row per checkpoint partition must produce the identical
    crawl, round by round."""
    gated_on, seen_on = _small_crawl(spark)
    gated_off, seen_off = _small_crawl(
        spark, broadcast_state_max=0, checkpoint_rows_per_part=1,
    )
    assert gated_on == gated_off
    assert seen_on == seen_off


# -- _spread: layout-adaptive, set-preserving --------------------------


def test_spread_is_noop_on_wide_input_and_preserves_rows(spark):
    from methanol_web_crawler_spark.entryqueries import _spread

    cores = spark.sparkContext.defaultParallelism
    narrow = spark.range(1000).coalesce(1)
    wide = spark.range(1000).repartition(cores)
    out_narrow = _spread(narrow, "id")
    out_wide = _spread(wide, "id")
    # repartitioned up when starved, untouched when already wide
    assert out_narrow.rdd.getNumPartitions() > 1
    assert out_wide is wide
    assert sorted(r["id"] for r in out_narrow.collect()) == list(
        range(1000)
    )
