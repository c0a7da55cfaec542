"""Unit tests: partitioned bloom seen-filter, media plumbing,
snapshot tables, distributed generator determinism."""

import random
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from methanol_web_crawler_spark.operators.media import (
    decode_media,
    media_metadata,
)
from methanol_web_crawler_spark.operators.seen import (
    BloomSeenFilter,
    key_hash,
)
from methanol_web_crawler_spark.sources.synthweb_spark import generate_web_df
from methanol_web_crawler_spark.sources.tables import SnapshotStore


def _jobs(spark, action):
    """(result, Spark jobs run) of ``action()``, counted under a job
    group of its own."""
    sc = spark.sparkContext
    group = f"store-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _key_hashes(spark, ids):
    return spark.range(*ids).select(
        F.xxhash64(F.col("id").cast("string")).alias("key_hash")
    )


def _insert(spark, bloom, keys, how):
    """Insert the ``key_hash`` frame ``keys``: from driver-held hashes
    with ``reset`` (which must run no job), or with ``update``."""
    if how == "reset":
        hashes = [r["key_hash"] for r in keys.collect()]
        _, jobs = _jobs(spark, lambda: bloom.reset(hashes))
        assert jobs == 0
    else:
        bloom.update(keys)


class TestKeyHash:
    def test_matches_spark_xxhash64(self, spark):
        """The driver's key_hash is Spark's xxhash64 on ASCII and
        multi-byte UTF-8 keys of 0-100 characters: the 32-byte stripe
        loop and the 8-, 4- and 1-byte tails all run."""
        rnd = random.Random(11)
        alphabet = (
            [chr(c) for c in range(32, 127)]
            + ["\u00e9", "\u00df", "\u4e2d", "\u0800", "\U0001f600"]
        )
        keys = [
            "".join(rnd.choice(alphabet[:95] if i % 2 else alphabet)
                    for _ in range(rnd.randint(0, 100)))
            for i in range(2000)
        ]
        assert {len(k.encode("utf-8")) % 32 for k in keys} == set(range(32))
        want = {
            r["k"]: r["h"]
            for r in spark.createDataFrame([(k,) for k in keys], "k string")
            .select("k", F.xxhash64("k").alias("h")).collect()
        }
        assert {k: key_hash(k) for k in keys} == want


class TestBloomSeenFilter:
    @pytest.mark.parametrize("how", ["reset", "update"])
    def test_no_false_negatives(self, spark, how):
        bloom = BloomSeenFilter(spark, n_buckets=8, m_bits=1 << 14, k=4)
        keys = _key_hashes(spark, (1000,))
        _insert(spark, bloom, keys, how)
        # every inserted key must be "maybe seen"
        new, maybe = bloom.split(keys)
        assert new.count() == 0
        assert maybe.count() == 1000

    def test_mostly_rejects_unseen(self, spark):
        bloom = BloomSeenFilter(spark, n_buckets=8, m_bits=1 << 16, k=5)
        seen = spark.range(2000).select(
            F.xxhash64(F.col("id").cast("string")).alias("key_hash")
        )
        bloom.update(seen)
        unseen = spark.range(10_000, 12_000).select(
            F.xxhash64(F.col("id").cast("string")).alias("key_hash")
        )
        new, maybe = bloom.split(unseen)
        n_new = new.count()
        # fp rate at this sizing is well under 5%
        assert n_new >= 1900
        assert n_new + maybe.count() == 2000

    @pytest.mark.parametrize("how", ["reset", "update"])
    def test_incremental_updates(self, spark, how):
        bloom = BloomSeenFilter(spark, n_buckets=4, m_bits=1 << 14, k=4)
        a = _key_hashes(spark, (100,))
        b = _key_hashes(spark, (100, 200))
        c = _key_hashes(spark, (200, 300))
        _insert(spark, bloom, a, how)
        bloom.update(b)
        new, maybe = bloom.split(a.unionByName(b))
        assert new.count() == 0
        # a later insert merges into the already-merged bitmaps
        bloom.update(c)
        new, maybe = bloom.split(a.unionByName(b).unionByName(c))
        assert new.count() == 0


class TestMedia:
    def test_metadata(self, spark):
        df = spark.createDataFrame(
            [("http://a.test/x.png", bytearray(b"abc")),
             ("http://a.test/y.mp3", bytearray(b"defg"))],
            "ref string, payload binary",
        )
        rows = {
            r["media_ref"]: r["meta"]
            for r in media_metadata(df, "ref", "payload").collect()
        }
        assert rows["http://a.test/x.png"]["media_type"] == "image"
        assert rows["http://a.test/x.png"]["byte_len"] == 3
        assert rows["http://a.test/y.mp3"]["media_type"] == "audio"

    def test_decode_stub_fake(self, spark):
        df = spark.createDataFrame(
            [("http://a.test/x.png", bytearray(b"abc"))],
            "ref string, payload binary",
        )
        out = decode_media(df, "ref", "payload",
                           deterministic_fake=True).collect()
        assert len(out) == 1
        assert out[0]["media_type"] == "image"
        assert len(out[0]["features"]) == 8
        # deterministic: same payload -> same features
        out2 = decode_media(df, "ref", "payload",
                            deterministic_fake=True).collect()
        assert out[0]["features"] == out2[0]["features"]

    def test_decode_stub_raises_without_fake(self, spark):
        from py4j.protocol import Py4JJavaError

        df = spark.createDataFrame(
            [("http://a.test/x.png", bytearray(b"abc"))],
            "ref string, payload binary",
        )
        with pytest.raises(Exception):
            decode_media(df, "ref", "payload").collect()

    def test_resize_stub_fake(self, spark):
        from methanol_web_crawler_spark.operators.media import (
            resize_images,
        )

        df = spark.createDataFrame(
            [("http://a.test/x.png", bytearray(b"abc")),
             ("http://a.test/z.jpg", bytearray(b"zz"))],
            "ref string, payload binary",
        )
        rows = {
            r["media_ref"]: r
            for r in resize_images(
                df, "ref", "payload", width=16, height=4,
                deterministic_fake=True,
            ).collect()
        }
        assert len(rows) == 2
        for r in rows.values():
            assert (r["width"], r["height"]) == (16, 4)
            assert len(r["payload"]) == 16 * 4
        # deterministic: distinct payloads -> distinct fakes
        assert (rows["http://a.test/x.png"]["payload"]
                != rows["http://a.test/z.jpg"]["payload"])

    def test_frame_sample_fanout(self, spark):
        from methanol_web_crawler_spark.operators.media import (
            sample_frames,
        )

        df = spark.createDataFrame(
            [("http://a.test/v.mp4", bytearray(bytes(range(64))))],
            "ref string, payload binary",
        )
        rows = sorted(
            sample_frames(
                df, "ref", "payload", every_ms=500, max_frames=4,
                deterministic_fake=True,
            ).collect(),
            key=lambda r: r["frame_ix"],
        )
        # one video row fans out into max_frames frame rows with
        # spaced timestamps and contiguous byte slices
        assert [r["frame_ix"] for r in rows] == [0, 1, 2, 3]
        assert [r["ts_ms"] for r in rows] == [0, 500, 1000, 1500]
        assert b"".join(bytes(r["frame"]) for r in rows) == bytes(
            range(64)
        )

    def test_resize_and_frames_raise_without_fake(self, spark):
        from methanol_web_crawler_spark.operators.media import (
            resize_images,
            sample_frames,
        )

        df = spark.createDataFrame(
            [("http://a.test/x.png", bytearray(b"abc"))],
            "ref string, payload binary",
        )
        with pytest.raises(Exception):
            resize_images(df, "ref", "payload").collect()
        with pytest.raises(Exception):
            sample_frames(df, "ref", "payload").collect()


class TestSnapshotStore:
    def test_append_read_time_travel(self, spark, tmp_path):
        store = SnapshotStore(str(tmp_path))
        t = store.table("x")
        t.append(spark.createDataFrame([(1,)], "a int"), 0)
        t.append(spark.createDataFrame([(2,)], "a int"), 1)
        t.append(spark.createDataFrame([(3,)], "a int"), 2)
        assert t.latest_round() == 2
        assert t.read_until(spark, 1).count() == 2
        assert t.read_until(spark).count() == 3
        assert [r["a"] for r in t.read_round(spark, 1).collect()] == [2]

    def test_read_latest(self, spark, tmp_path):
        store = SnapshotStore(str(tmp_path))
        t = store.table("state")
        t.append(spark.createDataFrame([(1,), (2,)], "a int"), 0)
        t.append(spark.createDataFrame([(9,)], "a int"), 1)
        assert [r["a"] for r in t.read_latest(spark).collect()] == [9]

    def test_rollback(self, spark, tmp_path):
        store = SnapshotStore(str(tmp_path))
        t = store.table("x")
        t.append(spark.createDataFrame([(1,)], "a int"), 0)
        t.append(spark.createDataFrame([(2,)], "a int"), 1)
        t.rollback_to(0)
        assert t.latest_round() == 0
        assert t.read_until(spark).count() == 1

    def test_lineage_recorded(self, spark, tmp_path):
        """``rows`` and the per-data-file ``partitions`` of a plain, an
        empty and a bucketed append equal the rows written."""
        t = SnapshotStore(str(tmp_path)).table("x")
        df = spark.range(0, 100, numPartitions=4)
        for frame, bucket_by, rows, files in (
            (df, None, 100, 4),
            (df.limit(0), None, 0, None),
            (df, ("id", 8), 100, 8),
        ):
            entry = t.append(frame, 0, bucket_by=bucket_by)
            assert entry == t.snapshots()[-1]
            assert entry["rows"] == sum(entry["partitions"].values())
            assert entry["rows"] == rows
            if files is not None:
                assert len(entry["partitions"]) == files

    def test_append_runs_no_job_after_the_write(self, spark, tmp_path):
        """The lineage costs no Spark job: an append runs no more jobs
        than a bare parquet write of the same frame."""
        df = spark.range(0, 100, numPartitions=4)
        _, bare = _jobs(
            spark, lambda: df.write.parquet(str(tmp_path / "bare"))
        )
        t = SnapshotStore(str(tmp_path / "store")).table("x")
        _, n = _jobs(spark, lambda: t.append(df, 0))
        assert 0 < n <= bare

    def test_reads_run_no_job(self, spark, tmp_path):
        """A read hands the recorded schema to the Parquet reader: it
        builds its frame with no schema-inference job, and the frame's
        schema is the appended one with every field nullable."""
        t = SnapshotStore(str(tmp_path)).table("x")
        df = spark.range(0, 10, numPartitions=2).select(
            "id",
            F.lit(1).alias("first_round"),
            F.when(F.col("id") > 4, F.col("id").cast("string"))
            .alias("key"),
        )
        for r in range(3):
            t.append(df, r)
        nullable = T.StructType(
            [T.StructField(f.name, f.dataType) for f in df.schema]
        )
        assert nullable != df.schema
        for read in (
            lambda: t.read_round(spark, 1),
            lambda: t.read_until(spark, 1),
            lambda: t.read_latest(spark),
        ):
            frame, n = _jobs(spark, read)
            assert n == 0
            assert frame.schema == nullable
        assert t.read_until(spark, 1).count() == 20

    def test_append_driver_rows(self, spark, tmp_path):
        """Rows the driver holds are written by the driver with no
        Spark job, commit the same manifest entry as a frame append,
        and read back as the frame of the same rows."""
        from methanol_web_crawler_spark.plans.crawl import FRONTIER_SCHEMA

        t = SnapshotStore(str(tmp_path)).table("frontier")
        rows = [
            ("http://a.test/x.html", 7, 6, 13, 15, "http", False, False,
             "a.test/x.html", "a.test", "html", 0, "default", False, 1,
             3, 2**40, 0, 0, False),
            ("http://b.test/", 7, 6, None, None, "http", None, True,
             "b.test/", "b.test", None, 2, "default", True, 2, -1, -1,
             None, 1, None),
        ]
        for r, data in ((0, []), (1, rows)):
            entry, n = _jobs(
                spark, lambda: t.append(data, r, schema=FRONTIER_SCHEMA)
            )
            assert n == 0
            assert entry == t.snapshots()[-1]
            assert entry["rows"] == len(data)
            assert list(entry["partitions"].values()) == [len(data)]
        assert t.read_round(spark, 0).count() == 0
        latest = t.read_latest(spark)
        assert latest.schema == FRONTIER_SCHEMA
        assert latest.collect() == spark.createDataFrame(
            rows, FRONTIER_SCHEMA
        ).collect()

    def test_bucketed_anti_join_no_seen_side_exchange(
        self, spark, tmp_path
    ):
        from tests.test_plan_audit import formatted_plan

        store = SnapshotStore(str(tmp_path))
        t = store.table("seen_bucketed")
        df = spark.range(1000).select(
            F.concat(F.lit("k"), F.col("id").cast("string")).alias(
                "seen_key"
            ),
            F.xxhash64(F.col("id").cast("string")).alias("key_hash"),
            F.lit(0).alias("first_round"),
        )
        t.append(df, 0, bucket_by=("seen_key", 8))
        att = t.read_bucketed(spark, table_name="seen_bt_test")
        assert att.count() == 1000
        cand = spark.range(500).select(
            F.concat(F.lit("k"), (F.col("id") * 3).cast("string"))
            .alias("seen_key")
        )
        j = cand.join(
            att.select("seen_key").hint("merge"),
            "seen_key", "left_anti",
        )
        plan = formatted_plan(j)
        assert "Bucketed: true" in plan
        # exactly ONE exchange node — the candidates side shuffling
        # into the seen table's bucket layout; the seen scan has none
        # (formatted output repeats each node in a details section, so
        # count the numbered node headers, not the substring)
        import re as _re

        assert len(_re.findall(r"\(\d+\) Exchange", plan)) == 1


class TestDistributedGenerator:
    def test_deterministic_across_parallelism(self, spark):
        d1, s1 = generate_web_df(spark, 500, 5, seed=7, partitions=2)
        d2, s2 = generate_web_df(spark, 500, 5, seed=7, partitions=7)
        assert s1 == s2
        rows1 = sorted(
            (r["doc_id"], str(r["spans"]), r["status"], r["location"])
            for r in d1.collect()
        )
        rows2 = sorted(
            (r["doc_id"], str(r["spans"]), r["status"], r["location"])
            for r in d2.collect()
        )
        assert rows1 == rows2

    def test_schema_matches_input_hint(self, spark):
        d, _ = generate_web_df(spark, 100, 3, seed=1, partitions=2)
        fields = {f.name: f.dataType.simpleString() for f in d.schema.fields}
        assert fields["doc_id"] == "string"
        assert fields["spans"].startswith(
            "array<struct<kind:string,text:string,media_ref:string,"
            "offset:int"
        )

    def test_crawlable(self, spark):
        from methanol_web_crawler_spark.config import default_config
        from methanol_web_crawler_spark.plans.crawl import SparkCrawler

        docs, seeds = generate_web_df(spark, 300, 3, seed=5, partitions=2)
        c = SparkCrawler(
            spark, docs.persist(), default_config(robotstxt=True),
            politeness_budget=0, strict_order=False,
            collect_metrics=False, max_rounds=6,
        )
        st = c.run(seeds)
        assert st.fetched > 10
        assert st.seen > st.fetched / 2


class TestBloomSizing:
    def test_sized_for_fp_target(self, spark):
        """Frontier-derived sizing: ~9.6 bits/key at 1% FP, power-of-2
        per-bucket bitmaps, k near m/n*ln2."""
        b = BloomSeenFilter.sized_for(
            spark, expected_keys=10_000_000, fp_rate=0.01, n_buckets=64
        )
        per_bucket = 10_000_000 // 64
        bits_per_key = b.m_bits / per_bucket
        assert 9.585 <= bits_per_key <= 2 * 9.585  # pow2 round-up
        assert b.m_bits & (b.m_bits - 1) == 0
        assert 1 <= b.k <= 16

    def test_sized_for_scales_with_keys(self, spark):
        small = BloomSeenFilter.sized_for(spark, 100_000)
        big = BloomSeenFilter.sized_for(spark, 1_000_000_000)
        assert big.m_bits > small.m_bits
        # 10^9 keys / 64 buckets at 1% needs >= 2^27 bits per bucket
        assert big.m_bits >= 1 << 27

    def test_sized_filter_behaves(self, spark):
        b = BloomSeenFilter.sized_for(
            spark, expected_keys=4000, fp_rate=0.01, n_buckets=4
        )
        seen = spark.range(2000).select(
            F.xxhash64(F.col("id").cast("string")).alias("key_hash")
        )
        b.update(seen)
        probe = spark.range(2000, 4000).select(
            F.xxhash64(F.col("id").cast("string")).alias("key_hash")
        )
        new, maybe = b.split(probe)
        n_new, n_maybe = new.count(), maybe.count()
        assert n_new + n_maybe == 2000
        # FP rate should be near the 1% design point (loose bound)
        assert n_maybe <= 2000 * 0.05
        # and inserted keys never leak through
        n2, m2 = b.split(seen)
        assert n2.count() == 0
