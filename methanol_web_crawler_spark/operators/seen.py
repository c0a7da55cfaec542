"""Partitioned bloom-filter URL-seen set (the mtrie's scale analog).

The reference keeps a per-host compressed trie as an exact in-RAM
membership set (mtrie.c:22-44). At a 10^10-URL frontier the exact set
must live in a table; the bloom layer cuts the per-round anti-join
probe volume: candidates that the filter rejects are *definitely new*
and skip the exact join entirely; only "maybe seen" candidates join
against the seen table (bucket-pruned).

Layout: one bitmap per bucket, bucket = pmod(xxhash64(seen_key), B).
Each bitmap is a numpy-backed bit array of m bits with k probes
derived from the 64-bit key hash by double hashing
(pos_i = (h1 + i*h2) mod m). ``key_hash`` is the same hash on the
driver, so the seeds are hashed, bucketed and inserted with no job.

Inserts are lazy. ``reset(hashes)`` keeps driver-held hashes as each
bucket's unmerged ``keys``; ``update(frame)`` only records the frame.
The next ``split`` merges the recorded frames into the bitmaps (a
cogrouped applyInPandas, checkpointed once) and its probe ORs in any
keys still unmerged. Bits nothing probes (a crawl's last round, a
resume that runs no round) are never built, and no bitmap lives on
the driver, so the filter scales with the bucket count, not the
driver heap.

False positives only ever *add* rows to the exact join (correctness
is preserved); false negatives are impossible for inserted keys.
"""

from __future__ import annotations

import functools
import struct
from typing import Iterable, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F, types as T

BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("bitmap", T.BinaryType()),
        # inserted key hashes not yet merged into ``bitmap``
        T.StructField("keys", T.ArrayType(T.LongType())),
    ]
)

_M64 = (1 << 64) - 1
_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
_SEED = 42  # Spark's xxhash64 seed


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def key_hash(seen_key: str) -> int:
    """Spark's ``xxhash64(seen_key)`` on the driver: XXH64 with seed
    42 over the key's UTF-8 bytes, as a signed 64-bit int."""
    data = seen_key.encode("utf-8")
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (_SEED + _P1 + _P2) & _M64
        v2 = (_SEED + _P2) & _M64
        v3 = _SEED
        v4 = (_SEED - _P1) & _M64
        while i <= n - 32:
            l1, l2, l3, l4 = struct.unpack_from("<4Q", data, i)
            v1, v2 = _round(v1, l1), _round(v2, l2)
            v3, v4 = _round(v3, l3), _round(v4, l4)
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ _round(0, v)) * _P1 + _P4) & _M64
    else:
        h = _SEED + _P5
    h = (h + n) & _M64
    while i <= n - 8:
        h ^= _round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i <= n - 4:
        h ^= struct.unpack_from("<I", data, i)[0] * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for byte in data[i:]:
        h ^= byte * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def _positions(hashes: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """k probe positions per hash, double hashing, vectorized.
    Returns an array of shape (len(hashes), k)."""
    h = hashes.astype(np.uint64)
    h1 = (h & np.uint64(0xFFFFFFFF)).astype(np.uint64)
    h2 = ((h >> np.uint64(32)) | np.uint64(1)).astype(np.uint64)
    i = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None])
            % np.uint64(m_bits)).astype(np.int64)


def _set_bits(bitmap: np.ndarray, pos: np.ndarray) -> None:
    flat = pos.reshape(-1)
    np.bitwise_or.at(bitmap, flat >> 3, (1 << (flat & 7)).astype(np.uint8))


def _test_bits(bitmap: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """True where ALL k bits are set (maybe-seen)."""
    flat = pos.reshape(-1)
    bits = (bitmap[flat >> 3] >> (flat & 7).astype(np.uint8)) & 1
    return bits.reshape(pos.shape).all(axis=1)


def _bucket_bits(state_pdf: pd.DataFrame, m_bits: int, k: int) -> np.ndarray:
    """A bucket's bits: its state row's bitmap ORed with the bits of
    its unmerged keys (all zero when the bucket has no state row)."""
    bitmap = np.zeros(m_bits >> 3, dtype=np.uint8)
    if not len(state_pdf):
        return bitmap
    bm, keys = state_pdf["bitmap"].iloc[0], state_pdf["keys"].iloc[0]
    if bm is not None:
        bitmap[:] = np.frombuffer(bytes(bm), dtype=np.uint8)
    if keys is not None and len(keys):
        _set_bits(bitmap, _positions(np.asarray(keys, np.int64), m_bits, k))
    return bitmap


class BloomSeenFilter:
    """Distributed, bucket-partitioned bloom filter over key hashes.

    State is a (bucket, bitmap, keys) DataFrame. ``reset`` starts it
    over from driver-held key hashes, ``update`` records a frame of new
    key hashes, and ``split`` merges what was recorded, then partitions
    candidates into (definitely_new, maybe_seen).
    """

    def __init__(
        self,
        spark: SparkSession,
        n_buckets: int = 64,
        m_bits: int = 1 << 20,  # 128 KiB per bucket
        k: int = 5,
    ):
        self.spark = spark
        self.n_buckets = n_buckets
        self.m_bits = m_bits
        self.k = k
        self.reset()

    @classmethod
    def sized_for(
        cls,
        spark: SparkSession,
        expected_keys: int,
        fp_rate: float = 0.01,
        n_buckets: int = 64,
    ) -> "BloomSeenFilter":
        """Size the filter from the EXPECTED FRONTIER, not a constant:
        per-bucket m = -n/B * ln(p) / ln(2)^2 (~9.6 bits/key at 1%),
        rounded up to a power of two (cheap modulo, byte-aligned);
        k = m*B/n * ln(2) (~7 probes at 1%). A static 1 MiB bitmap at
        a 10^10-key frontier would saturate and approve everything —
        the filter's value IS its sizing."""
        import math

        n = max(1, expected_keys)
        per_bucket = max(1, n // max(1, n_buckets))
        m_exact = -per_bucket * math.log(fp_rate) / (math.log(2) ** 2)
        m_bits = 1 << max(13, math.ceil(math.log2(m_exact)))
        k = max(1, round(m_bits / per_bucket * math.log(2)))
        return cls(spark, n_buckets=n_buckets, m_bits=m_bits, k=min(k, 16))

    # -- helpers ---------------------------------------------------------

    def _bucket_col(self, hash_col) -> "F.Column":
        return F.pmod(hash_col, F.lit(self.n_buckets)).cast("int")

    # -- inserts ---------------------------------------------------------

    def reset(self, hashes: Iterable[int] = ()) -> None:
        """Empty the filter, then insert ``hashes`` (driver-side key
        hashes, see ``key_hash``) as each bucket's unmerged ``keys``.
        Runs no job; the driver holds the hashes, not bitmaps."""
        by_bucket: dict = {}
        for h in hashes:
            by_bucket.setdefault(h % self.n_buckets, []).append(h)
        self.state: DataFrame = self.spark.createDataFrame(
            [(b, None, keys) for b, keys in sorted(by_bucket.items())],
            BLOOM_SCHEMA,
        )
        self._recorded: list = []

    def update(self, new_keys: DataFrame, hash_col: str = "key_hash") -> None:
        """Insert a frame of new key hashes. Only records the frame:
        the next ``split`` merges it into the bitmaps."""
        self._recorded.append(new_keys.select(F.col(hash_col).alias("h")))

    def _merge(self) -> None:
        """Merge the recorded key frames and the unmerged ``keys`` into
        the bitmaps (distributed cogroup), checkpointed once."""
        if not self._recorded:
            return
        m_bits, k = self.m_bits, self.k

        def merge(
            state_pdf: pd.DataFrame, keys_pdf: pd.DataFrame
        ) -> pd.DataFrame:
            if len(keys_pdf) == 0 and len(state_pdf) == 0:
                return pd.DataFrame({"bucket": [], "bitmap": [], "keys": []})
            bucket = int(
                keys_pdf["bucket"].iloc[0]
                if len(keys_pdf)
                else state_pdf["bucket"].iloc[0]
            )
            bitmap = _bucket_bits(state_pdf, m_bits, k)
            if len(keys_pdf):
                pos = _positions(keys_pdf["h"].to_numpy(), m_bits, k)
                _set_bits(bitmap, pos)
            return pd.DataFrame(
                {"bucket": [bucket], "bitmap": [bitmap.tobytes()],
                 "keys": [None]}
            )

        keys = functools.reduce(
            lambda a, b: a.unionByName(b), self._recorded
        )
        self.state = (
            self.state.groupBy("bucket")
            .cogroup(
                keys.select(self._bucket_col(F.col("h")).alias("bucket"), "h")
                .groupBy("bucket")
            )
            .applyInPandas(merge, BLOOM_SCHEMA)
            .localCheckpoint()
        )
        self._recorded = []

    # -- query -----------------------------------------------------------

    def split(
        self, candidates: DataFrame, hash_col: str = "key_hash"
    ) -> Tuple[DataFrame, DataFrame]:
        """(definitely_new, maybe_seen), after merging the recorded
        inserts. Cogroups candidates with their bucket's state row (the
        same shape as the merge): one bitmap per task, NOT one bitmap
        copy per candidate row — a bitmap-join would push rows x
        m_bits/8 duplicated bytes through every Arrow batch (128 KiB x
        10k rows ~ 1.2 GB per batch). Keys still unmerged (``reset``'s)
        are ORed into the bitmap in the probe task."""
        self._merge()
        m_bits, k = self.m_bits, self.k
        out_fields = [f.name for f in candidates.schema.fields]
        result_schema = T.StructType(
            candidates.schema.fields
            + [T.StructField("__maybe", T.BooleanType())]
        )
        with_bucket = candidates.withColumn(
            "__bucket", self._bucket_col(F.col(hash_col))
        )

        def probe(
            cand_pdf: pd.DataFrame, state_pdf: pd.DataFrame
        ) -> pd.DataFrame:
            out = cand_pdf[out_fields].copy()
            if len(cand_pdf) == 0:
                out["__maybe"] = pd.Series([], dtype=bool)
                return out
            bitmap = _bucket_bits(state_pdf, m_bits, k)
            pos = _positions(cand_pdf[hash_col].to_numpy(), m_bits, k)
            out["__maybe"] = _test_bits(bitmap, pos)
            return out

        probed = (
            with_bucket.groupBy("__bucket")
            .cogroup(
                self.state.withColumnRenamed("bucket", "__bucket")
                .groupBy("__bucket")
            )
            .applyInPandas(probe, result_schema)
        )
        return (
            probed.filter(~F.col("__maybe")).drop("__maybe"),
            probed.filter(F.col("__maybe")).drop("__maybe"),
        )
