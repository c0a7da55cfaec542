"""Sequence packing for LLM pretraining: global token offsets.

Pretraining pipelines pack documents by concatenating all tokens in a
canonical order and slicing the stream into fixed-length sequences
(concat-then-chunk). The operator every such pipeline needs is the
GLOBAL token prefix-sum: for each document, the number of tokens
before it in the canonical order — from which its packed-sequence
span (first/last sequence index it lands in) is arithmetic.

A naive global cumulative sum is a single-partition window — a
driver-sized bottleneck at 10^10 documents. This is the textbook
scalable two-phase prefix sum instead:

1. bucket every doc by the first two hex chars of ``md5(doc_id)``
   (256 buckets) and make the canonical total order ``(bucket,
   doc_id)`` — the bucket is PART of the order, so within-bucket
   cumulative sums are contiguous slices of the global stream;
2. within-bucket cumsum: an ordinary hash-partitioned window
   (``partitionBy(bucket) orderBy(doc_id)``) — fully parallel,
   one shuffle;
3. bucket totals (256 rows) get their exclusive prefix via a
   single-partition window over 256 rows — negligible — and are
   broadcast-joined back.

md5 is the bucket hash deliberately: Spark and DuckDB produce the
identical lowercase hex, so the whole operator — order, offsets,
sequence spans — is exactly reproducible in the DuckDB oracle
(``substr(md5(doc_id), 1, 2)``), unlike xxhash64/hash which differ
between engines.

Reference parity note: the reference engine has no packing stage
(it is a crawler); this operator is part of the training-data
pipeline surface built on the same tables.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.textstats import token_count


def pack_offsets(
    docs,
    seq_len: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Per-document global token offset + packed-sequence span.

    Returns ``(id_col, n_tokens, token_offset, seq_first, seq_last)``
    where ``token_offset`` is the count of tokens strictly before the
    doc in the canonical ``(md5-bucket, doc_id)`` order and
    ``seq_first``/``seq_last`` are the first/last ``seq_len``-sized
    packed sequence the doc's tokens touch (an empty doc pins both to
    the sequence at its offset).
    """
    d = docs.select(
        F.col(id_col),
        F.expr(f"cast({token_count(text_col)} as bigint) AS n_tokens"),
        # md5 takes binary; cast through string so any id type
        # (BIGINT here) hashes identically to the oracle's
        # md5(CAST(id AS VARCHAR))
        F.substring(
            F.md5(F.col(id_col).cast("string").cast("binary")), 1, 2
        ).alias("_bkt"),
    )

    # phase 1+2: within-bucket exclusive cumsum (parallel window)
    w = Window.partitionBy("_bkt").orderBy(id_col)
    d = d.withColumn(
        "_local", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )

    # phase 3: exclusive prefix over the 256 bucket totals — the only
    # non-parallel step, and it is 256 rows regardless of data size
    totals = d.groupBy("_bkt").agg(F.sum("n_tokens").alias("_t"))
    wp = Window.orderBy("_bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prefix = totals.select(
        "_bkt",
        F.coalesce(F.sum("_t").over(wp), F.lit(0)).alias("_prefix"),
    )

    out = d.join(F.broadcast(prefix), "_bkt").withColumn(
        "token_offset",
        (F.col("_prefix") + F.col("_local")).cast("long"),
    )
    # an empty doc spans no tokens; pin it to the sequence at its
    # offset so the span columns stay total (greatest(n,1) - 1 = 0)
    eff = F.greatest(F.col("n_tokens"), F.lit(1))
    return out.select(
        id_col,
        "n_tokens",
        "token_offset",
        F.floor(F.col("token_offset") / seq_len)
        .cast("long")
        .alias("seq_first"),
        F.floor((F.col("token_offset") + eff - F.lit(1)) / seq_len)
        .cast("long")
        .alias("seq_last"),
    )
