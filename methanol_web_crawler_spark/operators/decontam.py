"""Benchmark decontamination: flag corpus docs overlapping an eval set.

Before pretraining, every serious pipeline removes documents that
contain verbatim n-grams from its evaluation benchmarks (test-set
decontamination — the GPT-3/PaLM-style "13-gram overlap" rule). The
shape of the problem at 100 TB: the CORPUS is enormous, the EVAL
n-gram set is tiny and fixed (benchmarks are a few MB). That
asymmetry is the whole plan:

- the eval side reduces to a DISTINCT gram set and is **broadcast**,
  so the corpus side never shuffles on the gram key — this also makes
  hot grams (boilerplate that happens to appear in a benchmark)
  harmless, since there is no per-gram partition to skew;
- the corpus side explodes to (doc, gram) pairs, hash-joins against
  the broadcast set map-side, and aggregates per doc_id (naturally
  balanced key, partial aggregation applies).

Everything is JVM expressions: tokenize with split/filter, build
grams with ``transform(sequence(...), i -> concat_ws(slice(...)))``,
no Python workers. Documents shorter than n tokens produce no grams
(guarded: ``sequence`` with stop < start would generate a DESCENDING
range, not an empty one — the classic trap).

Reference parity note: the reference engine (a crawler) has no
decontamination stage; this operator is part of the training-data
pipeline surface built over the same tables (like
``operators/sampling.py`` / ``operators/curation.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# gram construction lives with the other text features; re-exported
# here because decontamination is its main consumer
from ..functions.textstats import word_ngrams


def ngram_overlap(
    corpus: DataFrame,
    eval_docs: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per corpus doc: the number of DISTINCT word n-grams it shares
    with the eval set, plus the ``contaminated`` flag.

    Returns ``(id_col, n_overlap, contaminated)`` with one row per
    corpus doc (docs with no overlap — or too short to have grams —
    are kept with ``n_overlap = 0``).
    """
    grams = f"explode({word_ngrams(text_col, n)}) AS g"

    eval_grams = eval_docs.selectExpr(grams).distinct()
    corpus_grams = corpus.selectExpr(id_col, grams)
    overlap = (
        corpus_grams.join(F.broadcast(eval_grams), "g")
        .groupBy(id_col)
        .agg(F.count_distinct("g").alias("n_overlap"))
    )
    return (
        corpus.select(id_col)
        .join(overlap, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias(
                "n_overlap"
            ),
            (F.coalesce("n_overlap", F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )
