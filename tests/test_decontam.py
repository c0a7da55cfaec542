"""n-gram decontamination vs literal expectations.

Pins: exact distinct-overlap counts, the shorter-than-n guard (the
``sequence(1, size-n+1)`` descending-range trap), zero-overlap docs
kept with n_overlap = 0, and the broadcast of the eval gram set.
"""

from methanol_web_crawler_spark.operators.decontam import (
    ngram_overlap, word_ngrams,
)

from pyspark.sql import functions as F


def test_overlap_counts_and_short_doc_guard(spark):
    eval_docs = spark.createDataFrame(
        [(100, "the quick brown fox jumps")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # shares 'the quick brown' and 'quick brown fox' -> 2
            (1, "see the quick brown fox run"),
            # 'quick brown fox' appears twice (its other grams,
            # 'brown fox quick' / 'fox quick brown', match nothing)
            # -> DISTINCT overlap count is 1, not 2
            (2, "quick brown fox quick brown fox"),
            (3, "nothing in common here at all"),
            (4, "too short"),  # < 3 tokens: no grams, kept, 0
            (5, ""),           # empty: kept, 0
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_overlap"], r["contaminated"])
        for r in ngram_overlap(corpus, eval_docs, n=3).collect()
    }
    assert got == {
        1: (2, True),
        2: (1, True),
        3: (0, False),
        4: (0, False),
        5: (0, False),
    }


def test_word_ngrams_short_and_exact(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b"), (3, "")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r["g"]
        for r in df.select(
            "doc_id", F.expr(word_ngrams("text", 3)).alias("g")
        ).collect()
    }
    assert rows[1] == ["a b c", "b c d"]
    assert rows[2] == []  # NOT a descending-sequence artifact
    assert rows[3] == []


def test_eval_side_is_broadcast(spark):
    from tests.test_plan_audit import formatted_plan

    eval_docs = spark.createDataFrame(
        [(100, "x y z w")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [(1, "x y z q")], "doc_id long, text string"
    )
    plan = formatted_plan(ngram_overlap(corpus, eval_docs, n=3))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_repetition_features(spark):
    from methanol_web_crawler_spark.functions.textstats import (
        repetition_features,
    )

    df = spark.createDataFrame(
        [
            (1, "a b a b a"),   # bigrams: ab ba ab ba -> 4 total, 2 distinct
            (2, "a b c d"),     # all distinct
            (3, "x"),           # too short for bigrams
            (4, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc"]: (r["n_grams"], r["n_distinct_grams"], r["rep_ratio"])
        for r in repetition_features(df, "doc_id", "text", n=2).collect()
    }
    assert got[1] == (4, 2, 0.5)
    assert got[2] == (3, 3, 0.0)
    assert got[3] == (0, 0, 0.0)
    assert got[4] == (0, 0, 0.0)
