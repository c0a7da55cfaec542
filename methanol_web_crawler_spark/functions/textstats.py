"""Text-analysis functions for training-data pipelines.

Language-ID (marker-word heuristic), quality scoring, token counting
and document fingerprinting — all as JVM-side column expressions
(zero Python), each with an exact SQL oracle.

The expression helpers take column names and return SQL text; the
frame builders use one ``selectExpr`` string per output column. A
Column-API node costs about a dozen py4j round trips on the driver
(a ``F.filter`` with a Python lambda ~7 ms to build); one SQL string
costs 3-7 round trips and ~0.3 ms whatever its size (PLANS.md, "Plan
building on the driver").
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# marker words per language for the n-gram/stopword heuristic;
# deliberately simple and 1:1 reproducible in SQL
LANG_MARKERS = {
    "en": ("the", "and"),
    "es": ("el", "la"),
    "fr": ("le", "les"),
    "de": ("der", "und"),
    "zh": ("de", "shi"),
}


def _nonempty_tokens(text_col: str) -> str:
    return f"filter(split({text_col}, ' '), t -> t != '')"


def token_count(text_col: str) -> str:
    """Whitespace token count (empty tokens excluded)."""
    return f"size({_nonempty_tokens(text_col)})"


def bpe_ish_token_count(text_col: str) -> str:
    """A BPE-flavored proxy: alphanumeric runs + standalone
    punctuation marks each count as one token."""
    return token_count(
        f"regexp_replace({text_col}, '([^A-Za-z0-9 ])', ' $1 ')"
    )


def marker_count(text_col: str, word: str) -> str:
    """Occurrences of a marker word with space padding."""
    padded = f"concat(' ', {text_col}, ' ')"
    target = f" {word} "
    return (f"cast((length({padded}) - length(regexp_replace({padded}, "
            f"'{target}', ''))) / {len(target)} as int)")


def _marker_sum(text_col: str, words) -> str:
    return "(" + " + ".join(marker_count(text_col, w) for w in words) + ")"


LANG_ORDER = ("en", "es", "fr", "de", "zh")


def lang_id(text_col: str) -> str:
    """Heuristic language id: the language whose marker words occur
    most often; a fixed CASE cascade (LANG_ORDER) breaks ties —
    first language whose score is maximal and positive wins.
    Deterministic and replicated verbatim in the SQL oracle."""
    scores = {lang: _marker_sum(text_col, LANG_MARKERS[lang])
              for lang in LANG_ORDER}
    cases = " ".join(
        f"WHEN {scores[lang]} > 0 AND " + " AND ".join(
            f"{scores[lang]} >= {scores[other]}"
            for other in LANG_ORDER if other != lang
        ) + f" THEN '{lang}'"
        for lang in LANG_ORDER
    )
    return f"CASE {cases} ELSE 'unknown' END"


def word_ngrams(text_col: str, n: int) -> str:
    """All word n-grams of a text column as ``array<string>`` (space-
    joined), empty for texts with fewer than ``n`` tokens. The
    ``CASE`` guard matters: ``sequence(1, size-n+1)`` with a stop
    below 1 generates a DESCENDING range, not an empty one. Shared by
    the decontamination operator and the repetition feature."""
    toks = _nonempty_tokens(text_col)
    return (f"CASE WHEN size({toks}) >= {n} THEN transform(sequence(1, "
            f"size({toks}) - {n} + 1), i -> concat_ws(' ', slice({toks}, "
            f"i, {n}))) ELSE cast(array() as array<string>) END")


def repetition_features(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Intra-document repetition (the Gopher/MassiveText duplicate-
    n-gram rule): the fraction of a doc's word n-grams that are
    repeats of an earlier gram in the SAME doc — boilerplate and
    degenerate repetition score high and get filtered from the
    training mix. Entirely within-row array expressions (no explode,
    no shuffle): a pure JVM projection at any corpus size.

    Returns ``(doc, n_grams, n_distinct_grams, rep_ratio)`` with
    ``rep_ratio = round(1 - distinct/total, 6)`` (0 for docs too
    short to have grams)."""
    grams = word_ngrams(text_col, n)
    n_grams = f"cast(size({grams}) as bigint)"
    n_distinct = f"cast(size(array_distinct({grams})) as bigint)"
    return df.selectExpr(
        f"{id_col} AS doc",
        f"{n_grams} AS n_grams",
        f"{n_distinct} AS n_distinct_grams",
        # (total - distinct)/total, with the greatest() guard making
        # gram-less docs 0/1 = 0 (NOT the 1 - distinct/total form,
        # whose guard yields a bogus 1.0 for empty docs)
        f"round(({n_grams} - {n_distinct}) / greatest({n_grams}, 1), 6)"
        " AS rep_ratio",
    )


def quality_features(
    df: DataFrame, id_col: str, text_col: str, extra_cols: tuple = ()
) -> DataFrame:
    """Length/punctuation/stopword/uniqueness features + a composite
    quality score (rounded — SQL-exact). ``extra_cols`` pass through
    unchanged so a pipeline can filter on ``quality`` without a
    join-back (operators/curation.py)."""
    n_chars = f"length({text_col})"
    n_tokens = token_count(text_col)
    n_punct = f"length(regexp_replace({text_col}, '[A-Za-z0-9 ]', ''))"
    n_uniq = f"size(array_distinct({_nonempty_tokens(text_col)}))"
    return df.selectExpr(
        f"{id_col} AS doc",
        f"{n_chars} AS n_chars",
        f"{n_tokens} AS n_tokens",
        f"{n_punct} AS n_punct",
        f"{_marker_sum(text_col, ('the', 'a', 'and', 'of'))}"
        " AS n_stopwords",
        f"{n_uniq} AS n_unique_tokens",
        f"round(({n_uniq} / greatest({n_tokens}, 1)) * "
        f"(1 - {n_punct} / greatest({n_chars}, 1)), 6) AS quality",
        *extra_cols,
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str,
                mod: int = 1073741789) -> DataFrame:
    """Order-sensitive document fingerprint: position-weighted sum of
    md5-derived token hashes mod a prime (a rolling-hash analog that
    is exactly SQL-replicable via unnest WITH ORDINALITY).

    Within-row: positions come from the transform index over the raw
    split array (empty tokens keep their position slot, contributing
    0 — identical to posexplode + filter), the sum is an array
    aggregate — a pure JVM projection, zero shuffles (was two:
    posexplode + groupBy-doc). Each term is < mod ~ 2^30, so the long
    accumulator cannot overflow at any realistic token count."""
    terms = (
        f"transform(split({text_col}, ' '), (t, i) -> CASE WHEN t != '' "
        f"THEN ((i + 1) * (cast(conv(substring(md5(t), 1, 15), 16, 10) "
        f"as bigint) % {mod})) % {mod} ELSE 0L END)"
    )
    # cheap emptiness filter before the hash projection (trim != ''
    # iff some token is non-empty; split is on single spaces):
    # row-count consumers never evaluate the md5 terms
    return df.filter(f"trim({text_col}) != ''").selectExpr(
        f"{id_col} AS doc", f"{terms} AS __t"
    ).selectExpr(
        "doc",
        f"aggregate(__t, 0L, (acc, x) -> acc + x) % {mod} AS fingerprint",
    )
