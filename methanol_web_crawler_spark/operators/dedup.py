"""Deduplication operators for large-scale training-data pipelines.

Exact dedup, MinHash+LSH, SimHash, n-gram Jaccard and embedding-cosine
near-dup — each as a DataFrame transformation built from JVM-side
built-ins (no Python in the hot path). Hashes derive from md5 so each
operator has an exact integer-deterministic SQL oracle (DuckDB):

    token_hash = cast(conv(substr(md5(token),1,15),16,10) as bigint) % m

All shuffles key on the dedup hash/bucket; at 100 TB the heavy ops
(explode + groupBy token hashes, band-bucket self-joins) partition by
those keys and skew is bounded by band-bucket size caps.

Expressions are written as SQL text (``selectExpr``/``F.expr``, one
string per output column) and the helpers take column names: building
a plan is driver time with no Spark job running, and each Column-API
node costs about a dozen py4j round trips (PySpark's per-node query
context) — ``F.col`` 1.5 ms, ``F.transform`` with a Python lambda
6.9 ms — where one ``F.expr`` string costs ~0.3 ms and 3-7 round
trips whatever its size (PLANS.md, "Plan building on the driver").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# MinHash parameters — small enough that a*h+b stays < 2^60 (no
# overflow in either engine's int64 arithmetic)
MINHASH_M = 1073741789  # prime < 2^30
MINHASH_K = 16
LSH_BANDS = 4  # 4 rows per band


def _token_hash_of(tok: str, m: int = MINHASH_M) -> str:
    """md5-derived integer token hash, portable to ANSI SQL, as SQL
    text over a column or lambda variable name (for within-row
    higher-order expressions)."""
    return (f"(cast(conv(substring(md5({tok}), 1, 15), 16, 10) as bigint)"
            f" % {m})")


def token_array(text_col: str) -> str:
    """Distinct whitespace tokens of one document as an array —
    within-row (array_distinct), no shuffle. Equals the distinct
    (doc, token) set when doc ids are unique per input row."""
    return f"array_distinct(filter(split({text_col}, ' '), t -> t != ''))"


def tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Distinct whitespace tokens per document (exploded).

    Dedup happens within-row (array_distinct before the explode)
    instead of a corpus-wide ``.distinct()``: one Generate, ZERO
    exchanges — the old global distinct shuffled every (doc, token)
    edge for nothing, since ids are unique per input row (callers'
    precondition; documents/_duped_docs corpora satisfy it)."""
    return df.selectExpr(
        f"{id_col} AS doc", f"explode({token_array(text_col)}) AS token"
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact content dedup: md5(text) groups; keeps the min id as the
    canonical representative and counts duplicates."""
    return df.groupBy(F.expr(f"md5({text_col}) AS content_hash")).agg(
        F.expr(f"min({id_col}) AS keep_id"), F.expr("count(*) AS n_copies")
    )


def _hashed_tokens(df: DataFrame, id_col: str, text_col: str,
                   hash_sql: str) -> DataFrame:
    """(doc, __h): each non-empty document's distinct tokens hashed by
    ``hash_sql`` (SQL text over the token variable ``t``).

    Filters BEFORE tokenizing/hashing: trim(text) != '' is true iff
    the distinct token set is non-empty (split is on single spaces),
    so row-count consumers never pay for split/array_distinct or the
    md5 transform. Two-step projection: __h is referenced many times
    downstream, and the md5 hashing is expensive enough that
    CollapseProject keeps the producing Project separate (one hash
    pass, then the per-signature passes)."""
    return df.filter(f"trim({text_col}) != ''").selectExpr(
        f"{id_col} AS doc", f"transform({token_array(text_col)}, "
        f"t -> {hash_sql}) AS __h"
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str,
    k: int = MINHASH_K, m: int = MINHASH_M,
) -> DataFrame:
    """k-permutation MinHash signature per document.

    sig_i = min over tokens of (a_i * h(token) + b_i) mod m with
    a_i = 2i+3, b_i = 104729*i + 12345 — shared verbatim with the SQL
    oracle so signatures match bit-for-bit.

    Computed entirely within-row (array_min over the hashed token
    array): the old explode + distinct + groupBy-doc shape cost two
    exchanges per use; this is a pure JVM projection — zero shuffles
    at any corpus size. Docs with no tokens drop out, exactly as the
    groupBy over the empty exploded set did.
    """
    base = _hashed_tokens(df, id_col, text_col, _token_hash_of("t", m))
    return base.selectExpr("doc", *[
        f"array_min(transform(__h, h -> ({2 * i + 3} * h + "
        f"{104729 * i + 12345}) % {m})) AS sig{i}"
        for i in range(k)
    ])


def minhash_lsh_pairs(
    df: DataFrame, id_col: str, text_col: str,
    k: int = MINHASH_K, bands: int = LSH_BANDS, m: int = MINHASH_M,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Candidate near-dup pairs: documents sharing any LSH band.

    Signatures are banded (k/bands rows per band); a band's bucket key
    is the tuple of its signature values; a self-join per band emits
    pairs, deduplicated across bands. The band self-join partitions by
    the bucket key — the scale-defining shuffle.

    ``max_bucket_size`` bounds the skew bomb: a bucket with n docs
    emits O(n^2) pairs, and a duplicate-heavy corpus concentrates
    thousands of docs in one bucket. Buckets above the cap are dropped
    whole (deterministically — mirrored in the SQL oracle); such
    mega-clusters are exact-dup territory and far cheaper to collapse
    with dedup_exact than to enumerate pairwise. 0 disables.

    Shape: signatures are a within-row projection (zero exchanges —
    see minhash_signatures), each doc explodes into ``bands``
    (band, bucket) rows in ONE pass, and the count window + self-join
    share the (band, bucket) exchange. The old shape built each band
    as a separate select over the aggregated signatures, and per-band
    column pruning specialised each aggregate — 24 exchanges at
    k=16/bands=4 because neither band frames nor join sides could
    reuse each other's exchanges. (A collect_list + within-row pair
    explosion variant measured SLOWER: materialising O(n^2) pair
    structs per bucket in an ObjectHashAggregate loses to the
    streaming sort-merge self-join.)"""
    rows = k // bands
    sig = minhash_signatures(df, id_col, text_col, k, m)
    band_structs = ", ".join(
        f"named_struct('band', {b}, 'bucket', concat_ws('_', "
        + ", ".join(f"cast(sig{b * rows + j} as string)"
                    for j in range(rows))
        + "))"
        for b in range(bands)
    )
    banded = sig.selectExpr("doc", f"inline(array({band_structs}))")
    # explicit bucket-keyed repartition instead of letting the window/
    # join demand the exchange: AQE sizes post-shuffle partitions by
    # INPUT bytes, but this stage's output is QUADRATIC in bucket size
    # (each bucket emits O(n^2) pairs), so input-sized coalescing
    # systematically under-parallelizes the pair generation (measured:
    # a ~9 MB banded shuffle coalesced to 4 tasks that then wrote
    # 70 MB of pairs in 2.7 s; uncoalesced, the same work spreads over
    # shuffle.partitions tasks). A user repartition is never coalesced.
    n_shuffle = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    banded = banded.repartition(n_shuffle, "band", "bucket")
    if max_bucket_size:
        # same shuffle key as the self-join below, so the window's
        # exchange is reused rather than added
        banded = _cap_groups(banded, "band, bucket", max_bucket_size)
    return (
        banded.alias("a").join(
            banded.alias("b"),
            F.expr("a.band = b.band AND a.bucket = b.bucket "
                   "AND a.doc < b.doc"),
        )
        .selectExpr("a.doc AS doc_a", "b.doc AS doc_b")
        .distinct()
    )


def _cap_groups(df: DataFrame, keys: str, cap: int) -> DataFrame:
    """Rows of ``df`` whose group over ``keys`` (SQL text) has at most
    ``cap`` rows — a count window, so no join back."""
    return (
        df.withColumn("__n", F.expr(f"count(*) OVER (PARTITION BY {keys})"))
        .filter(f"__n <= {cap}")
        .drop("__n")
    )


def simhash(df: DataFrame, id_col: str, text_col: str,
            bits: int = 16) -> DataFrame:
    """SimHash fingerprint per document (bit-majority of token hashes).

    Uses ``bits`` bits of the md5-derived token hash; each bit's
    weight is +1/-1 per distinct token; the fingerprint sets bits with
    positive majority. Integer-deterministic — exact SQL oracle.

    Within-row: w_i = (#set) - (#unset) = 2*(#set) - n_tokens, so
    bit i is set iff 2*size(filter(h, bit_i)) > n_tokens — a pure JVM
    projection over the hashed token array, zero shuffles (was two:
    explode+distinct and groupBy-doc)."""
    base = _hashed_tokens(df, id_col, text_col,
                          f"{_token_hash_of('t')} % {1 << bits}")
    fp = " + ".join(
        f"CASE WHEN size(filter(__h, h -> (shiftright(h, {i}) & 1) = 1))"
        f" * 2 > size(__h) THEN {1 << i} ELSE 0 END"
        for i in range(bits)
    )
    return base.selectExpr("doc", f"cast({fp} as bigint) AS simhash")


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str,
    mod_a: int = 7, mod_b: int = 5, threshold: float = 0.3,
    max_token_df: int = 1000,
) -> DataFrame:
    """Token-set Jaccard similarity over a deterministic pair sample
    (ids ≡0 mod a × ids ≡0 mod b). Returns pairs ≥ threshold with the
    similarity as a rounded double (exact under an unnest+join SQL
    oracle).

    ``max_token_df`` drops tokens whose document frequency exceeds the
    cap BEFORE the token join — a stopword appearing in every document
    turns the join quadratic in corpus size; dropping it barely moves
    Jaccard (it intersects everything) but removes the hot key.
    NOTE: the cap changes n_a/n_b (set sizes count surviving tokens),
    so it is mirrored exactly in the SQL oracle. 0 disables.

    Shape notes: the doc-frequency cap must see the WHOLE corpus, but
    everything after it only needs docs in one of the two samples —
    the sample filter runs right after the cap, shrinking the size
    window and the token join input to ~(1/mod_a + 1/mod_b) of the
    corpus. Set sizes come from a count window over doc (surviving
    tokens only — sample filtering keeps whole docs, so n is
    unchanged) instead of a groupBy+join back."""
    tok = tokens(df, id_col, text_col)
    if max_token_df:
        tok = _cap_groups(tok, "token", max_token_df)
    sized = tok.filter(
        f"doc % {mod_a} = 0 OR doc % {mod_b} = 0"
    ).withColumn("n", F.expr("count(*) OVER (PARTITION BY doc)"))
    ta = sized.filter(f"doc % {mod_a} = 0").selectExpr(
        "doc AS doc_a", "n AS n_a", "token"
    )
    tb = sized.filter(f"doc % {mod_b} = 0").selectExpr(
        "doc AS doc_b", "n AS n_b", "token"
    )
    return (
        ta.join(tb, "token")
        .filter("doc_a < doc_b")
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.expr("count(*) AS n_inter"))
        .selectExpr("doc_a", "doc_b", "round(n_inter / "
                    "(n_a + n_b - n_inter), 6) AS jaccard")
        .filter(f"jaccard >= {threshold!r}D")
    )


def embedding_cosine_pairs_exact(
    df: DataFrame, id_col: str, vec_col: str,
    sample_mod: int = 10, top_n: int = 20,
) -> DataFrame:
    """Exact cosine over a deterministic pair sample, top-N by rounded
    score — TEST ORACLE ONLY. The a<b theta-join is a
    BroadcastNestedLoopJoin by construction (O(N^2/sample_mod)
    comparisons), so this is never registered as a pipeline entry; the
    pipeline path is ``embedding_cosine_pairs_lsh`` below, whose
    recall pytest uses this as the ground truth
    (tests/test_dedup_skew_caps.py). Double-precision math stays
    JVM-side via ``aggregate``/``zip_with``."""
    from .similarity import _dot, _norm

    base = df.selectExpr(
        f"{id_col} AS id", f"cast({vec_col} as array<double>) AS vec"
    ).selectExpr("id", "vec", f"{_norm('vec')} AS norm")
    a = base.filter(f"id % {sample_mod} = 0").alias("a")
    return (
        a.join(base.alias("b"), F.expr("a.id < b.id"))
        .selectExpr(
            "a.id AS id_a", "b.id AS id_b",
            f"round({_dot('a.vec', 'b.vec')} / (a.norm * b.norm), 4)"
            " AS cosine",
        )
        .orderBy(F.desc("cosine"), "id_a", "id_b")
        .limit(top_n)
    )


def embedding_cosine_pairs_lsh(
    df: DataFrame, id_col: str, vec_col: str,
    threshold: float = 0.3, n_planes: int = 6, dim: int = 64,
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """Embedding near-dup, the SCALE path: random-hyperplane LSH
    buckets first, exact cosine only within a bucket. The self-join
    keys on the sign-bucket — a bucket-partitioned shuffle instead of
    the O(N^2) cartesian of ``embedding_cosine_pairs`` (which stays
    registered only as the exact small-scale baseline). Same
    deterministic hyperplanes as similarity.lsh_topk, so the DuckDB
    oracle embeds them as full-precision literals."""
    from .similarity import _dot, bucketed_vectors

    base = bucketed_vectors(df, id_col, vec_col, n_planes, dim)
    # same rationale as minhash_lsh_pairs: pair output is quadratic in
    # bucket size, so keep the bucket exchange at full width instead
    # of letting AQE coalesce it by (small) input bytes
    base = base.repartition(
        int(df.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "200"
        )),
        "bucket",
    )
    if max_bucket_size:
        base = _cap_groups(base, "bucket", max_bucket_size)
    return (
        base.alias("a").join(
            base.alias("b"), F.expr("a.bucket = b.bucket AND a.id < b.id")
        )
        .selectExpr(
            "a.id AS id_a", "b.id AS id_b",
            f"round({_dot('a.vec', 'b.vec')} / (a.norm * b.norm), 4)"
            " AS cosine",
        )
        .filter(f"cosine >= {threshold!r}D")
    )


def connected_components(
    edges: DataFrame, src: str = "doc_a", dst: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Near-dup clusters: connected components over a pair list via
    iterative min-label propagation — each iteration is one join +
    aggregate, the scalable way to cluster 10^9 LSH candidate pairs;
    no driver-side graph.

    Returns (doc, component) where component is the minimum doc id
    reachable. Plain min-label propagation converges in O(graph
    diameter) iterations — effectively constant for dedup clusters
    (near-cliques); corpora with long chain topologies would want the
    alternating small-star/large-star variant instead. Converges
    within ``max_iter`` on typical dedup
    graphs; ``max_iter`` bounds pathological chains.
    """
    from pyspark.sql import functions as F

    # undirected edge list, materialized ONCE: every iteration joins
    # against it, and without the checkpoint each iteration's job
    # re-ran the entire upstream edge pipeline (for LSH/Jaccard edges,
    # the full token/signature computation) from the parquet scan
    fwd = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = fwd.unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    ).distinct().localCheckpoint()
    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    comp_type = labels.schema["component"].dataType
    for _ in range(max_iter):
        # propagate the min label across one hop
        prop = (
            und.join(labels, und.a == labels.node)
            .select(F.col("b").alias("node"),
                    F.col("component").alias("cand"))
        )
        # carry each node's previous label through the aggregate (the
        # labels row contributes it; min ignores the prop rows' NULL)
        # so convergence is read off the checkpointed result with a
        # metadata-cheap scan instead of a second full propagation job
        # — the old shape ran the join+agg twice per iteration (once
        # for the changed-count, once for the checkpoint) plus a
        # label-vs-label join
        merged = labels.select(
            "node",
            F.col("component").alias("cand"),
            F.col("component").alias("old"),
        ).unionByName(
            prop.withColumn("old", F.lit(None).cast(comp_type))
        )
        new_labels = (
            merged.groupBy("node")
            .agg(
                F.min("cand").alias("component"),
                F.min("old").alias("old"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.filter(F.col("component") < F.col("old"))
            .limit(1)
            .count()
        )
        labels = new_labels.select("node", "component")
        if changed == 0:
            break
    return labels.select(F.col("node").alias("doc"), "component")
