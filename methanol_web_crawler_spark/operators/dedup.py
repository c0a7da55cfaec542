"""Deduplication operators for large-scale training-data pipelines.

Exact dedup, MinHash+LSH, SimHash, n-gram Jaccard and embedding-cosine
near-dup — each as a DataFrame transformation built from JVM-side
built-ins (no Python in the hot path). Hashes derive from md5 so each
operator has an exact integer-deterministic SQL oracle (DuckDB):

    token_hash = cast(conv(substr(md5(token),1,15),16,10) as bigint) % m

All shuffles key on the dedup hash/bucket; at 100 TB the heavy ops
(explode + groupBy token hashes, band-bucket self-joins) partition by
those keys and skew is bounded by band-bucket size caps.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame, functions as F

# MinHash parameters — small enough that a*h+b stays < 2^60 (no
# overflow in either engine's int64 arithmetic)
MINHASH_M = 1073741789  # prime < 2^30
MINHASH_K = 16
LSH_BANDS = 4  # 4 rows per band


def _token_hash_of(tok, m: int = MINHASH_M):
    """md5-derived integer token hash, portable to ANSI SQL, over an
    arbitrary column/lambda arg (for within-row higher-order
    expressions)."""
    return (
        F.conv(F.substring(F.md5(tok), 1, 15), 16, 10)
        .cast("long") % F.lit(m)
    )


def token_array(text_col) -> "F.Column":
    """Distinct whitespace tokens of one document as an array —
    within-row (array_distinct), no shuffle. Equals the distinct
    (doc, token) set when doc ids are unique per input row."""
    return F.array_distinct(
        F.filter(F.split(text_col, " "), lambda t: t != "")
    )


def tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Distinct whitespace tokens per document (exploded).

    Dedup happens within-row (array_distinct before the explode)
    instead of a corpus-wide ``.distinct()``: one Generate, ZERO
    exchanges — the old global distinct shuffled every (doc, token)
    edge for nothing, since ids are unique per input row (callers'
    precondition; documents/_duped_docs corpora satisfy it)."""
    return df.select(
        F.col(id_col).alias("doc"),
        F.explode(token_array(F.col(text_col))).alias("token"),
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact content dedup: md5(text) groups; keeps the min id as the
    canonical representative and counts duplicates."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
        .filter(F.col("n_copies") >= 1)
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
    # filter BEFORE tokenizing/hashing: trim(text) != '' is true iff
    # the distinct token set is non-empty (split is on single spaces),
    # so row-count consumers never pay for split/array_distinct or the
    # md5 transform
    toks = df.filter(F.trim(F.col(text_col)) != "").select(
        F.col(id_col).alias("doc"),
        token_array(F.col(text_col)).alias("__toks"),
    )
    # two-step projection: __h is referenced k times below, and the
    # md5 hashing is expensive enough that CollapseProject keeps the
    # producing Project separate (one hash pass, k min passes)
    base = toks.select(
        "doc",
        F.transform(
            F.col("__toks"), lambda t: _token_hash_of(t, m)
        ).alias("__h"),
    )
    sigs = [
        F.array_min(
            F.transform(
                F.col("__h"),
                lambda h: (F.lit(2 * i + 3) * h
                           + F.lit(104729 * i + 12345)) % F.lit(m),
            )
        ).alias(f"sig{i}")
        for i in range(k)
    ]
    return base.select("doc", *sigs)


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
    from pyspark.sql import Window

    rows = k // bands
    sig = minhash_signatures(df, id_col, text_col, k, m)
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "_",
                *[F.col(f"sig{b * rows + j}").cast("string")
                  for j in range(rows)],
            ).alias("bucket"),
        )
        for b in range(bands)
    ])
    banded = sig.select(
        "doc", F.explode(band_structs).alias("bb")
    ).select("doc", "bb.band", "bb.bucket")
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
        wb = Window.partitionBy("band", "bucket")
        banded = (
            banded.withColumn("__bn", F.count("*").over(wb))
            .filter(F.col("__bn") <= max_bucket_size)
            .drop("__bn")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b")
        )
        .distinct()
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
    # filter before tokenizing/hashing (as in minhash_signatures):
    # row-count consumers never pay for the md5 transform
    toks = df.filter(F.trim(F.col(text_col)) != "").select(
        F.col(id_col).alias("doc"),
        token_array(F.col(text_col)).alias("__toks"),
    )
    base = toks.select(
        "doc",
        F.transform(
            F.col("__toks"),
            lambda t: _token_hash_of(t) % F.lit(1 << bits),
        ).alias("__h"),
    )
    ntok = F.size(F.col("__h"))
    fp = None
    for i in range(bits):
        nset = F.size(
            F.filter(
                F.col("__h"),
                lambda h: F.shiftright(h, i).bitwiseAND(1) == 1,
            )
        )
        term = F.when(nset * 2 > ntok, F.lit(1 << i)).otherwise(0)
        fp = term if fp is None else (fp + term)
    return base.select("doc", fp.cast("long").alias("simhash"))


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
    from pyspark.sql import Window

    tok = tokens(df, id_col, text_col)
    if max_token_df:
        wt = Window.partitionBy("token")
        tok = (
            tok.withColumn("__df", F.count("*").over(wt))
            .filter(F.col("__df") <= max_token_df)
            .drop("__df")
        )
    tok = tok.filter(
        (F.col("doc") % mod_a == 0) | (F.col("doc") % mod_b == 0)
    )
    sized = tok.withColumn(
        "n", F.count("*").over(Window.partitionBy("doc"))
    )
    ta = sized.filter(F.col("doc") % mod_a == 0).select(
        F.col("doc").alias("doc_a"), F.col("n").alias("n_a"), "token"
    )
    tb = sized.filter(F.col("doc") % mod_b == 0).select(
        F.col("doc").alias("doc_b"), F.col("n").alias("n_b"), "token"
    )
    inter = (
        ta.join(tb, "token")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count("*").alias("n_inter"))
    )
    jac = inter.withColumn(
        "jaccard",
        F.round(
            F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
            6,
        ),
    )
    return jac.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "jaccard"
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
    dotv = F.aggregate(
        F.zip_with(
            F.col("a.vec").cast("array<double>"),
            F.col("b.vec").cast("array<double>"),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.sqrt(
            F.aggregate(
                F.col(vec_col).cast("array<double>"),
                F.lit(0.0),
                lambda acc, x: acc + x * x,
            )
        ).alias("norm"),
    )
    a = base.filter(F.col("id") % sample_mod == 0).alias("a")
    b = base.alias("b")
    pairs = (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(
                dotv / (F.col("a.norm") * F.col("b.norm")), 4
            ).alias("cosine"),
        )
    )
    return pairs.orderBy(
        F.col("cosine").desc(), "id_a", "id_b"
    ).limit(top_n)


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
    from pyspark.sql import Window

    from .similarity import _dot, _norm, hyperplanes, lsh_bucket

    planes = hyperplanes(dim, n_planes)
    base = (
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        )
        .withColumn("norm", _norm(F.col("vec")))
        .withColumn("bucket", lsh_bucket(F.col("vec"), planes))
    )
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
        wb = Window.partitionBy("bucket")
        base = (
            base.withColumn("__bn", F.count("*").over(wb))
            .filter(F.col("__bn") <= max_bucket_size)
            .drop("__bn")
        )
    a = base.alias("a")
    b = base.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(
                _dot(F.col("a.vec"), F.col("b.vec"))
                / (F.col("a.norm") * F.col("b.norm")),
                4,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
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
