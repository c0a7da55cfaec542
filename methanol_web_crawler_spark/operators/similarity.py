"""Approximate nearest-neighbor search over embedding columns.

Brute-force cosine top-k is the correctness baseline (fully JVM-side:
``zip_with`` + ``aggregate`` fold, broadcast query set); the LSH
variant (random-hyperplane sign buckets) is the scale path — the
brute-force cross product is O(N·Q), the LSH one only compares within
buckets, partitioned by bucket key.

Hyperplanes are pseudo-random but deterministic: plane_i[j] =
sin(i*997 + j) — reproducible in ANSI SQL for oracle checks and
identical across runs/cluster sizes.

The expression helpers take column names (or SQL text) and return SQL
text, so each output column costs one ``selectExpr``/``F.expr`` string
to build: a Column-API node costs about a dozen py4j round trips on
the driver, and the 6 x 64 hyperplane ladder of ``lsh_bucket`` as
Columns would be ~400 ``F.lit`` nodes (PLANS.md, "Plan building on
the driver"). Doubles enter the text as ``repr(x)D`` literals, which
Spark parses to the same bits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _dot(a: str, b: str) -> str:
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
            f"(acc, v) -> acc + v)")


def _norm(v: str) -> str:
    return f"sqrt(aggregate({v}, 0.0D, (acc, x) -> acc + x * x))"


def _vectors(df: DataFrame, id_col: str, vec_col: str, *extra: str):
    """(id, vec, norm, *extra): vectors as array<double> with their L2
    norm; ``extra`` are further SQL columns over ``vec``."""
    return df.selectExpr(
        f"{id_col} AS id", f"cast({vec_col} as array<double>) AS vec"
    ).selectExpr("id", "vec", f"{_norm('vec')} AS norm", *extra)


def _rerank_topk(cands: DataFrame, k: int) -> DataFrame:
    """Exact cosine top-k per query over candidate (vec, norm) x
    (query_id, qvec, qnorm) rows: rank by rounded cosine, ties to the
    lowest neighbor id."""
    return cands.selectExpr(
        "query_id", "id AS neighbor_id",
        f"round({_dot('vec', 'qvec')} / (norm * qnorm), 4) AS cosine",
    ).selectExpr(
        "query_id", "row_number() OVER (PARTITION BY query_id "
        "ORDER BY cosine DESC, neighbor_id) AS rank",
        "neighbor_id", "cosine",
    ).filter(f"rank <= {k}")


def _queries(base: DataFrame, n_queries: int, *extra: str) -> DataFrame:
    """The first ``n_queries`` ids of ``base`` as the query side."""
    return base.filter(f"id < {n_queries}").selectExpr(
        "id AS query_id", "vec AS qvec", "norm AS qnorm", *extra
    )


def brute_force_topk(
    df: DataFrame, id_col: str, vec_col: str,
    n_queries: int = 5, k: int = 10,
) -> DataFrame:
    """Exact cosine top-k: the first ``n_queries`` ids (deterministic)
    against the whole table. Query side is broadcast — no shuffle of
    the big side."""
    base = _vectors(df, id_col, vec_col)
    return _rerank_topk(
        base.join(F.broadcast(_queries(base, n_queries)),
                  F.expr("id != query_id")),
        k,
    )


def hyperplanes(dim: int, n_planes: int = 8):
    """Deterministic pseudo-random hyperplane matrix: plane_i[j] =
    sin(i*997 + j)."""
    import math

    return [
        [math.sin(i * 997 + j) for j in range(dim)]
        for i in range(n_planes)
    ]


def double_array(xs) -> str:
    """SQL text of an array<double> literal with exactly these values:
    ``repr`` is the shortest text that round-trips a Python float, and
    Spark parses a ``D``-suffixed literal with Java's correctly rounded
    ``Double.parseDouble``."""
    return f"array({', '.join(f'{x!r}D' for x in xs)})"


def lsh_bucket(vec_col: str, planes) -> str:
    """Sign-bit bucket id of a vector against the hyperplanes —
    pure JVM expression."""
    return "(" + " + ".join(
        f"CASE WHEN {_dot(vec_col, double_array(plane))} > 0 "
        f"THEN {1 << i} ELSE 0 END"
        for i, plane in enumerate(planes)
    ) + ")"


def bucketed_vectors(df: DataFrame, id_col: str, vec_col: str,
                     n_planes: int, dim: int) -> DataFrame:
    """(id, vec, norm, bucket): vectors with their hyperplane-LSH
    sign bucket."""
    planes = hyperplanes(dim, n_planes)
    return _vectors(df, id_col, vec_col,
                    f"{lsh_bucket('vec', planes)} AS bucket")


def quantize_fixed_point(vec_col: str, scale: float = 1000.0) -> str:
    """Fixed-point quantization: floor(x*scale + 0.5) as long.

    Each step (cast float->double, one multiply, one add, floor) is a
    single IEEE-754 operation, so the result is bit-identical in Spark
    and in the DuckDB oracle — all downstream IVF *training* arithmetic
    (squared distances, integer-division means) is exact int64 math
    with zero float-summation-order risk. Quantized (int8/int16/fixed-
    point) vectors are also the standard ANN memory layout at scale,
    so this is the representation a 100 TB deployment would store."""
    return (f"transform({vec_col}, "
            f"x -> cast(floor(x * {scale!r}D + 0.5D) as bigint))")


def _int_sqdist(qv_col: str, centroid) -> str:
    """Exact int64 squared L2 distance between a quantized vector
    column and a Python centroid literal — pure JVM fold."""
    lit = ", ".join(f"{int(v)}L" for v in centroid)
    return (f"aggregate(zip_with({qv_col}, array({lit}), "
            f"(p, q) -> (p - q) * (p - q)), 0L, (acc, x) -> acc + x)")


def _dist_structs(qv_col: str, centroids) -> str:
    """Array of (squared-distance, list-id) structs, one per centroid.
    ``array_sort`` on it yields ascending distance with ties broken by
    the lowest list id — the argmin/probe-ranking convention the
    DuckDB oracle replicates with ``row_number() OVER (ORDER BY d, i)``."""
    return "array(" + ", ".join(
        f"named_struct('d', {_int_sqdist(qv_col, c)}, 'i', {i})"
        for i, c in enumerate(centroids)
    ) + ")"


def train_ivf_centroids(
    df: DataFrame, id_col: str, vec_col: str,
    k_lists: int = 8, iters: int = 2,
) -> list:
    """Lloyd's k-means coarse quantizer over fixed-point vectors.

    Deterministic init (the ``k_lists`` lowest-id vectors), then
    ``iters`` rounds of assign (exact int64 argmin, ties to the lowest
    list id) + recompute (elementwise floor(sum/count) integer mean;
    an empty list keeps its previous centroid). The assign and the
    per-dimension mean are distributed DataFrame ops (posexplode +
    groupBy); only the k_lists x dim aggregate (a few KB) is collected
    per iteration — the same small-side-collect posture as
    dedup_components. floor(sum/count) via double division is exact
    while |sum| < 2^53 and the quotient is at least 1/count away from
    any integer it doesn't hit exactly — true for any realistic list
    size, and bit-identical in the DuckDB oracle."""
    base = df.selectExpr(
        f"{id_col} AS id",
        f"{quantize_fixed_point(f'cast({vec_col} as array<double>)')}"
        " AS qv",
    )
    cents = [
        list(r["qv"])
        for r in base.filter(f"id < {k_lists}").orderBy("id").collect()
    ]
    for _ in range(iters):
        rows = (
            base.selectExpr(
                f"array_sort({_dist_structs('qv', cents)})[0].i AS lst",
                "posexplode(qv) AS (j, v)",
            )
            .groupBy("lst", "j")
            .agg(F.expr("cast(floor(cast(sum(v) as double) / "
                        "cast(count(1) as double)) as bigint) AS m"))
            .collect()
        )
        by_list: dict = {}
        for r in rows:
            by_list.setdefault(r["lst"], {})[r["j"]] = r["m"]
        cents = [
            [by_list[i][j] for j in sorted(by_list[i])]
            if i in by_list else cents[i]
            for i in range(k_lists)
        ]
    return cents


def ivf_topk(
    df: DataFrame, id_col: str, vec_col: str,
    k_lists: int = 8, iters: int = 2, nprobe: int = 3,
    n_queries: int = 5, k: int = 10,
) -> DataFrame:
    """ANN via an IVF (inverted-file) index: a k-means coarse
    quantizer trained on the data assigns every vector to its nearest
    centroid's list; a query ranks the centroids by distance, probes
    only the ``nprobe`` nearest lists, and exact-cosine re-ranks the
    candidates inside them.

    The scale path vs brute force: the candidate join is a bucket
    equi-join on the list id (queries side broadcast), so a 10^10-row
    embedding table shuffles nothing and scans nprobe/k_lists of the
    lists per query instead of the full cross product. Unlike LSH's
    data-oblivious hyperplanes, the lists adapt to the data's cluster
    structure (FAISS IndexIVFFlat semantics)."""
    cents = train_ivf_centroids(df, id_col, vec_col, k_lists, iters)
    ranked = f"array_sort({_dist_structs(quantize_fixed_point('vec'), cents)})"
    base = _vectors(df, id_col, vec_col, f"{ranked} AS ranked")
    listed = base.selectExpr("id", "vec", "norm", "ranked[0].i AS lst")
    queries = _queries(
        base, n_queries,
        f"explode(slice(transform(ranked, s -> s.i), 1, {nprobe})) AS plst",
    )
    return _rerank_topk(
        listed.join(F.broadcast(queries),
                    F.expr("lst = plst AND id != query_id")),
        k,
    )


def lsh_topk(
    df: DataFrame, id_col: str, vec_col: str,
    n_queries: int = 5, k: int = 10, n_planes: int = 6, dim: int = 64,
) -> DataFrame:
    """ANN via random-hyperplane LSH: candidates share the query's
    sign-bucket; exact cosine re-rank within the bucket. Recall is
    approximate by construction — the scale path for 10^10-row
    embedding tables (bucket-partitioned shuffle instead of a cross
    product)."""
    base = bucketed_vectors(df, id_col, vec_col, n_planes, dim)
    queries = _queries(base, n_queries, "bucket AS qbucket")
    return _rerank_topk(
        base.join(F.broadcast(queries),
                  F.expr("bucket = qbucket AND id != query_id")),
        k,
    )
