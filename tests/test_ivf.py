"""IVF ANN: training adaptivity, pruned recall, exhaustive-probe
exactness, and the scale-shape plan audit. Driver-level oracle parity
(pruned pipeline replayed in SQL) lives in test_queries_vs_duckdb via
the ann_ivf_topk registration."""

import pytest
from pyspark.sql import functions as F

from methanol_web_crawler_spark.operators.similarity import (
    _dist_structs,
    brute_force_topk,
    ivf_topk,
    quantize_fixed_point,
    train_ivf_centroids,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _pairs(df):
    return {
        (r["query_id"], r["neighbor_id"]) for r in df.collect()
    }


class TestIvfTopk:
    def test_exhaustive_probe_equals_brute(self, spark, emb):
        """nprobe = k_lists covers every list, so IVF must return the
        exact brute-force top-k — proves assignment/probe/re-rank
        plumbing loses nothing."""
        brute = brute_force_topk(emb, "vec_id", "embedding")
        ivf = ivf_topk(
            emb, "vec_id", "embedding", k_lists=8, nprobe=8
        )
        assert sorted(map(tuple, brute.collect())) == sorted(
            map(tuple, ivf.collect())
        )

    def test_pruned_recall(self, spark, emb):
        """nprobe=3 of 8 lists: recall@10 vs brute force. The
        embeddings are cluster-structured (label column), which is
        exactly what a trained quantizer exploits; measured recall on
        this corpus is ~0.9+, pinned conservatively."""
        brute = _pairs(brute_force_topk(emb, "vec_id", "embedding"))
        ivf = _pairs(ivf_topk(emb, "vec_id", "embedding", nprobe=3))
        recall = len(brute & ivf) / len(brute)
        assert recall >= 0.7, f"recall@10 collapsed: {recall}"

    def test_training_reduces_quantization_error(self, spark, emb):
        """Lloyd's iterations must not increase the total squared
        distance to the assigned centroid (monotone by construction;
        integer-floored means can only add a bounded rounding term)."""
        base = emb.selectExpr(
            "vec_id AS id",
            quantize_fixed_point("cast(embedding as array<double>)")
            + " AS qv",
        )
        init = [
            list(r["qv"])
            for r in base.filter("id < 8").orderBy("id").collect()
        ]
        trained = train_ivf_centroids(
            emb, "vec_id", "embedding", k_lists=8, iters=2
        )
        assert trained != init

        def err(cents):
            return base.selectExpr(
                f"array_sort({_dist_structs('qv', cents)})[0].d AS d"
            ).agg(F.sum("d")).collect()[0][0]

        assert err(trained) < err(init)

    def test_plan_shape(self, spark, emb):
        """The pruned candidate join must be a broadcast EQUI-join on
        the list id (no cross product — the whole point of IVF at
        scale) and the plan must stay JVM-side (no Python eval)."""
        from tests.test_plan_audit import formatted_plan

        plan = formatted_plan(
            ivf_topk(emb, "vec_id", "embedding", nprobe=3)
        )
        assert "BroadcastHashJoin" in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
