"""IVF ANN operator (operators/ivf.py): trained-centroid builder
determinism, cell assignment shape, and the trained-path search — the
production seam next to the oracle-pinned lowest-id driver form
(entry_queries.q_ann_ivf).

The recall evidence lives in tools/ivf_recall_sweep.py → BENCH/PLANS.md;
here we pin the mechanics: same input → same centroids, every vector in
exactly one cell, kmeans-path top-k has the ann_topk output shape, and
on a fixture WITH cluster structure the trained path recovers the
clusters (where lowest-id centroids need not)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from bucketizers_spark.operators.ivf import (
    assign_cells_vec,
    collect_centroid_rows,
    ivf_topk,
    kmeans_centroids,
    lowest_id_centroids,
)


def _clustered_emb(spark, n_clusters=4, per=25, dim=8):
    """Deterministic clustered embeddings: cluster c's members are
    one-hot(e_c) + small deterministic jitter — clearly separable."""
    rows = []
    for c in range(n_clusters):
        for i in range(per):
            v = [0.0] * dim
            v[c] = 10.0
            # deterministic jitter, different per member, small
            for d in range(dim):
                v[d] += math.sin(c * 97 + i * 13 + d) * 0.3
            rows.append((c * per + i, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


class TestKmeansCentroids:
    def test_deterministic(self, spark):
        emb = _clustered_emb(spark)
        a = kmeans_centroids(emb, 4).collect()
        b = kmeans_centroids(emb, 4).collect()
        assert sorted((r["c_id"], tuple(r["ce"])) for r in a) == sorted(
            (r["c_id"], tuple(r["ce"])) for r in b
        )

    def test_recovers_cluster_structure(self, spark):
        emb = _clustered_emb(spark)
        cents = kmeans_centroids(emb, 4, iters=10)
        cells = assign_cells_vec(emb, collect_centroid_rows(cents))
        # members of the same true cluster land in the same cell
        got = (
            cells.withColumn("true_c", (F.col("vec_id") / 25).cast("int"))
            .groupBy("true_c")
            .agg(F.countDistinct("cell").alias("ncells"))
            .collect()
        )
        assert all(r["ncells"] == 1 for r in got)
        # and distinct clusters get distinct cells
        ncells = cells.select("cell").distinct().count()
        assert ncells == 4

    def test_k_capped_at_sample(self, spark):
        emb = _clustered_emb(spark, n_clusters=1, per=3)
        assert kmeans_centroids(emb, 16).count() == 3


class TestAssignCells:
    def test_every_vector_exactly_one_cell(self, spark):
        emb = _clustered_emb(spark)
        cells = assign_cells_vec(
            emb, collect_centroid_rows(lowest_id_centroids(emb, 8))
        )
        assert cells.count() == 100
        assert cells.select("vec_id").distinct().count() == 100


class TestIvfTopk:
    def test_trained_path_shape_and_exactness_in_cluster(self, spark):
        """With separable clusters and nprobe=1, IVF top-k equals
        brute-force top-k restricted to the query's own cluster — and
        the true top-k IS in-cluster here, so IVF == exact."""
        emb = _clustered_emb(spark)
        cents = kmeans_centroids(emb, 4)
        qs = emb.where(F.col("vec_id") % 50 == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
        )
        out = ivf_topk(emb, qs, cents, nprobe=1, topk=5)
        rows = out.collect()
        assert len(rows) == 2 * 5  # 2 queries × top-5
        by_q = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        for qid, rs in by_q.items():
            assert sorted(r["rk"] for r in rs) == [1, 2, 3, 4, 5]
            # all neighbours from the query's own cluster
            qc = qid // 25
            assert all(r["vec_id"] // 25 == qc for r in rs)


class TestInt8Quantization:
    """Scalar-quantized ANN (entry_queries.q_ann_int8): the int8 copy is
    the 4x-bandwidth scan path; recall@10 vs the full-precision
    brute-force baseline must stay near-lossless."""

    def test_recall_vs_full_precision(self, spark):
        from bucketizers_spark.entry_queries import q_ann_int8, q_ann_topk

        sf = "/root/testdata/sf0.001"
        full = {
            (r.query_id, r.vec_id) for r in q_ann_topk(spark, sf).collect()
        }
        quant = {
            (r.query_id, r.vec_id) for r in q_ann_int8(spark, sf).collect()
        }
        assert len(full) == 50 and len(quant) == 50
        recall = len(full & quant) / len(full)
        assert recall >= 0.9, f"int8 recall@10 degraded: {recall}"
