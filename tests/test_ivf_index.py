"""Persistent IVF index: build/search equals the inline ivf_topk path;
incremental append assigns only new vectors against frozen centroids."""

from __future__ import annotations

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def idx_dir():
    d = os.path.join(SCRATCH, f"ivf_index_{uuid.uuid4().hex[:8]}")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _queries(emb):
    return emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
    )


class TestIvfIndex:
    def test_search_equals_inline_path(self, spark, idx_dir):
        from bucketizers_spark.operators.ivf import (
            ivf_topk,
            kmeans_centroids,
        )
        from bucketizers_spark.operators.ivf_index import IvfIndex

        emb = _emb(spark)
        idx = IvfIndex.build(emb, idx_dir, k=16, trained=True)
        got = {
            (r.query_id, r.vec_id, r.sim_r4, r.rk)
            for r in idx.search(emb, _queries(emb)).collect()
        }
        cents = kmeans_centroids(emb, 16)
        want = {
            (r.query_id, r.vec_id, r.sim_r4, r.rk)
            for r in ivf_topk(emb, _queries(emb), cents).collect()
        }
        assert got == want and len(got) > 0
        # the persisted layout: one small centroid table + cell files
        # partitioned on the cell bucket (query-time partition pruning)
        assert os.path.isdir(os.path.join(idx_dir, "centroids"))
        buckets = [
            d
            for d in os.listdir(os.path.join(idx_dir, "cells"))
            if d.startswith("cell_bucket=")
        ]
        assert len(buckets) > 1

    def test_append_assigns_only_new_vectors(self, spark, idx_dir):
        from bucketizers_spark.operators.ivf import (
            assign_cells_vec,
            collect_centroid_rows,
        )
        from bucketizers_spark.operators.ivf_index import IvfIndex

        emb = _emb(spark)
        old = emb.where(F.col("vec_id") < 400)
        new = emb.where(F.col("vec_id") >= 400).select(
            (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
        )
        idx = IvfIndex.build(old, idx_dir, k=8, trained=False)
        idx.append(new)
        cells = idx.cells(spark)
        assert cells.count() == emb.count()
        # appended rows used the FROZEN centroids (not re-derived from
        # the union): equality with a direct assignment over them
        got = {
            (r.vec_id, r.cell)
            for r in cells.where(F.col("vec_id") >= 10_000).collect()
        }
        want = {
            (r.vec_id, r.cell)
            for r in assign_cells_vec(
                new, collect_centroid_rows(idx.centroids(spark))
            ).collect()
        }
        assert got == want and len(got) == 100


    def test_incomparable_query_id_type_keeps_candidates(self, spark, idx_dir):
        """ADVICE r5: string query ids vs long corpus ids used to NULL
        out the self-match exclusion and silently return ZERO rows;
        ids of incomparable types never match, so every candidate is
        kept."""
        from bucketizers_spark.operators.ivf_index import IvfIndex

        emb = _emb(spark)
        index = IvfIndex.build(emb, idx_dir, k=8)
        q = _queries(emb).select(
            F.concat(F.lit("q"), F.col("query_id").cast("string")
                     ).alias("query_id"),
            "qe",
        )
        got = index.search(emb, q, nprobe=2, topk=5)
        n_q = q.count()
        assert got.count() == n_q * 5

    def test_widened_numeric_query_ids_exclude_self(self, spark, idx_dir):
        """ADVICE r6: double query ids over long corpus ids share one
        numeric id space — they compare after widening, so no query
        appears in its own top-k (and every query still gets k rows)."""
        from bucketizers_spark.operators.ivf_index import IvfIndex

        emb = _emb(spark)
        index = IvfIndex.build(emb, idx_dir, k=8)
        q = _queries(emb).select(
            F.col("query_id").cast("double").alias("query_id"), "qe"
        )
        rows = index.search(emb, q, nprobe=2, topk=5).collect()
        assert len(rows) == q.count() * 5
        assert all(float(r.vec_id) != r.query_id for r in rows)
