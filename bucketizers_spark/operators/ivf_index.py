"""Persistent IVF index: build once, probe many — the serving split of
the IVF ANN operator (operators/ivf.py computes everything inline; this
module persists the expensive parts so repeated query batches skip
them).

An IVF index is just two tables, which is exactly how a lakehouse
serves ANN (e.g. a "vector index" in table format):

- ``centroids``: K rows (c_id, ce array<double>) — the trained (or
  lowest-id) centroid set. Tiny; always broadcast at query time.
- ``cells``: n rows (vec_id, cell) — every vector's nearest-centroid
  assignment. This is the table whose recompute costs a full corpus
  pass per query batch; persisted it costs one pass EVER (plus
  incremental appends for new vectors — assign_cells_vec over the new
  rows only, an append-only maintenance job).

Query path reads both tables and runs ivf_topk's own probe and rescore
(operators/ivf.probe_cells, rescore_cells) over them — the same code,
so results are equal (the pytest pins it), but the corpus-sized work at
query time is one equijoin of the cell table with the vectors instead of
a corpus-wide assignment.

Scale notes: ``cells`` is written partitioned by cell bucket (cell %
n_files) so a probe's equijoin prunes files (partition pruning on the
join key's bucket); centroids are a single small file. Both tables are
plain parquet — no format extension, readable by any engine.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bucketizers_spark.operators.ivf import (
    assign_cells_vec,
    collect_centroid_rows,
    kmeans_centroids,
    lowest_id_centroids,
    probe_cells,
    rescore_cells,
)


class IvfIndex:
    """Handle to a persisted IVF index directory (centroids/ + cells/)."""

    def __init__(self, path: str):
        self.path = path

    @property
    def _centroids_path(self) -> str:
        return os.path.join(self.path, "centroids")

    @property
    def _cells_path(self) -> str:
        return os.path.join(self.path, "cells")

    @classmethod
    def build(
        cls,
        emb: DataFrame,
        path: str,
        *,
        k: int = 16,
        trained: bool = True,
        id_col: str = "vec_id",
        emb_col: str = "embedding",
        cell_buckets: int = 16,
    ) -> "IvfIndex":
        """Train (or pick) centroids, assign every vector to its cell,
        persist both. ``trained=True`` uses the seeded sampled-k-means
        builder; False uses the lowest-id centroids (the
        oracle-replayable form). ``cell_buckets`` partitions the cells
        table on cell id so query-time probes prune files."""
        cents = (
            kmeans_centroids(emb, k, id_col=id_col, emb_col=emb_col)
            if trained
            else lowest_id_centroids(emb, k, id_col=id_col, emb_col=emb_col)
        )
        # centroids are K rows — coalesce(1) is bounded by construction
        cents.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(path, "centroids")
        )
        index = cls(path)
        index._write_cells(
            emb, cents, "overwrite", id_col, emb_col, cell_buckets
        )
        return index

    def centroids(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self._centroids_path)

    def cells(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self._cells_path).drop("cell_bucket")

    def search(
        self,
        emb: DataFrame,
        queries: DataFrame,
        *,
        nprobe: int = 4,
        topk: int = 10,
        id_col: str = "vec_id",
        emb_col: str = "embedding",
        query_id_col: str = "query_id",
        query_emb_col: str = "qe",
    ) -> DataFrame:
        """Top-k per query using the PERSISTED cell table — no
        corpus-wide assignment at query time. ``emb`` supplies the
        vectors for exact rescoring (the index stores ids, not
        payloads, like every inverted index)."""
        spark = emb.sparkSession
        probes = probe_cells(
            queries.select(query_id_col, query_emb_col),
            collect_centroid_rows(self.centroids(spark)),
            nprobe,
            emb_col=query_emb_col,
        )
        return rescore_cells(
            probes,
            self.cells(spark).join(emb.select(id_col, emb_col), id_col),
            topk=topk,
            id_col=id_col,
            emb_col=emb_col,
            query_id_col=query_id_col,
            query_emb_col=query_emb_col,
        )

    def append(
        self,
        new_emb: DataFrame,
        *,
        id_col: str = "vec_id",
        emb_col: str = "embedding",
        cell_buckets: int = 16,
    ) -> None:
        """Incremental maintenance: assign ONLY the new vectors against
        the frozen centroids and append their cell rows — the constant
        small job that keeps the index current between (rare) retrain
        rebuilds."""
        cents = self.centroids(new_emb.sparkSession)
        self._write_cells(
            new_emb, cents, "append", id_col, emb_col, cell_buckets
        )

    def _write_cells(self, emb, cents, mode, id_col, emb_col, cell_buckets):
        """Assign ``emb`` to its nearest centroid and write the (id, cell)
        rows partitioned on the cell bucket."""
        cells = assign_cells_vec(
            emb.select(id_col, emb_col),
            collect_centroid_rows(cents),
            emb_col=emb_col,
        )
        (
            cells.select(id_col, "cell")
            .withColumn("cell_bucket", F.col("cell") % cell_buckets)
            .write.mode(mode)
            .partitionBy("cell_bucket")
            .parquet(self._cells_path)
        )
