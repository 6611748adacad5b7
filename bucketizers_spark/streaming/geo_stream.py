"""Streaming geospatial bucketizer (S4 streaming form).

Reference (GeospatialBucketizer.ts:58-114): per-tile page counters
(``tilesMap``: tile → [page, counter]) filled in arrival order; a
GeospatiallyContains relation per new page; root → column emitted once
per column with the FIRST tile's bbox. Members the tiler cannot place
(non-WKT, NULL, pole latitude) page through the bucketless fallback
(BucketizerCore.ts:294-309, 383-393).

Streaming realization, one path for the standalone ``GeoStreamJob`` and
the composed geo stages (streaming/compose.py):

- ``tile_pager_stage`` (the one stateful operator): WKT → distinct
  integer tiles (operators/geospatial.tile_array_col) → posexplode;
  unplaceable rows take the ``bucketless`` sentinel leaf. The lifetime
  page counter (stateful.keyed_pager) keyed by (parent?, leaf) pages the
  rows in (seq, tile position) order and flags ``is_new_tile`` /
  ``is_new_page``; the sentinel leaf's pages are ``bucketless-N``, the
  batch fallback pager's naming.
- ``batch_relations``: one micro-batch's relation rows, derived from the
  flags: column → leaf-page per new-page row, root → bucketless-N per new
  fallback page, and root → column per column's first new-tile row. The
  last is the only cross-batch fact (a column's second tile can be new in
  a later batch), so it is deduped with a versioned emitted-columns table
  (sinks/idempotent.VersionedTable, ``columns/v=<batch_id>/``).

Like the other keyed-state kernels, tile state lives forever (the
reference never evicts tilesMap); tile cardinality is bounded by 4^zoom.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bucketizers_spark.operators.core import child_id, relation_row, root_id
from bucketizers_spark.operators.geospatial import bbox_col, tile_array_col
from bucketizers_spark.sinks.idempotent import IdempotentParquetSink, VersionedTable
from bucketizers_spark.streaming.stateful import keyed_pager

_COLUMNS_SCHEMA = T.StructType([T.StructField("column", T.StringType())])


def tile_pager_stage(
    stream_df: DataFrame,
    value_col: str,
    *,
    zoom: int = 4,
    page_size: int = 50,
    parent_col: str | None = None,
) -> DataFrame:
    """The member stream with ``bucket_id`` (``z/x/y-page``, or
    ``bucketless-page`` for rows the tiler cannot place) plus the pager's
    ``_leaf``/``_page`` and flag columns. Keyed by ``parent_col`` (a
    compose child) counters are per (parent, tile) and bucket ids are
    parent-prefixed, with the batch geo child's ``child_id``
    (``geospatial_tiles`` + ``fallback_pager`` with ``parent_col``).
    Tiles and the sentinel page in one stateful operator
    (``stateful.keyed_pager``), so the stage composes like any other."""
    work = stream_df.withColumn("_tiles", tile_array_col(value_col, zoom))
    bad = F.exists(F.col("_tiles"), lambda t: t["y"].isNull())
    # null-safe (see operators/geospatial): NULL values must route
    # to the bucketless sentinel, not vanish in three-valued logic
    matched = F.coalesce((F.size("_tiles") > 0) & ~bad, F.lit(False))
    payload = [col for col in work.columns if col != "_tiles"]
    tiles = (
        work.where(matched)
        .select(*payload, F.posexplode("_tiles").alias("_tpos", "_t"))
        .withColumn(
            "_leaf",
            F.concat_ws("/", F.lit(str(zoom)), F.col("_t.x"), F.col("_t.y")),
        )
        .drop("_t")
    )
    fb = (
        work.where(~matched)
        .drop("_tiles")
        .withColumn("_tpos", F.lit(0))
        .withColumn("_leaf", F.lit("bucketless"))
    )
    keys = [*([parent_col] if parent_col else []), "_leaf"]
    flagged = keyed_pager(
        tiles.unionByName(fb), keys, page_size, order=("seq", "_tpos")
    )
    page = F.concat(F.col("_leaf"), F.lit("-"), F.col("_page"))
    return flagged.withColumn("bucket_id", child_id(page, parent_col))


def emitted_columns(state_dir: str) -> VersionedTable:
    """The versioned emitted-columns table under ``state_dir``."""
    return VersionedTable(os.path.join(state_dir, "columns"), _COLUMNS_SCHEMA)


def batch_relations(
    flagged: DataFrame,
    columns: VersionedTable,
    batch_id: int,
    *,
    root: str = "root",
    parent_col: str | None = None,
) -> DataFrame:
    """Relation rows (RELATIONS_SCHEMA) of one micro-batch of pager
    output. New pages ride the ``is_new_page`` flag, which the keyed
    pager sets exactly once per page across the stream. Root (or parent)
    → column rows are anti-joined with the newest ``columns`` version
    below ``batch_id``, and version ``batch_id`` is written here, BEFORE
    the caller commits the returned rows: a replay recomputes from the
    same earlier version and overwrites its own. ``flagged`` is read
    several times; the caller persists it. Column and root ids are the
    batch operator's ``child_id`` / ``root_id``."""
    matched = flagged.where(F.col("_leaf") != "bucketless")
    fb = flagged.where(F.col("_leaf") == "bucketless")
    column = child_id(
        F.regexp_replace(F.col("_leaf"), r"/[^/]+$", ""), parent_col
    )
    up = root_id(root, parent_col)
    new_pages = matched.where(F.col("is_new_page")).withColumn(
        "_bbox", bbox_col(F.col("_leaf"))
    )
    column_rels = new_pages.select(
        *relation_row(
            column,
            "GeospatiallyContains",
            F.col("bucket_id"),
            values=F.array(F.col("_bbox")),
            seq=F.col("seq"),
        )
    )
    root_rels = (
        matched.where(F.col("is_new_tile"))
        .withColumn("_column", column)
        .groupBy(*([parent_col] if parent_col else []), "_column")
        .agg(
            F.min("seq").alias("created_at_seq"),
            # (seq, _tpos): pair order breaks same-member seq ties
            F.min_by(
                "_leaf", F.struct(F.col("seq"), F.col("_tpos"))
            ).alias("_first_leaf"),
        )
        .withColumn("_bbox", bbox_col(F.col("_first_leaf")))
        .select(
            *relation_row(
                up,
                "GeospatiallyContains",
                F.col("_column"),
                values=F.array(F.col("_bbox")),
                seq=F.col("created_at_seq"),
            )
        )
    )
    fb_rels = fb.where(F.col("is_new_page")).select(
        *relation_row(up, "Relation", F.col("bucket_id"), seq=F.col("seq"))
    )
    emitted = columns.latest(flagged.sparkSession, batch_id)
    if emitted is not None:
        root_rels = root_rels.join(
            emitted.withColumnRenamed("column", "to_bucket"),
            "to_bucket",
            "left_anti",
        )
    # new columns are distinct (one group each) and absent from `emitted`
    new_cols = root_rels.select(F.col("to_bucket").alias("column"))
    columns.write(
        new_cols if emitted is None else emitted.unionByName(new_cols),
        batch_id,
    )
    return column_rels.unionByName(root_rels).unionByName(fb_rels)


class GeoStreamJob:
    """The standalone geo stream: ``start`` runs ``tile_pager_stage``
    over the raw member stream into a foreachBatch shell that writes each
    batch's ``batch_relations`` to ``<sink_root>/_relations`` and its
    assignments — tile pages and bucketless-N fallback pages alike — to
    ``<sink_root>``, both idempotent sinks (batch route_with_fallback
    parity). The emitted-columns state lives in ``<state_dir>/columns``
    and is written before either sink commits, so a replayed batch
    recomputes and overwrites its own output (cf. TrieStreamJob)."""

    def __init__(self, sink_root: str, state_dir: str, *, zoom: int = 4,
                 root: str = "root"):
        self.sink = IdempotentParquetSink(sink_root)
        self.rel_sink = IdempotentParquetSink(os.path.join(sink_root, "_relations"))
        self.columns = emitted_columns(state_dir)
        self.zoom = zoom
        self.root = root

    def process_batch(self, flagged: DataFrame, batch_id: int):
        if batch_id in self.sink.committed_batches():
            return
        flagged = flagged.persist()
        rels = batch_relations(flagged, self.columns, batch_id, root=self.root)
        self.rel_sink.write_batch(rels, batch_id)
        self.sink.write_batch(
            flagged.drop("_tpos", "is_new_tile", "is_new_page"), batch_id
        )
        flagged.unpersist()

    def start(
        self,
        stream_df: DataFrame,
        value_col: str,
        checkpoint_dir: str,
        *,
        page_size: int = 50,
    ):
        flagged = tile_pager_stage(
            stream_df, value_col, zoom=self.zoom, page_size=page_size
        )
        return (
            flagged.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .start()
        )
