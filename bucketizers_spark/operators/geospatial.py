"""Geospatial slippy-tile quadtree bucketizer (S4).

Reference semantics
(/root/reference/packages/bucketizer-geospatial/lib/GeospatialBucketizer.ts:58-114
+ lib/utils/SlippyMaps.ts):
- WKT coordinates are parseInt-truncated to integer degrees before tiling
  (SlippyMaps.ts:24-25 — a deliberate-looking quirk, reproduced exactly);
- tile x = floor((lon+180)/360·2^z), y = mercator formula (ts:73-80);
- per-member distinct tiles (tilesMap, ts:20-37) each yield a bucket
  "z/x/y-{page}" with a per-tile page counter of capacity pageSize
  (GeospatialBucketizer.ts:70-110);
- relations: column "z/x" → "z/x/y-{page}" (GeospatiallyContains, value =
  tile bbox polygon) for every page incl. 0; root → column emitted once
  with the FIRST tile's bbox (later tiles only merge the in-memory polygon
  without re-emitting, ts:82-104);
- non-WKT values throw ⇒ fallback (SlippyMaps.ts:44-49) — here: rows whose
  value yields no coordinate pairs are returned in ``unmatched`` for the
  caller to route through the fallback pager.

Spark realization: coordinate extraction + integer tiling are pure JVM
expressions (regexp_extract_all + integer math + a broadcast literal map
for the y formula over the 179 integer latitudes); per-tile paging is the
same rank-over-seq pattern as every other pager. The tile-y lookup map is
a tiny per-zoom literal computed driver-side; bbox strings come from one
pandas UDF over the distinct tiles (``bbox_col``).
"""

from __future__ import annotations

import math

import pandas as pd  # noqa: F401 — pandas_udf type hints resolve here

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bucketizers_spark.operators.core import (
    BucketizeResult,
    child_id,
    empty_seals,
    relation_row,
    root_id,
)
from bucketizers_spark.oracle.reference import tile_bbox_wkt

_PAIR_RE = r"-?[0-9.]+ +-?[0-9.]+"


def _tile_y_int(lat: int, zoom: int) -> int | None:
    try:
        rad = lat * math.pi / 180
        return math.floor(
            (1 - math.log(math.tan(rad) + 1 / math.cos(rad)) / math.pi)
            / 2
            * 2**zoom
        )
    except ValueError:
        return None


def tile_array_col(value_col: str, zoom: int) -> F.Column:
    """Distinct integer-truncated slippy tiles of a WKT value — the pure
    JVM extraction shared by the batch and streaming forms.

    Full truncated-latitude domain -90..90 with the same float-precision
    formula as the oracle: Python math.tan(pi/2) is finite (matching JS),
    so +90 maps to a finite (negative) y; -90 hits log(0) → ValueError,
    exactly like the oracle, whose throw routes the member to the
    fallback (NULL y here)."""
    # strip '<CRS>' prefix (SlippyMaps.ts:66-71), pull "lon lat" pairs
    stripped = F.regexp_replace(F.col(value_col).cast("string"), r"^<[^>]*>\s*", "")
    pairs = F.regexp_extract_all(stripped, F.lit(_PAIR_RE), 0)

    ytab = {
        lat: y
        for lat in range(-90, 91)
        if (y := _tile_y_int(lat, zoom)) is not None
    }
    ymap = F.create_map(*[F.lit(v) for kv in ytab.items() for v in kv])

    def tile_of(pair_col):
        lon = F.split(pair_col, " +")[0].cast("double").cast("int")
        lat = F.split(pair_col, " +")[1].cast("double").cast("int")
        x = F.floor((lon + 180) * (2**zoom) / F.lit(360.0)).cast("int")
        return F.struct(x.alias("x"), ymap[lat].alias("y"))

    return F.array_distinct(F.transform(pairs, tile_of))


def bbox_col(leaf: F.Column) -> F.Column:
    """WKT bbox of a ``z/x/y`` tile leaf — the one bbox derivation of
    the batch, per-parent and streaming geo relations. The inverse-
    mercator corners need trig plus Python float formatting byte-identical
    to the oracle's tile_bbox_wkt, so they run in a vectorized pandas UDF,
    distributed (never collected to the driver: O(4^zoom) tiles)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def bbox_of(leaf: pd.Series) -> pd.Series:
        def one(s: str) -> str:
            zs, xs, ys = s.split("/")
            return tile_bbox_wkt(int(xs), int(ys), int(zs))

        return leaf.map(one)

    return bbox_of(leaf)


def geospatial_tiles(
    df: DataFrame,
    value_col: str,
    *,
    zoom: int = 4,
    page_size: int = 50,
    root: str = "root",
    seq_col: str = "seq",
    parent_col: str | None = None,
) -> BucketizeResult:
    """Keyed by ``parent_col`` every parent bucket keeps its own tilesMap
    (one child instance per parent, MultiBucketizer.ts:94-96): page
    counters key on (parent, tile), ids are ``parent/z/x/y-page`` and
    ``parent/z/x``, and the root → column relations start at the parent.
    The caller pages ``unmatched`` through ``fallback_pager`` with the
    same ``parent_col``."""
    spark = df.sparkSession
    payload_cols = df.columns
    pcols = [parent_col] if parent_col else []

    tiles = tile_array_col(value_col, zoom)
    # a pair whose latitude has no finite tile-y (lat == -90 after
    # truncation, or out-of-range garbage) throws in the reference
    # (SlippyMaps.ts:44-49) → the WHOLE member goes to the fallback, like
    # any non-WKT value
    bad = F.exists(F.col("_tiles"), lambda t: t["y"].isNull())
    work = df.withColumn("_tiles", tiles)
    # null-safe: a NULL value gives NULL _tiles, and three-valued
    # logic would drop the row from BOTH sides of the split — NULL
    # members must reach the fallback pager like any non-WKT value
    is_matched = F.coalesce((F.size("_tiles") > 0) & ~bad, F.lit(False))
    unmatched = work.where(~is_matched).drop("_tiles")
    matched = work.where(is_matched)

    exploded = matched.select(
        *payload_cols, F.posexplode("_tiles").alias("_tpos", "_t")
    ).withColumn(
        "_leaf",
        F.concat_ws("/", F.lit(str(zoom)), F.col("_t.x"), F.col("_t.y")),
    )
    w = Window.partitionBy(*pcols, "_leaf").orderBy(
        F.col(seq_col), F.col("_tpos")
    )
    paged = exploded.withColumn(
        "_page", F.floor((F.row_number().over(w) - 1) / F.lit(page_size))
    )

    def page_id():
        leaf_page = F.concat(F.col("_leaf"), F.lit("-"), F.col("_page"))
        return child_id(leaf_page, parent_col)

    assignments = paged.withColumn("bucket_id", page_id()).drop(
        "_t", "_tpos", "_leaf", "_page", "_tiles"
    )

    def _relations() -> DataFrame:
        bbox_dim = (
            exploded.select("_leaf")
            .distinct()
            .withColumn("bbox", bbox_col(F.col("_leaf")))
            .withColumn(
                "column", F.regexp_replace(F.col("_leaf"), r"/[^/]+$", "")
            )
            .withColumnRenamed("_leaf", "leaf")
        )
        page_firsts = (
            paged.groupBy(*pcols, "_leaf", "_page")
            .agg(
                F.min(seq_col).alias("created_at_seq"),
                # (seq, _tpos) — one member's tiles share seq, so the
                # within-member PAIR ORDER breaks the tie exactly like
                # the reference's first-seen tilesMap walk
                F.min(F.struct(F.col(seq_col), F.col("_tpos"))).alias("_ord"),
            )
            .join(F.broadcast(bbox_dim), F.col("_leaf") == F.col("leaf"))
        )
        column_rels = page_firsts.select(
            *relation_row(
                child_id(F.col("column"), parent_col),
                "GeospatiallyContains",
                page_id(),
                values=F.array(F.col("bbox")),
                seq=F.col("created_at_seq"),
            )
        )
        # root → column once (per parent), carrying the bbox of the
        # column's FIRST tile
        root_rels = (
            page_firsts.groupBy(*pcols, "column")
            .agg(
                F.min("created_at_seq").alias("created_at_seq"),
                F.min_by("bbox", F.col("_ord")).alias("bbox"),
            )
            .select(
                *relation_row(
                    root_id(root, parent_col),
                    "GeospatiallyContains",
                    child_id(F.col("column"), parent_col),
                    values=F.array(F.col("bbox")),
                    seq=F.col("created_at_seq"),
                )
            )
        )
        return column_rels.unionByName(root_rels)

    result = BucketizeResult(assignments, _relations, empty_seals(spark))
    result.unmatched = unmatched
    return result
