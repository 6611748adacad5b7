"""MultiBucketizer composition (S5): chained stages with per-parent-bucket
child state.

Reference semantics
(/root/reference/packages/bucketizer-multi/lib/MultiBucketizer.ts:46-162):
level 0 assigns a bucket; a *dedicated child bucketizer instance exists per
parent bucket* (``bucketizers.children[bucketId]``, ts:94-96); child bucket
ids are rewritten ``parent/child`` (mapTerm ``'/'`` join, ts:123-141); the
child's root maps onto the parent bucket itself (ts:124-127). The
reference's composition is NOT resumable (exportState/importState stubs,
ts:157-161) — ours is, because stage state is ordinary keyed state.

Spark realization: "one child instance per parent bucket" ≡ keying stage
k's operator by the stage-(k-1) bucket id. For the order-based pager child
that means per-parent row_number paging; for subject/substring children the
same cascades partitioned by (parent, node). Final
``bucket_id = concat_ws('/', b0, b1, ...)``.

Child-stage catalogue:
- ``paged_within_parent``: per-parent basic pager (order pages).
- ``subject_within_parent``: per-parent subject-page index — its own
  first-seen map and root rotation per parent instance; the child's
  current root maps onto the parent bucket itself (mapTerm isRoot,
  ts:123-141), rotated roots become ``parent/root-N``.
- ``trie_within_parent``: per-parent substring/token-prefix trie — the
  trie cascade keyed by parent (small inputs walked from the parent roots
  in one grouped shuffle, large ones distributed by (parent, node)); child
  node names become ``parent/node`` and the child root maps onto the
  parent.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bucketizers_spark.operators.core import (
    BucketizeResult,
    empty_relations,
    empty_seals,
    relation_row,
)


def paged_within_parent(
    df: DataFrame,
    parent_col: str,
    *,
    page_size: int = 50,
    seq_col: str = "seq",
    out_col: str = "bucket_id",
) -> BucketizeResult:
    """Stage-2 basic pager keyed by a stage-1 bucket: every parent bucket
    gets its own arrival-order pages (the child-instance-per-parent-bucket
    semantics, MultiBucketizer.ts:94-96). bucket = parent/page.

    One shuffle on parent; pages are a per-partition window. Relations are
    the per-parent page links, node ids prefixed parent/ (mapTerm,
    ts:133-135); the child's page-0 root collapses onto the parent bucket
    itself (ts:124-127)."""
    spark = df.sparkSession
    w = Window.partitionBy(parent_col).orderBy(seq_col)
    paged = df.withColumn(
        "_page", F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(page_size))
    )
    assignments = paged.withColumn(
        out_col,
        F.concat_ws("/", F.col(parent_col), F.col("_page").cast("string")),
    )
    relations = (
        paged.where(F.col("_page") >= 1)
        .groupBy(parent_col, "_page")
        .agg(F.min(seq_col).alias("created_at_seq"))
        .select(
            *relation_row(
                F.concat_ws(
                    "/", F.col(parent_col), (F.col("_page") - 1).cast("string")
                ),
                "Relation",
                F.concat_ws("/", F.col(parent_col), F.col("_page").cast("string")),
                seq=F.col("created_at_seq"),
            )
        )
    )
    return BucketizeResult(
        assignments.drop("_page"), relations, empty_seals(spark)
    )


def subject_within_parent(
    df: DataFrame,
    parent_col: str,
    value_col: str,
    *,
    salt: str = "s0",
    max_relations: int = 100,
    seq_col: str = "seq",
    property_path: str | None = None,
    ascii_fast: bool = True,
    out_col: str = "bucket_id",
) -> BucketizeResult:
    """Per-parent subject-page child: a dedicated first-seen map + root
    rotation per parent bucket (child instance per parent,
    MultiBucketizer.ts:94-96). Child bucket = ``parent/childname``; the
    child's root collapses onto the parent (EqualThan relations for root
    index 0 originate FROM the parent bucket), rotated roots become
    ``parent/root-N`` (mapTerm, ts:123-141)."""
    from bucketizers_spark.functions.normalize import normalize_subject_col

    spark = df.sparkSession
    raw_value = F.col(value_col).cast("string")
    last_segment = F.element_at(F.split(raw_value, "/"), -1)
    child = normalize_subject_col(
        F.concat(last_segment, F.lit("-" + salt)), ascii_fast=ascii_fast
    )
    assignments = df.withColumn("_child", child).withColumn(
        out_col, F.concat_ws("/", F.col(parent_col), F.col("_child"))
    )

    def _root_name(idx_col):
        return F.when(idx_col == 0, F.col(parent_col)).otherwise(
            F.concat(F.col(parent_col), F.lit("/root-"), idx_col.cast("string"))
        )

    state: dict = {}

    def _ranked() -> DataFrame:
        if "ranked" not in state:
            first_seen = assignments.groupBy(parent_col, out_col).agg(
                F.min(F.col(seq_col)).alias("first_seq"),
                F.min_by(raw_value, F.col(seq_col)).alias("value"),
            )
            # per-parent rank: parents partition the window — parallel by
            # construction, each parent's bucket list is one task
            w = Window.partitionBy(parent_col).orderBy("first_seq")
            state["ranked"] = first_seen.withColumn(
                "root_idx",
                F.floor((F.row_number().over(w) - 1) / F.lit(max_relations)),
            )
        return state["ranked"]

    def _turnovers() -> DataFrame:
        if "turnovers" not in state:
            state["turnovers"] = (
                _ranked()
                .where(F.col("root_idx") >= 1)
                .groupBy(parent_col, "root_idx")
                .agg(F.min("first_seq").alias("created_at_seq"))
            )
        return state["turnovers"]

    def _relations() -> DataFrame:
        equal_rels = _ranked().select(
            *relation_row(
                _root_name(F.col("root_idx")),
                "EqualThan",
                F.col(out_col),
                values=F.array(F.col("value")),
                path=F.lit(property_path) if property_path else None,
                seq=F.col("first_seq"),
            )
        )
        rotation_rels = _turnovers().select(
            *relation_row(
                _root_name(F.col("root_idx") - 1),
                "Relation",
                _root_name(F.col("root_idx")),
                seq=F.col("created_at_seq"),
            )
        )
        return equal_rels.unionByName(rotation_rels)

    def _seals() -> DataFrame:
        return _turnovers().select(
            _root_name(F.col("root_idx") - 1).alias("bucket_id"),
            F.col("created_at_seq").alias("sealed_at_seq"),
        )

    return BucketizeResult(assignments.drop("_child"), _relations, _seals)


def trie_within_parent(
    df: DataFrame,
    parent_col: str,
    value_col: str,
    *,
    mode: str = "char",  # "char" | "token"
    page_size: int = 50,
    max_depth: int = 16,
    seq_col: str = "seq",
    ascii_fast: bool = True,
    out_col: str = "bucket_id",
    salt_buckets: int = 0,
    tail_threshold: int = 100_000,
    node_state: DataFrame | None = None,
    emit_counter_updates: bool = False,
) -> BucketizeResult:
    """Per-parent substring / token-prefix trie child (one dedicated child
    instance per parent bucket, MultiBucketizer.ts:94-96). Child node names
    are prefixed ``parent/``; the child's root collapses onto the parent.

    This is the trie cascade keyed by parent
    (operators/substring._run_cascade with ``parent_col``): at most
    ``tail_threshold`` non-empty members in all are walked from the
    parent roots in one grouped shuffle; above it the salted per-parent
    root and the (parent, node) levels run distributed until the rest
    fits the walk, so no single task ever holds a whole giant parent.
    ``node_state`` / ``emit_counter_updates`` carry the streaming
    counters (see ``_run_cascade``)."""
    from bucketizers_spark.operators.substring import (
        _char_chain,
        _run_cascade,
        _token_chain,
    )

    chain = (
        _char_chain(value_col, ascii_fast, max_depth)
        if mode == "char"
        else _token_chain(value_col, max_depth)
    )
    res = _run_cascade(
        df,
        chain,
        page_size=page_size,
        root="",  # unused: the per-parent root is the parent itself
        seq_col=seq_col,
        max_depth=max_depth,
        salt_buckets=salt_buckets,
        tail_threshold=tail_threshold,
        parent_col=parent_col,
        node_state=node_state,
        emit_counter_updates=emit_counter_updates,
    )
    if out_col != "bucket_id":
        res.assignments = res.assignments.withColumnRenamed("bucket_id", out_col)
    return res


def geo_within_parent(
    df: DataFrame,
    parent_col: str,
    value_col: str,
    *,
    zoom: int = 4,
    page_size: int = 50,
    seq_col: str = "seq",
    out_col: str = "bucket_id",
) -> BucketizeResult:
    """Per-parent geospatial child: a dedicated tilesMap instance per
    parent bucket (MultiBucketizer.ts:94-96 composing the geospatial
    factory, BucketizerFactories.ts:15-72). Tile page counters key on
    (parent, leaf); bucket = ``parent/z/x/y-page``; the root → column
    relation originates FROM the parent bucket (child root collapse,
    mapTerm ts:123-141); non-WKT / pole members land in the child's own
    bucketless pager ``parent/bucketless-N`` (BucketizerCore.ts:294-309).

    Scale: identical plan shape to the standalone operator with the
    parent added to every partition key — one shuffle for the per-
    (parent, leaf) paging window, relation derivation over the distinct
    (parent, tile) frame."""
    from bucketizers_spark.operators.geospatial import bbox_col, tile_array_col

    spark = df.sparkSession
    payload_cols = df.columns
    work = df.withColumn("_tiles", tile_array_col(value_col, zoom))
    bad = F.exists(F.col("_tiles"), lambda t: t["y"].isNull())
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
    w = Window.partitionBy(parent_col, "_leaf").orderBy(
        F.col(seq_col), F.col("_tpos")
    )
    paged = exploded.withColumn(
        "_page", F.floor((F.row_number().over(w) - 1) / F.lit(page_size))
    )
    leaf_bucket = F.concat(
        F.col(parent_col), F.lit("/"), F.col("_leaf"), F.lit("-"), F.col("_page")
    )
    matched_assign = paged.withColumn(out_col, leaf_bucket).select(
        *payload_cols, out_col
    )

    wfb = Window.partitionBy(parent_col).orderBy(seq_col)
    fb_paged = unmatched.withColumn(
        "_page", F.floor((F.row_number().over(wfb) - 1) / F.lit(page_size))
    )
    fb_bucket = F.concat(
        F.col(parent_col), F.lit("/bucketless-"), F.col("_page")
    )
    fb_assign = fb_paged.withColumn(out_col, fb_bucket).select(
        *payload_cols, out_col
    )
    assignments = matched_assign.unionByName(fb_assign)

    def _relations() -> DataFrame:
        bbox_dim = (
            exploded.select("_leaf")
            .distinct()
            .withColumn("bbox", bbox_col(F.col("_leaf")))
            .withColumnRenamed("_leaf", "leaf")
        )
        page_firsts = (
            paged.groupBy(parent_col, "_leaf", "_page")
            .agg(
                F.min(seq_col).alias("created_at_seq"),
                # (seq, _tpos): within-member pair order breaks same-seq
                # ties like the reference's tilesMap walk
                F.min(F.struct(F.col(seq_col), F.col("_tpos"))).alias("_ord"),
            )
            .join(F.broadcast(bbox_dim), F.col("_leaf") == F.col("leaf"))
            .withColumn(
                "_column",
                F.concat(
                    F.col(parent_col),
                    F.lit("/"),
                    F.regexp_replace(F.col("_leaf"), r"/[^/]+$", ""),
                ),
            )
        )
        column_rels = page_firsts.select(
            *relation_row(
                F.col("_column"),
                "GeospatiallyContains",
                F.concat(
                    F.col(parent_col), F.lit("/"), F.col("_leaf"),
                    F.lit("-"), F.col("_page"),
                ),
                values=F.array(F.col("bbox")),
                seq=F.col("created_at_seq"),
            )
        )
        # root → column once per (parent, column), FROM the parent (root
        # collapse), carrying the column's first tile's bbox
        root_rels = (
            page_firsts.groupBy(parent_col, "_column")
            .agg(
                F.min("created_at_seq").alias("created_at_seq"),
                F.min_by("bbox", F.col("_ord")).alias("bbox"),
            )
            .select(
                *relation_row(
                    F.col(parent_col),
                    "GeospatiallyContains",
                    F.col("_column"),
                    values=F.array(F.col("bbox")),
                    seq=F.col("created_at_seq"),
                )
            )
        )
        # per-parent bucketless pages: Relation FROM the parent, every
        # page incl. 0 (fallback_pager semantics, BucketizerCore.ts:383-393)
        fb_rels = (
            fb_paged.groupBy(parent_col, "_page")
            .agg(F.min(seq_col).alias("created_at_seq"))
            .select(
                *relation_row(
                    F.col(parent_col),
                    "Relation",
                    F.concat(
                        F.col(parent_col), F.lit("/bucketless-"), F.col("_page")
                    ),
                    seq=F.col("created_at_seq"),
                )
            )
        )
        return column_rels.unionByName(root_rels).unionByName(fb_rels)

    return BucketizeResult(assignments, _relations, empty_seals(spark))


def time_within_parent(
    df: DataFrame,
    parent_col: str,
    time_col: str,
    *,
    duration: str = "1 hour",
    slide: str | None = None,
    out_col: str = "bucket_id",
) -> BucketizeResult:
    """Per-parent time-window child (engine extension — the reference has
    no time bucketizer; this composes the north_rule's tumbling/sliding
    windows under a parent stage). Assignment is a stateless narrow map:
    ``parent/window-start`` (no shuffle, no per-parent state — the window
    is a pure function of the timestamp). Tumbling emits the boundary
    Relation chain between consecutive non-empty windows PER PARENT and
    seals per (parent, window); sliding emits assignments only (a member
    spans multiple windows; explode keeps the map narrow)."""
    spark = df.sparkSession
    fmt = "yyyy-MM-dd HH:mm:ss"
    if slide is not None:
        win = F.window(F.col(time_col), duration, slide)
    else:
        win = F.window(F.col(time_col), duration)
    assigned = df.withColumn("_w", win).withColumn(
        out_col,
        F.concat(
            F.col(parent_col), F.lit("/"), F.date_format(F.col("_w")["start"], fmt)
        ),
    )
    assignments = assigned.drop("_w")
    if slide is not None:
        return BucketizeResult(
            assignments, empty_relations(spark), empty_seals(spark)
        )

    def _wins() -> DataFrame:
        return assigned.groupBy(parent_col, F.col("_w")["start"].alias("_ws")).agg(
            F.count(F.lit(1)).alias("n")
        )

    def _relations() -> DataFrame:
        nxt = F.lead("_ws").over(Window.partitionBy(parent_col).orderBy("_ws"))
        rel_src = _wins().withColumn("_next", nxt).where(F.col("_next").isNotNull())
        return rel_src.select(
            *relation_row(
                F.concat(
                    F.col(parent_col), F.lit("/"), F.date_format("_ws", fmt)
                ),
                "Relation",
                F.concat(
                    F.col(parent_col), F.lit("/"), F.date_format("_next", fmt)
                ),
            )
        )

    def _seals() -> DataFrame:
        return _wins().select(
            F.concat(
                F.col(parent_col), F.lit("/"), F.date_format("_ws", fmt)
            ).alias("bucket_id"),
            F.lit(None).cast("long").alias("sealed_at_seq"),
        )

    return BucketizeResult(assignments, _relations, _seals)


def compose(
    df: DataFrame,
    stages: list[Callable[[DataFrame], BucketizeResult]],
    *,
    sep: str = "/",
) -> BucketizeResult:
    """Generic sequential composition: each stage reads the previous stage's
    ``bucket_id`` (renamed to ``_parent_k``) and must key its own logic by
    it. Relations from all stages are unioned with child node ids already
    prefixed by the stage implementations."""
    spark = df.sparkSession
    current = df
    rel_parts = []
    seal_parts = []
    prefix = None
    for k, stage in enumerate(stages):
        res = stage(current)
        rel_parts.append(res.relations)
        seal_parts.append(res.seals)
        current = res.assignments
        if prefix is None:
            prefix = F.col("bucket_id")
        else:
            prefix = F.concat_ws(sep, prefix, F.col("bucket_id"))
        if k < len(stages) - 1:
            current = current.withColumnRenamed("bucket_id", f"_parent_{k}")
    relations = rel_parts[0]
    for p in rel_parts[1:]:
        relations = relations.unionByName(p)
    seals = seal_parts[0]
    for p in seal_parts[1:]:
        seals = seals.unionByName(p)
    return BucketizeResult(current, relations, seals)
