"""Arrival-order pager (S1) and the bucketless fallback pager (O4/S6).

Reference semantics: BasicBucketizer keeps a global ``memberCounter`` and
rolls to a new page when it reaches ``pageSize``, emitting a
``Relation(page-1 → page)`` at each boundary
(/root/reference/packages/bucketizer-basic/lib/BasicBucketizer.ts:47-94).
The fallback pager does the same over no-match members with buckets named
``bucketless-{N}`` and relations from the strategy root
(/root/reference/packages/bucketizer-core/lib/BucketizerCore.ts:375-396).

Spark realization (SURVEY.md §7 key insight): the running counter is a pure
function of the 0-based arrival index — ``bucket = floor(idx / page_size)``.
With a dense ``seq`` column stamped at the source (Iceberg snapshot/file/row
order in production; the fixture generator here) this is a **stateless
narrow map — no shuffle at all**. Without a dense seq we fall back to
``row_number()`` which is a global sort: fine at test SF, documented as the
non-scalable path (at 10^12 rows you stamp seq at the source, full stop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bucketizers_spark.operators.core import (
    BucketizeResult,
    child_id,
    empty_seals,
    relation_row,
    root_id,
)
from bucketizers_spark.operators.rank import with_rank0


def _with_rank0(
    df: DataFrame, seq_col: str, dense_seq: bool, parent_col: str | None
) -> DataFrame:
    """Add a 0-based arrival rank as ``_rank0``. Keyed by ``parent_col``
    the rank counts within each parent (operators/rank.with_rank0). With
    a dense source-stamped seq the global rank is a free narrow map (the
    production path); otherwise the two-phase range-partitioned rank
    (operators/rank.py) — distributed, never a single-task sort."""
    if dense_seq and not parent_col:
        return df.withColumn("_rank0", F.col(seq_col).cast("long"))
    # probe_uncut: the pager's input is the caller's raw frame (scan-
    # cheap), so the dense probe runs column-pruned with no checkpoint
    return with_rank0(
        df, seq_col, parent_col=parent_col, out_col="_rank0", probe_uncut=True
    )


def _paged(
    df: DataFrame,
    page_size: int,
    seq_col: str,
    dense_seq: bool,
    parent_col: str | None,
    page_id,
) -> DataFrame:
    return (
        _with_rank0(df, seq_col, dense_seq, parent_col)
        .withColumn("_page", F.floor(F.col("_rank0") / F.lit(page_size)))
        .withColumn("_seq_for_rel", F.col(seq_col))
        .withColumn("bucket_id", page_id(F.col("_page")))
    )


def _page_relations(
    assigned: DataFrame, parent_col: str | None, from_expr, to_expr
) -> DataFrame:
    """One relation per page, emitted with the page's first member
    (BasicBucketizer.ts:54-60) — a tiny aggregate over the (already
    computed) page of the assignment frame."""
    return (
        assigned.groupBy(*([parent_col] if parent_col else []), "_page")
        .agg(F.min(F.col("_seq_for_rel")).alias("created_at_seq"))
        .select(
            *relation_row(
                from_expr(F.col("_page")),
                "Relation",
                to_expr(F.col("_page")),
                seq=F.col("created_at_seq"),
            )
        )
    )


def basic_pager(
    df: DataFrame,
    *,
    page_size: int = 50,
    seq_col: str = "seq",
    dense_seq: bool = False,
    parent_col: str | None = None,
) -> BucketizeResult:
    """Page members by arrival order: bucket = str(floor(rank / page_size)).
    Keyed by ``parent_col`` every parent bucket pages its own members
    (one child instance per parent, MultiBucketizer.ts:94-96): bucket =
    ``parent/page``, ranks count within the parent, page links stay
    within it."""
    spark = df.sparkSession

    def page_id(p):
        return child_id(p.cast("string"), parent_col)

    assigned = _paged(df, page_size, seq_col, dense_seq, parent_col, page_id)
    # page p's first member links p-1 → p; page 0 opens no link
    relations = _page_relations(
        assigned.where(F.col("_page") >= 1),
        parent_col,
        from_expr=lambda p: page_id(p - 1),
        to_expr=page_id,
    )
    assignments = assigned.drop("_page", "_seq_for_rel", "_rank0")
    return BucketizeResult(assignments, relations, empty_seals(spark))


def fallback_pager(
    df: DataFrame,
    *,
    page_size: int = 50,
    root: str = "root",
    seq_col: str = "seq",
    dense_seq: bool = False,
    parent_col: str | None = None,
) -> BucketizeResult:
    """Bucketless pager for members with no property match.

    ``df`` must already be filtered to the unmatched members (the engine's
    analog of a zero-match property path, BucketizerCore.ts:294-300); their
    arrival rank *within that subset* drives the paging, exactly like the
    reference's dedicated ``bucketlessPageMemberCounter``.
    ``dense_seq`` only applies if the subset itself is densely numbered.
    Keyed by ``parent_col`` each parent keeps its own counter: buckets are
    ``parent/bucketless-N`` and their relations start at the parent.
    """
    spark = df.sparkSession

    def page_id(p):
        return child_id(F.concat(F.lit("bucketless-"), p), parent_col)

    assigned = _paged(df, page_size, seq_col, dense_seq, parent_col, page_id)
    # every new page gets one Relation from the root (BucketizerCore.ts:383-393),
    # including page 0 (unlike basic, whose page 0 is the root itself)
    relations = _page_relations(
        assigned,
        parent_col,
        from_expr=lambda p: root_id(root, parent_col),
        to_expr=page_id,
    )
    assignments = assigned.drop("_page", "_seq_for_rel", "_rank0")
    return BucketizeResult(assignments, relations, empty_seals(spark))
