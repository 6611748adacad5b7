"""Subject page index with root rotation (S3).

Reference semantics
(/root/reference/packages/bucketizer-subject-page/lib/SubjectPageBucketizer.ts:47-112):
- bucket_id = normalize(last '/'-segment of the property value + '-' + salt)
  (ts:77-79, 98-103; the salt replaces the reference's per-run Math.random
  instance hash, ts:37, which its own test pins, test:92).
- The first member to hit a bucket emits an ``EqualThan`` relation from the
  *current root* carrying the raw property value and the property path
  (ts:85-90, 105-112).
- After ``max_relations`` new buckets, the current root is sealed
  (immutable), the root rotates to ``root-N``, and a ``Relation`` edge links
  old → new root (getCurrentStart, ts:55-72).

Spark realization (SURVEY.md §2.2 S3): the bucket id is a **stateless
narrow map** (no shuffle). First-seen detection is a groupBy(bucket) min —
one shuffle on bucket_id, partial-aggregated map-side. Root rotation is a
pure function of each bucket's first-seen rank in seq order:
``root_idx = floor(rank0 / max_relations)`` — computed with a window over
the (small) distinct-bucket frame, not the member frame.

Scale note: the member-frame path is shuffle-free; only the distinct-bucket
relation derivation shuffles, and that frame is |buckets| ≪ |members|. The
first-seen rank uses the two-phase range-partitioned rank
(operators/rank.py) so even a 10^9-bucket frame never sorts in one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bucketizers_spark.operators.core import (
    BucketizeResult,
    child_id,
    relation_row,
    root_id,
)
from bucketizers_spark.operators.rank import with_rank0
from bucketizers_spark.functions.normalize import normalize_subject_col


def root_name(idx_col: F.Column, root: str, parent_col: str | None) -> F.Column:
    """The id of root index ``idx_col`` (getCurrentStart, ts:55-72): index
    0 is the strategy root, index N the rotated ``root-N``; under a parent
    stage the root is the parent itself and ``root-N`` is parent-prefixed.
    The batch operator and the streaming rotation (streaming/stateful.py)
    both name roots here."""
    return F.when(idx_col == 0, root_id(root, parent_col)).otherwise(
        child_id(F.concat(F.lit(root + "-"), idx_col.cast("string")), parent_col)
    )


def subject_page(
    df: DataFrame,
    value_col: str,
    *,
    salt: str = "s0",
    max_relations: int = 100,
    root: str = "root",
    seq_col: str = "seq",
    property_path: str | None = None,
    ascii_fast: bool = True,
    parent_col: str | None = None,
) -> BucketizeResult:
    """Keyed by ``parent_col`` every parent bucket runs its own first-seen
    map and root rotation (one child instance per parent,
    MultiBucketizer.ts:94-96): buckets are ``parent/name``, root index 0
    is the parent itself and rotated roots are ``parent/root-N``."""
    raw_value = F.col(value_col).cast("string")
    last_segment = F.element_at(F.split(raw_value, "/"), -1)
    bucket = normalize_subject_col(
        F.concat(last_segment, F.lit("-" + salt)), ascii_fast=ascii_fast
    )
    assignments = df.withColumn("bucket_id", child_id(bucket, parent_col))
    pcols = [parent_col] if parent_col else []

    # The relation/seal derivation needs the first-seen rank, whose
    # two-phase form runs EAGER work (materialize + offset collect) — so it
    # is built lazily: a consumer that only routes members never pays.
    state: dict = {}

    def _ranked() -> DataFrame:
        if "ranked" in state:
            return state["ranked"]
        # first sighting per bucket, in arrival order
        # (hypermediaControlsMap.has, ts:82-90): groupBy keeps the earliest
        # seq and that row's raw value
        first_seen = assignments.groupBy(*pcols, "bucket_id").agg(
            F.min(F.col(seq_col)).alias("first_seq"),
            F.min_by(raw_value, F.col(seq_col)).alias("value"),
        )
        # two-phase range-partitioned rank: the distinct-bucket frame is
        # ~10^7-10^10 rows at 10^12 members — a bare Window.orderBy would
        # sort it in ONE task (r1 VERDICT scale-killer #5); per parent the
        # parents partition the window
        ranked = with_rank0(
            first_seen, "first_seq", parent_col=parent_col
        ).withColumn("root_idx", F.floor(F.col("rank0") / F.lit(max_relations)))
        state["ranked"] = ranked
        return ranked

    def _turnovers() -> DataFrame:
        # one rotation Relation + one seal per root turnover (ts:55-72);
        # the rotation happens with the first bucket of each new root index
        if "turnovers" not in state:
            state["turnovers"] = (
                _ranked()
                .where(F.col("root_idx") >= 1)
                .groupBy(*pcols, "root_idx")
                .agg(F.min("first_seq").alias("created_at_seq"))
            )
        return state["turnovers"]

    def _relations() -> DataFrame:
        equal_rels = _ranked().select(
            *relation_row(
                root_name(F.col("root_idx"), root, parent_col),
                "EqualThan",
                F.col("bucket_id"),
                values=F.array(F.col("value")),
                path=F.lit(property_path) if property_path else None,
                seq=F.col("first_seq"),
            )
        )
        rotation_rels = _turnovers().select(
            *relation_row(
                root_name(F.col("root_idx") - 1, root, parent_col),
                "Relation",
                root_name(F.col("root_idx"), root, parent_col),
                seq=F.col("created_at_seq"),
            )
        )
        return equal_rels.unionByName(rotation_rels)

    def _seals() -> DataFrame:
        return _turnovers().select(
            root_name(F.col("root_idx") - 1, root, parent_col).alias("bucket_id"),
            F.col("created_at_seq").alias("sealed_at_seq"),
        )

    return BucketizeResult(assignments, _relations, _seals)
