"""Time-window bucketizers — this engine's generalization of the reference's
arrival-order pager (S1) to event time, as required by BASELINE.json
north_rule (tumbling / sliding / session windows, watermark-driven sealing).

The reference has **no** notion of event time — "time" there is arrival
order (BasicBucketizer.ts:47-94; SURVEY.md §2.3 "Time windows: absent").
These operators define the engine semantics:

- tumbling: bucket = the window [t0 + k·dur, t0 + (k+1)·dur) containing
  event_time; exactly one bucket per member.
- sliding: every window of length ``duration`` sliding by ``slide`` that
  contains event_time (duration/slide buckets per member) — the reference's
  multi-bucket membership analog (multi-valued property path → many
  buckets).
- session: per-key windows that merge events closer than ``gap``; window
  end = last event + gap (Spark ``session_window`` semantics).
- relations: consecutive tumbling windows are linked with ``Relation``
  edges exactly like page boundaries (BasicBucketizer.ts:54-60).
- sealing (streaming): a window bucket is immutable once the watermark
  passes its end — the generalization of ``sds:immutable`` (O8); the
  batch forms here seal every window bounded by the max event_time.

Batch forms use native ``F.window`` / ``F.session_window`` (JVM,
whole-stage codegen); the streaming forms in
``bucketizers_spark/streaming`` are the same expressions behind
``readStream`` + ``withWatermark``.

Bucket ids are formatted UTC instants ("yyyy-MM-dd HH:mm:ss" of the window
start) — deterministic and engine-portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bucketizers_spark.operators.core import (
    BucketizeResult,
    child_id,
    empty_relations,
    empty_seals,
    relation_row,
)

_FMT = "yyyy-MM-dd HH:mm:ss"


def _window_id(start: F.Column, parent_col: str | None) -> F.Column:
    """The bucket id of the window starting at ``start``: the formatted
    start, under a parent stage ``parent/start``."""
    return child_id(F.date_format(start, _FMT), parent_col)


def _assigned(df: DataFrame, win, parent_col: str | None) -> DataFrame:
    return df.withColumn("_w", win).withColumn(
        "bucket_id", _window_id(F.col("_w")["start"], parent_col)
    )


def tumbling_bucketizer(
    df: DataFrame,
    time_col: str,
    duration: str,
    *,
    parent_col: str | None = None,
) -> BucketizeResult:
    """Keyed by ``parent_col`` every parent bucket chains its own
    observed windows: ids are ``parent/start`` and the boundary links run
    within each parent. Relations and seals are built on first access, so
    a streaming caller that reads only ``assignments`` never plans their
    (non-time) window."""
    pcols = [parent_col] if parent_col else []
    assigned = _assigned(df, F.window(F.col(time_col), duration), parent_col)

    def _wins() -> DataFrame:
        return assigned.groupBy(*pcols, F.col("_w")).agg(
            F.count(F.lit(1)).alias("n")
        ).select(
            *pcols,
            F.col("_w")["start"].alias("ws"),
            F.col("_w")["end"].alias("we"),
        )

    def _relations() -> DataFrame:
        # boundary relations between consecutive *non-empty* windows, in
        # window order (page p → p+1 analog over event time)
        nxt = F.lead("ws").over(Window.partitionBy(*pcols).orderBy("ws"))
        rel_src = _wins().withColumn("next_ws", nxt).where(
            F.col("next_ws").isNotNull()
        )
        return rel_src.select(
            *relation_row(
                _window_id(F.col("ws"), parent_col),
                "Relation",
                _window_id(F.col("next_ws"), parent_col),
            )
        )

    def _seals() -> DataFrame:
        return _wins().select(
            _window_id(F.col("ws"), parent_col).alias("bucket_id"),
            F.lit(None).cast("long").alias("sealed_at_seq"),
        )

    return BucketizeResult(assigned.drop("_w"), _relations, _seals)


def sliding_bucketizer(
    df: DataFrame,
    time_col: str,
    duration: str,
    slide: str,
    *,
    parent_col: str | None = None,
) -> BucketizeResult:
    """Every window containing the event; keyed by ``parent_col`` the ids
    are ``parent/start``. No relations or seals."""
    spark = df.sparkSession
    win = F.window(F.col(time_col), duration, slide)
    assignments = _assigned(df, win, parent_col).drop("_w")
    return BucketizeResult(assignments, empty_relations(spark), empty_seals(spark))


def session_bucketizer(
    df: DataFrame,
    time_col: str,
    gap: str,
    *,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Per-key session windows: returns one row per session with
    (key..., session_start, session_end, n_members). ``session_window``
    merges events closer than ``gap``; end = last event + gap."""
    keys = key_cols or []
    grouped = df.groupBy(
        F.session_window(F.col(time_col), gap).alias("_w"), *keys
    ).agg(F.count(F.lit(1)).alias("n_members"))
    return grouped.select(
        *keys,
        F.date_format(F.col("_w")["start"], _FMT).alias("session_start"),
        F.date_format(F.col("_w")["end"], _FMT).alias("session_end"),
        "n_members",
    )
