"""Streaming time-window bucketizers with watermark-driven sealing (M4).

The streaming forms of operators/time_window.py: the member stream gets its
window bucket statelessly (append mode, no aggregation state needed for
assignment), while a parallel windowed aggregation with a watermark emits
one row per window **when the watermark passes its end** — that emission IS
the seal event (the generalization of ``sds:immutable``,
BucketizerCore.ts:311-312: a sealed page never reopens; late rows beyond
the watermark are dropped by Spark, the documented divergence knob —
the reference's single-threaded arrival order cannot produce lateness).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bucketizers_spark.operators.time_window import tumbling_bucketizer

_FMT = "yyyy-MM-dd HH:mm:ss"


def tumbling_assign_stream(
    stream_df: DataFrame, time_col: str, duration: str, watermark: str
) -> DataFrame:
    """Member stream + bucket_id (stateless append). The watermark is
    attached so a downstream stateful op / sink can drop late rows
    consistently with the seal stream. The bucket is the batch
    operator's (``tumbling_bucketizer`` assignments)."""
    watermarked = stream_df.withWatermark(time_col, watermark)
    return tumbling_bucketizer(watermarked, time_col, duration).assignments


def tumbling_seal_stream(
    stream_df: DataFrame, time_col: str, duration: str, watermark: str
) -> DataFrame:
    """Seal events: in append output mode a window's aggregate row is only
    emitted once the watermark passes window.end — i.e. exactly when the
    bucket becomes immutable. Carries per-bucket finals (n_members, n_tok
    sum when present) as the seal's audit payload."""
    aggs = [F.count(F.lit(1)).alias("n_members")]
    if "n_tok" in stream_df.columns:
        aggs.append(F.sum("n_tok").alias("sum_n_tok"))
    return (
        stream_df.withWatermark(time_col, watermark)
        .groupBy(F.window(F.col(time_col), duration).alias("_w"))
        .agg(*aggs)
        .select(
            F.date_format(F.col("_w")["start"], _FMT).alias("bucket_id"),
            F.date_format(F.col("_w")["end"], _FMT).alias("sealed_at"),
            *[
                F.col(c)
                for c in (["n_members"] + (["sum_n_tok"] if len(aggs) > 1 else []))
            ],
        )
    )


def session_seal_stream(
    stream_df: DataFrame,
    time_col: str,
    gap: str,
    watermark: str,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Per-key session windows, emitted (sealed) when the watermark passes
    session end + gap."""
    keys = key_cols or []
    return (
        stream_df.withWatermark(time_col, watermark)
        .groupBy(F.session_window(F.col(time_col), gap).alias("_w"), *keys)
        .agg(F.count(F.lit(1)).alias("n_members"))
        .select(
            *keys,
            F.date_format(F.col("_w")["start"], _FMT).alias("session_start"),
            F.date_format(F.col("_w")["end"], _FMT).alias("session_end"),
            "n_members",
        )
    )
