"""Two-phase range-partitioned global rank — the scale-safe form of
``row_number() OVER (ORDER BY k)``.

A bare global window sorts ALL rows in ONE task: fine as a parity mode at
test SF, a guaranteed straggler/OOM at 10^8+ rows (VERDICT r1 flagged the
subject-page rotation and the non-dense basic pager for exactly this).

Phase A: ``repartitionByRange`` on the order column spreads rows over P
sorted ranges (RangePartitioner: partition ids ascend with the ranges).
Phase B: rank within each partition (local sort) plus the exclusive prefix
sum of per-partition row counts — P numbers collected to the driver and
broadcast back as a literal map. Exact for unique order keys (ties stay
within one range partition, so resolution matches the single-window form:
arbitrary among equals).

Cost: one extra pass over the frame (the count) — the frame is
materialized (localCheckpoint) between the two passes; see the inline
comment for why persist() is the wrong tool here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from bucketizers_spark.plans.materialize import cut_lineage


#: Below this row count a single-task window sort is cheaper than the
#: two-phase machinery (range-sample pass + shuffle + checkpoint + offset
#: collect ≈ 4 extra jobs): 2M short rows sort in well under a second on
#: one core and fit trivially in executor memory.
SINGLE_TASK_THRESHOLD = 2_000_000


def _density_aggs(order_col: str) -> list:
    """The density gate's one aggregate: row count, distinct non-null
    keys, min and max."""
    return [
        F.count(F.lit(1)).alias("c"),
        F.count_distinct(order_col).alias("cd"),
        F.min(order_col).alias("mn"),
        F.max(order_col).alias("mx"),
    ]


def _is_dense(row) -> bool:
    """Keys are exactly min..max, each once. ``max - min + 1 == count``
    alone accepts duplicates that fill a gap ({1, 1, 3}) and nulls that
    do ({1, 3, null}); requiring every row to hold a distinct non-null
    key rules both out."""
    c = row["c"]
    return bool(c) and row["cd"] == c and row["mx"] - row["mn"] + 1 == c


def with_global_rank0(
    df: DataFrame,
    order_col: str,
    *,
    out_col: str = "rank0",
    partitions: int | None = None,
    single_task_threshold: int | None = None,
    probe_uncut: bool = False,
) -> DataFrame:
    """Return ``df`` with a 0-based dense global rank by ``order_col``.

    Hybrid: one cheap count picks between a single-task window sort
    (small frames) and the two-phase range-partitioned rank (everything
    else)."""
    spark = df.sparkSession
    p = partitions or spark.sparkContext.defaultParallelism
    if single_task_threshold is None:
        single_task_threshold = SINGLE_TASK_THRESHOLD  # runtime-patchable
    is_int = dict(df.dtypes)[order_col] in (
        "tinyint", "smallint", "int", "bigint",
    )
    # r7 fast path for CHEAP upstream plans (probe_uncut — the pagers,
    # whose input is the caller's raw scan): probe density with a
    # COLUMN-PRUNED agg over the uncut plan. If the key is dense the
    # rank is a pure narrow map and NOTHING is materialized — the old
    # shape paid a full-width localCheckpoint of the input (2.5s at
    # sf1.0 events) just to gate the path. Non-dense keys fall through
    # and pay one pruned pass extra, which is why expensive upstreams
    # (subject first-seen aggregates) keep the cut-first default.
    if is_int and probe_uncut:
        row = df.select(order_col).agg(*_density_aggs(order_col)).first()
        if _is_dense(row):
            return df.withColumn(
                out_col, (F.col(order_col) - F.lit(row["mn"])).cast("long")
            )
    # Materialize ONCE up front: the gating count needs a full pass over
    # the (possibly expensive) upstream plan anyway — without the
    # checkpoint, whichever path is chosen would recompute that plan from
    # scratch (the whole input computed twice per rank call).
    # localCheckpoint, not persist: (a) the range partitioner SAMPLES its
    # boundaries, so the frame must never be recomputed between the count
    # pass and the rank pass (different boundaries would invalidate the
    # collected offsets); truncated lineage makes recompute impossible;
    # (b) persist() registers the plan in the CacheManager, whose lookup
    # against every later query measurably poisons unrelated plan analysis
    # when these frames leak (observed: 45s plans after a dozen queries).
    mat = df.transform(cut_lineage)
    # r7: the gating pass now also reads min/max for integer keys. A
    # DENSE unique key fully determines the rank — rank0 = key - min as a
    # narrow map, no sort at all (and ties cannot exist, so resolution is
    # trivially identical). One action, like the old bare count (the
    # distinct count adds one shuffle to it); source-stamped seqs (the
    # fixture's event_id/doc_id) hit this path every time.
    if is_int:
        row = mat.agg(*_density_aggs(order_col)).first()
        cnt = row["c"]
        if _is_dense(row):
            return mat.withColumn(
                out_col, (F.col(order_col) - F.lit(row["mn"])).cast("long")
            )
    else:
        cnt = mat.count()
    if single_task_threshold and cnt <= single_task_threshold:
        w = Window.orderBy(order_col)
        return mat.withColumn(
            out_col, (F.row_number().over(w) - 1).cast("long")
        )
    parted = (
        mat.repartitionByRange(p, F.col(order_col))
        .withColumn("_pid", F.spark_partition_id())
        .transform(cut_lineage)
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in parted.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    if not counts:
        return mat.withColumn(out_col, F.lit(0).cast("long"))
    acc = 0
    pairs: list = []
    for pid in sorted(counts):
        pairs += [pid, acc]
        acc += counts[pid]
    off_map = F.create_map(*[F.lit(x) for x in pairs])
    w = Window.partitionBy("_pid").orderBy(order_col)
    return parted.withColumn(
        out_col,
        (off_map[F.col("_pid")] + F.row_number().over(w) - 1).cast("long"),
    ).drop("_pid")


def with_rank0(
    df: DataFrame,
    order_col: str,
    *,
    parent_col: str | None = None,
    out_col: str = "rank0",
    **global_kw,
) -> DataFrame:
    """0-based rank of ``order_col``. Keyed by ``parent_col`` it is a
    per-parent ``row_number`` window (one child instance per parent
    bucket: the parent partitions the window, each parent's rows sort in
    one task); otherwise the global two-phase rank (``with_global_rank0``,
    which takes ``global_kw``)."""
    if parent_col:
        w = Window.partitionBy(parent_col).orderBy(order_col)
        return df.withColumn(out_col, F.row_number().over(w) - 1)
    return with_global_rank0(df, order_col, out_col=out_col, **global_kw)


def with_global_prefix_sum(
    df: DataFrame,
    order_col: str,
    val_col: str,
    *,
    out_col: str = "offset0",
    partitions: int | None = None,
    single_task_threshold: int | None = None,
) -> DataFrame:
    """Return ``df`` with the EXCLUSIVE global prefix sum of ``val_col``
    in ``order_col`` order (row i gets sum of values of all rows before
    it; the first row gets 0) — the scale-safe form of
    ``sum(v) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING AND 1 PRECEDING)``.

    Same hybrid as :func:`with_global_rank0` and the same two-phase
    scheme at scale, with per-partition row COUNTS replaced by
    per-partition value SUMS: range-partition on the order column,
    collect the P partial sums, broadcast their exclusive prefix as a
    literal map, add the within-partition running sum. Exact for unique
    order keys. Drives sequence packing (entry_queries.q_pack_sequences),
    where the value is per-document token counts and the output offset
    places every document in the concatenated token stream."""
    spark = df.sparkSession
    p = partitions or spark.sparkContext.defaultParallelism
    if single_task_threshold is None:
        single_task_threshold = SINGLE_TASK_THRESHOLD
    mat = df.transform(cut_lineage)  # same reasoning as with_global_rank0
    excl = (Window.unboundedPreceding, -1)
    if single_task_threshold and mat.count() <= single_task_threshold:
        w = Window.orderBy(order_col).rowsBetween(*excl)
        return mat.withColumn(
            out_col,
            F.coalesce(F.sum(val_col).over(w), F.lit(0)).cast("long"),
        )
    parted = (
        mat.repartitionByRange(p, F.col(order_col))
        .withColumn("_pid", F.spark_partition_id())
        .transform(cut_lineage)
    )
    sums = {
        r["_pid"]: r["s"]
        for r in parted.groupBy("_pid")
        .agg(F.sum(val_col).alias("s"))
        .collect()
    }
    if not sums:
        return mat.withColumn(out_col, F.lit(0).cast("long"))
    acc = 0
    pairs: list = []
    for pid in sorted(sums):
        pairs += [pid, acc]
        acc += sums[pid]
    off_map = F.create_map(*[F.lit(x) for x in pairs])
    w = Window.partitionBy("_pid").orderBy(order_col).rowsBetween(*excl)
    return parted.withColumn(
        out_col,
        (
            off_map[F.col("_pid")]
            + F.coalesce(F.sum(val_col).over(w), F.lit(0))
        ).cast("long"),
    ).drop("_pid")
