"""Structured Streaming stateful kernels (M4): keyed state via
``applyInPandasWithState`` — the north_rule-named mechanism for page-counter
and first-seen state — all vectorized pandas, no per-row Python.

Two kernels compose the streaming subject-page bucketizer (S3):

1. ``_first_seen_fn``: keyed by ``bucket_id``; state = (seen: bool).
   Emits every member row tagged ``is_first`` for exactly one row per
   bucket across the stream's lifetime (the hypermediaControlsMap.has()
   check, SubjectPageBucketizer.ts:82-90, as distributed keyed state).
2. ``_make_rotation_fn``: the small stream of first-seen rows keyed to a
   single constant key (or to the parent bucket under a multi parent);
   state = (root_relation_count, root_count). Reproduces getCurrentStart
   (ts:55-72): assigns each new bucket its root index, emits rotation
   relations + seals. The per-key volume here is one row per NEW bucket —
   tiny relative to member volume, so the single key is not a throughput
   bottleneck (members never pass through it).

A third, ``keyed_pager``, is the one lifetime page counter: the per-parent
basic pager and the geospatial tile pager both run it. The global basic
pager (S1) needs no keyed state: with ``seq`` stamped at the source its
bucket is the stateless map of ``basic_pager(dense_seq=True)`` (SURVEY.md
§7); the substring trie's cross-key cascade runs incrementally in
``foreachBatch`` with a counters table (see streaming/trie_stream.py).

State schemas use explicit StructTypes; timeouts are NoTimeout — bucket
state lives for the stream's lifetime, exactly like the reference's
never-evicted Maps (SURVEY.md §4.1).
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from bucketizers_spark.operators.core import child_id
from bucketizers_spark.operators.subject_page import root_name, subject_page

_FIRST_SEEN_STATE = T.StructType([T.StructField("seen", T.BooleanType())])

_ROTATION_STATE = T.StructType(
    [
        T.StructField("rel_count", T.LongType()),
        T.StructField("root_count", T.LongType()),
    ]
)

_PAGER_STATE = T.StructType([T.StructField("cnt", T.LongType())])


def _first_seen_fn(
    key, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    seen = state.get[0] if state.exists else False
    # Materialize ALL Arrow chunks before tagging: a bucket whose rows span
    # multiple record batches within one micro-batch (large groups, or
    # unordered chunk delivery) must tag the GLOBAL min-seq row as first —
    # per-chunk tagging could pick a non-min row and carry the wrong
    # member's value/seq into the rotation stage. Group volume is bounded
    # by the micro-batch, so the concat is safe.
    pdf = pd.concat(list(pdfs), ignore_index=True)
    if len(pdf):
        pdf = pdf.sort_values("seq").reset_index(drop=True)
        first = pd.Series(False, index=pdf.index)
        if not seen:
            first.iloc[0] = True
            seen = True
        yield pdf.assign(is_first=first)
    state.update((bool(seen),))


def _make_rotation_fn(max_relations: int, key_col: str):
    """Vectorized getCurrentStart (SubjectPageBucketizer.ts:55-72): the k-th
    new bucket of a ``key_col`` group (0-based rank r) relates from root
    index r // max_relations; a rotation (+seal of the previous root) fires
    with every bucket whose r is a positive multiple of max_relations. The
    kernel emits root INDICES (``from_idx``) and ``rotation_stream`` names
    them; the keyed state carries only the running total of new buckets."""

    cols = [key_col, "relation_type", "from_idx", "to_bucket", "value", "seq"]

    def fn(
        key, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        rel_count, root_count = (
            (state.get[0], state.get[1]) if state.exists else (0, 0)
        )
        total = root_count * max_relations + rel_count
        for pdf in pdfs:
            pdf = pdf.sort_values("seq").reset_index(drop=True)
            n = len(pdf)
            if not n:
                yield pd.DataFrame(columns=cols)
                continue
            r = total + np.arange(n, dtype=np.int64)
            root_idx = r // max_relations
            eq = pd.DataFrame(
                {
                    key_col: pdf[key_col],
                    "relation_type": "EqualThan",
                    "from_idx": root_idx,
                    "to_bucket": pdf["bucket_id"],
                    "value": pdf["subject_value"],
                    "seq": pdf["seq"],
                }
            )
            rot_mask = (r % max_relations == 0) & (r > 0)
            rot = pd.DataFrame(
                {
                    key_col: pdf.loc[rot_mask, key_col].to_numpy(),
                    "relation_type": "Relation",
                    "from_idx": root_idx[rot_mask] - 1,
                    "to_bucket": None,
                    "value": None,
                    "seq": pdf.loc[rot_mask, "seq"].to_numpy(),
                }
            )
            total += n
            yield pd.concat([rot, eq], ignore_index=True)[cols]
        root_count = max((total - 1) // max_relations, 0) if total else 0
        rel_count = total - root_count * max_relations
        state.update((int(rel_count), int(root_count)))

    return fn


_ROTATION_FIELDS = [
    T.StructField("relation_type", T.StringType()),
    T.StructField("from_idx", T.LongType()),
    T.StructField("to_bucket", T.StringType()),
    T.StructField("value", T.StringType()),
    T.StructField("seq", T.LongType()),
]


def subject_page_stream(
    stream_df: DataFrame,
    value_col: str,
    *,
    salt: str = "s0",
    parent_col: str | None = None,
) -> DataFrame:
    """Streaming subject page: the batch operator's stateless bucket map
    (``subject_page`` keyed by ``parent_col`` for a multi child) plus
    keyed first-seen tagging. Returns the member stream with
    ``bucket_id``, ``subject_value`` and ``is_first`` columns (append
    mode), the input of ``rotation_stream``."""
    with_bucket = subject_page(
        stream_df, value_col, salt=salt, parent_col=parent_col
    ).assignments.withColumn("subject_value", F.col(value_col).cast("string"))
    out_schema = T.StructType(
        with_bucket.schema.fields + [T.StructField("is_first", T.BooleanType())]
    )
    return with_bucket.groupBy("bucket_id").applyInPandasWithState(
        _first_seen_fn,
        outputStructType=out_schema,
        stateStructType=_FIRST_SEEN_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def keyed_pager(
    df: DataFrame, keys: list[str], page_size: int, order=("seq",)
) -> DataFrame:
    """Lifetime page counter per ``keys`` group (keyed state: one long per
    group, never evicted, like the reference's page counters). Each
    micro-batch's rows, in ``order``, get the page of their group's running
    member count as ``_page``, plus ``is_new_tile`` (the group's first
    member) and ``is_new_page`` (a page's first member). The basic child
    (``paged_stream``) and the geo tile pager
    (``geo_stream.tile_pager_stage``) both page here and build their
    bucket ids from ``_page`` JVM-side."""
    out_schema = T.StructType(
        df.schema.fields
        + [
            T.StructField("_page", T.LongType()),
            T.StructField("is_new_tile", T.BooleanType()),
            T.StructField("is_new_page", T.BooleanType()),
        ]
    )

    def fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        cnt = state.get[0] if state.exists else 0
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            pdf = pdf.sort_values(list(order)).reset_index(drop=True)
            idx = cnt + np.arange(len(pdf), dtype=np.int64)
            pdf["_page"] = idx // page_size
            pdf["is_new_tile"] = idx == 0
            pdf["is_new_page"] = idx % page_size == 0
            cnt += len(pdf)
            yield pdf
        state.update((int(cnt),))

    return df.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=_PAGER_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def paged_stream(
    stream_df: DataFrame, parent_col: str, *, page_size: int = 50
) -> DataFrame:
    """Streaming per-parent arrival-order pager, the multi basic child:
    ``keyed_pager`` per parent bucket (one child instance per parent,
    MultiBucketizer.ts:94-96). ``bucket_id`` is ``parent/page``, built
    like ``basic_pager`` with ``parent_col``; ``rel_from`` carries the
    previous page's id (NULL on page 0, which opens no link), so the page
    link is a stateless filter on ``is_new_page`` over this stream's
    output.

    The GLOBAL basic pager has no keyed form: with ``seq`` stamped at the
    source its page is the stateless map of ``basic_pager(dense_seq=True)``
    — routing every member through one state key would serialize the
    stream."""

    def page_id(p):
        return child_id(p.cast("string"), parent_col)

    page = F.col("_page")
    return (
        keyed_pager(stream_df, [parent_col], page_size)
        .withColumn("bucket_id", page_id(page))
        .withColumn("rel_from", F.when(page >= 1, page_id(page - 1)))
    )


def rotation_stream(
    first_seen_df: DataFrame,
    *,
    max_relations: int = 100,
    root: str = "root",
    parent_col: str | None = None,
) -> DataFrame:
    """Stage 2: route first-seen rows through the rotation state; emits
    EqualThan relations, rotation Relations, and seal marks (rows with
    ``seal`` set). Single-key by default (the global subject pager);
    with ``parent_col`` a DEDICATED rotation per parent bucket (the
    multi subject child: parallelism = distinct parents). Roots are
    named by ``subject_page``'s own ``root_name``."""
    keyed = first_seen_df.where(F.col("is_first"))
    key_col = parent_col or "_k"
    if parent_col is None:
        keyed = keyed.withColumn("_k", F.lit(0))
    rot = keyed.groupBy(key_col).applyInPandasWithState(
        _make_rotation_fn(max_relations, key_col),
        outputStructType=T.StructType([keyed.schema[key_col], *_ROTATION_FIELDS]),
        stateStructType=_ROTATION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def name(idx):
        return root_name(idx, root, parent_col)

    from_root = name(F.col("from_idx"))
    is_rotation = F.col("relation_type") == "Relation"
    return rot.select(
        from_root.alias("from_bucket"),
        "relation_type",
        F.when(is_rotation, name(F.col("from_idx") + 1))
        .otherwise(F.col("to_bucket"))
        .alias("to_bucket"),
        "value",
        "seq",
        F.when(is_rotation, from_root).alias("seal"),
    )
