"""Structured Streaming stateful kernels (M4): keyed state via
``applyInPandasWithState`` — the north_rule-named mechanism for page-counter
and first-seen state — all vectorized pandas, no per-row Python.

Two kernels compose the streaming subject-page bucketizer (S3):

1. ``_first_seen_fn``: keyed by ``bucket_id``; state = (seen: bool).
   Emits every member row tagged ``is_first`` for exactly one row per
   bucket across the stream's lifetime (the hypermediaControlsMap.has()
   check, SubjectPageBucketizer.ts:82-90, as distributed keyed state).
2. ``_rotation_fn``: the small stream of first-seen rows keyed to a single
   constant key; state = (root_relation_count, root_count). Reproduces
   getCurrentStart (ts:55-72): assigns each new bucket its root, emits
   rotation relations + seals. The per-key volume here is one row per NEW
   bucket — tiny relative to member volume, so the single key is not a
   throughput bottleneck (members never pass through it).

The basic pager (S1) needs no keyed state in this engine: with ``seq``
stamped at the source its bucket is the stateless map floor(seq/pageSize)
(SURVEY.md §7); the substring trie's cross-key cascade runs incrementally in
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

from bucketizers_spark.operators.subject_page import subject_page

_FIRST_SEEN_STATE = T.StructType([T.StructField("seen", T.BooleanType())])

_ROTATION_STATE = T.StructType(
    [
        T.StructField("rel_count", T.LongType()),
        T.StructField("root_count", T.LongType()),
    ]
)


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


def _make_rotation_fn(max_relations: int, root: str, parent_mode: bool = False):
    """Vectorized getCurrentStart (SubjectPageBucketizer.ts:55-72): the k-th
    new bucket overall (0-based rank r) relates from root index
    r // max_relations; a rotation (+seal of the previous root) fires with
    every bucket whose r is a positive multiple of max_relations. The keyed
    state carries only the running total of new buckets.

    ``parent_mode``: the group key is a stage-1 PARENT bucket and the
    child root collapses onto it — root index 0 is the parent itself,
    rotated roots are ``parent/root-N`` (``subject_page`` with
    ``parent_col`` names them the same, MultiBucketizer.ts:123-141)."""

    cols = ["from_bucket", "relation_type", "to_bucket", "value", "seq", "seal"]

    def fn(
        key, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if parent_mode:
            parent = str(key[0])
            zero_name, prefix = parent, parent + "/root-"
        else:
            zero_name, prefix = root, root + "-"

        def root_names(idx: "np.ndarray") -> pd.Series:
            s = pd.Series(idx).astype(str)
            return pd.Series(
                np.where(idx == 0, zero_name, prefix + s), dtype=object
            )

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
                    "from_bucket": root_names(root_idx),
                    "relation_type": "EqualThan",
                    "to_bucket": pdf["bucket_id"],
                    "value": pdf["subject_value"],
                    "seq": pdf["seq"],
                    "seal": None,
                }
            )
            rot_mask = (r % max_relations == 0) & (r > 0)
            rot = pd.DataFrame(
                {
                    "from_bucket": root_names(root_idx[rot_mask] - 1),
                    "relation_type": "Relation",
                    "to_bucket": root_names(root_idx[rot_mask]),
                    "value": None,
                    "seq": pdf.loc[rot_mask, "seq"].to_numpy(),
                    "seal": root_names(root_idx[rot_mask] - 1),
                }
            )
            total += n
            yield pd.concat([rot, eq], ignore_index=True)[cols]
        root_count = max((total - 1) // max_relations, 0) if total else 0
        rel_count = total - root_count * max_relations
        state.update((int(rel_count), int(root_count)))

    return fn


_ROTATION_OUT_SCHEMA = T.StructType(
    [
        T.StructField("from_bucket", T.StringType()),
        T.StructField("relation_type", T.StringType()),
        T.StructField("to_bucket", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("seal", T.StringType()),
    ]
)


def subject_page_stream(
    stream_df: DataFrame,
    value_col: str,
    *,
    salt: str = "s0",
    ascii_fast: bool = True,
) -> DataFrame:
    """Stage 1 of streaming subject-page: stateless bucket id (the batch
    operator's assignments) + keyed first-seen tagging. Returns the
    member stream with ``bucket_id`` and ``is_first`` columns (append
    mode)."""
    with_bucket = subject_page(
        stream_df, value_col, salt=salt, ascii_fast=ascii_fast
    ).assignments.withColumn("subject_value", F.col(value_col).cast("string"))
    return first_seen_tag(with_bucket)


_PAGER_STATE = T.StructType([T.StructField("cnt", T.LongType())])


def paged_stream(
    stream_df: DataFrame,
    parent_col: str,
    *,
    page_size: int = 50,
    seq_col: str = "seq",
    out_col: str = "bucket_id",
    emit_page_first: bool = False,
) -> DataFrame:
    """Streaming per-parent arrival-order pager: keyed page-counter state
    per parent bucket (the multi composition's child-instance-per-parent,
    MultiBucketizer.ts:94-96, as applyInPandasWithState keyed state).
    Emits ``out_col = parent/page``; parallelism = number of distinct
    parents, counters are one long per parent.

    The GLOBAL basic pager deliberately has no streaming-state form: with
    ``seq`` stamped at the source its page is the stateless map
    floor(seq/pageSize) (see module docstring) — routing every member
    through one state key would serialize the stream.

    ``emit_page_first=True`` adds two columns for downstream RELATION
    derivation (streaming/compose.relations_from_spec): ``is_page_first``
    marks each page's first arrival, ``rel_from`` carries the previous
    page's bucket id (NULL on page 0, which opens no link — the
    ``basic_pager`` with ``parent_col`` semantics). The page link is then
    a stateless filter over this stream's staged output."""
    fields = [f for f in stream_df.schema.fields if f.name != out_col]
    extra = (
        [
            T.StructField("is_page_first", T.BooleanType()),
            T.StructField("rel_from", T.StringType()),
        ]
        if emit_page_first
        else []
    )
    out_schema = T.StructType(
        fields + [T.StructField(out_col, T.StringType())] + extra
    )
    names = [f.name for f in fields]

    def fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        cnt = state.get[0] if state.exists else 0
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            pdf = pdf.sort_values(seq_col).reset_index(drop=True)
            offs = cnt + np.arange(len(pdf))
            pages = offs // page_size
            parent = str(key[0])
            out = pdf[names].assign(
                **{out_col: [f"{parent}/{p}" for p in pages]}
            )
            if emit_page_first:
                out = out.assign(
                    is_page_first=(offs % page_size == 0),
                    rel_from=[
                        f"{parent}/{p - 1}" if p >= 1 else None
                        for p in pages
                    ],
                )
            yield out
            cnt += len(pdf)
        state.update((int(cnt),))

    return stream_df.groupBy(parent_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=_PAGER_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def first_seen_tag(stream_df: DataFrame, key_col: str = "bucket_id") -> DataFrame:
    """Tag each ``key_col`` group's first arrival (by seq) with
    ``is_first`` via keyed boolean state — the reusable half of
    subject_page_stream, also used by the multi subject-child stage."""
    out_schema = T.StructType(
        stream_df.schema.fields + [T.StructField("is_first", T.BooleanType())]
    )
    return stream_df.groupBy(key_col).applyInPandasWithState(
        _first_seen_fn,
        outputStructType=out_schema,
        stateStructType=_FIRST_SEEN_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
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
    multi subject-child form: parallelism = distinct parents, root
    names collapse onto each parent)."""
    keyed = first_seen_df.where(F.col("is_first"))
    if parent_col is None:
        keyed = keyed.withColumn("_k", F.lit(0))
        group_col = "_k"
    else:
        group_col = parent_col
    return keyed.groupBy(group_col).applyInPandasWithState(
        _make_rotation_fn(max_relations, root, parent_mode=parent_col is not None),
        outputStructType=_ROTATION_OUT_SCHEMA,
        stateStructType=_ROTATION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
