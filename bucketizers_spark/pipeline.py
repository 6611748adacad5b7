"""Factory / registry (O10) + JSON job-spec front door (O12): build a
configured batch bucketizer pipeline from a JobSpec.

Reference analogs:
- FactoryBuilder.build / type dispatch:
  /root/reference/packages/bucketizer-core/lib/BucketizerFactories.ts:15-72
- createBucketizer / createBucketizerLD entry points:
  /root/reference/packages/bucketizers/lib/bucketizers.ts:15-17, 48-55
- Turtle/file config loading (bucketizers.ts:19-24) maps to the JSON/dict
  spec (config.spec_from_dict); SHACL validation is config.validate_spec.

Each builder takes (DataFrame, JobSpec, parent_col) → BucketizeResult.
``parent_col`` keys the strategy's operator by a parent bucket: the
``multi`` strategy chains stages by running each child spec through the
same builder as stage 0, one child instance per parent bucket
(MultiBucketizer.ts:94-96), with parent-prefixed ids
(MultiBucketizer.ts:123-141).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bucketizers_spark.config import JobSpec, spec_from_dict
from bucketizers_spark.operators import (
    basic_pager,
    fallback_pager,
    session_bucketizer,
    sliding_bucketizer,
    subject_page,
    substring_trie,
    tumbling_bucketizer,
)
from bucketizers_spark.operators.core import (
    BucketizeResult,
    empty_relations,
    empty_seals,
)
from bucketizers_spark.operators.substring import token_prefix_trie


def _build_basic(
    df: DataFrame, spec: JobSpec, parent_col: str | None
) -> BucketizeResult:
    return basic_pager(
        df, page_size=spec.page_size, dense_seq=spec.dense_seq, parent_col=parent_col
    )


def _build_substring(
    df: DataFrame, spec: JobSpec, parent_col: str | None
) -> BucketizeResult:
    trie, col = (
        (token_prefix_trie, spec.column or "tokens")
        if spec.token_mode
        else (substring_trie, spec.column)
    )
    return trie(
        df,
        col,
        page_size=spec.page_size,
        root=spec.root,
        max_depth=spec.max_depth,
        salt_buckets=spec.salt_buckets,
        parent_col=parent_col,
    )


def _build_subject(
    df: DataFrame, spec: JobSpec, parent_col: str | None
) -> BucketizeResult:
    return subject_page(
        df,
        spec.column,
        salt=spec.salt,
        max_relations=spec.max_relations,
        root=spec.root,
        property_path=spec.property_path,
        parent_col=parent_col,
    )


def _build_time(
    df: DataFrame, spec: JobSpec, parent_col: str | None
) -> BucketizeResult:
    win = spec.window
    col = spec.column or "event_time"
    if win.kind == "tumbling":
        return tumbling_bucketizer(df, col, win.duration, parent_col=parent_col)
    if win.kind == "sliding":
        return sliding_bucketizer(
            df, col, win.duration, win.slide or win.duration, parent_col=parent_col
        )
    if parent_col:
        raise NotImplementedError(
            "session-window children aggregate members into "
            "per-(key, session) rows — not a per-member bucket "
            "assignment, so it cannot chain under multi; use "
            "tumbling or sliding"
        )
    # session windows return an aggregate frame; wrap as assignments-like
    agg = session_bucketizer(df, col, win.gap)
    res = BucketizeResult(
        agg.withColumn("bucket_id", F.col("session_start")),
        empty_relations(df.sparkSession),
        empty_seals(df.sparkSession),
    )
    return res


def _build_geospatial(
    df: DataFrame, spec: JobSpec, parent_col: str | None
) -> BucketizeResult:
    from bucketizers_spark.operators.geospatial import geospatial_tiles

    res = geospatial_tiles(
        df,
        spec.column,
        zoom=spec.zoom,
        page_size=spec.page_size,
        root=spec.root,
        parent_col=parent_col,
    )
    # non-WKT values throw in the reference ⇒ fallback pager
    # (SlippyMaps.ts:44-49 + BucketizerCore.ts:301-309); the operator
    # surfaces them as `unmatched`
    fb = fallback_pager(
        res.unmatched, page_size=spec.page_size, root=spec.root, parent_col=parent_col
    )
    return BucketizeResult(
        res.assignments.unionByName(fb.assignments),
        lambda r=res, f=fb: r.relations.unionByName(f.relations),
        lambda r=res: r.seals,
    )


def _build_multi(
    df: DataFrame, spec: JobSpec, parent_col: str | None
) -> BucketizeResult:
    """Chained stages, one child instance per parent bucket
    (MultiBucketizer.ts:46-162): stage k>0 is its spec's stage-0 builder
    keyed by the stage-(k-1) bucket, so every strategy the reference
    factory composes (BucketizerFactories.ts:15-72) chains, plus the
    engine's tumbling/sliding time windows (a session window is an
    aggregate, not a member assignment, and is rejected). Child bucket
    ids are parent-prefixed; child roots collapse onto the parent
    bucket."""
    head, *rest = spec.configs
    result = build(df, head, parent_col=parent_col)
    for k, sub in enumerate(rest):
        staged = result.assignments.withColumnRenamed("bucket_id", f"_p{k}")
        nxt = build(staged, sub, parent_col=f"_p{k}")
        # capture the result OBJECTS, not their .relations/.seals — the
        # property access would force the lazy factories at build time
        result = BucketizeResult(
            nxt.assignments.drop(f"_p{k}"),
            lambda n=nxt, r=result: r.relations.unionByName(n.relations),
            lambda n=nxt, r=result: r.seals.unionByName(n.seals),
        )
    return result


BUCKETIZERS = {
    "basic": _build_basic,
    "substring": _build_substring,
    "subject": _build_subject,
    "time": _build_time,
    "geospatial": _build_geospatial,
    "multi": _build_multi,
}


def build(
    df: DataFrame, spec: JobSpec | dict, *, parent_col: str | None = None
) -> BucketizeResult:
    """The createBucketizer front door: dispatch on validated strategy.
    With ``parent_col`` the strategy runs as a multi child keyed by that
    parent bucket column."""
    if isinstance(spec, dict):
        spec = spec_from_dict(spec)
    try:
        builder = BUCKETIZERS[spec.strategy]
    except KeyError:
        raise NotImplementedError(f"strategy {spec.strategy!r}")
    return builder(df, spec, parent_col)


def route_with_fallback(
    df: DataFrame, spec: JobSpec | dict
) -> BucketizeResult:
    """O1 dispatch incl. the zero-match fallback: rows whose property column
    is NULL go through the bucketless pager (BucketizerCore.ts:294-309),
    the rest through the strategy."""
    if isinstance(spec, dict):
        spec = spec_from_dict(spec)
    if not spec.column:
        return build(df, spec)
    if spec.strategy == "geospatial":
        # the geo builder already routes ALL unbucketizable members
        # (NULL value, non-WKT, -90° latitude) through ONE fallback
        # pager; splitting NULLs off here would run a second pager whose
        # page numbers collide with the builder's (the reference keeps a
        # single bucketlessPageMemberCounter, BucketizerCore.ts:375-396)
        return build(df, spec)
    matched = df.where(F.col(spec.column).isNotNull())
    unmatched = df.where(F.col(spec.column).isNull())
    main = build(matched, spec)
    fb = fallback_pager(
        unmatched, page_size=spec.page_size, root=spec.root
    )
    return BucketizeResult(
        main.assignments.unionByName(fb.assignments),
        lambda m=main, f=fb: m.relations.unionByName(f.relations),
        lambda m=main: m.seals,
    )
