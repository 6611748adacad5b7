"""Factory / registry (O10) + JSON job-spec front door (O12): build a
configured batch bucketizer pipeline from a JobSpec.

Reference analogs:
- FactoryBuilder.build / type dispatch:
  /root/reference/packages/bucketizer-core/lib/BucketizerFactories.ts:15-72
- createBucketizer / createBucketizerLD entry points:
  /root/reference/packages/bucketizers/lib/bucketizers.ts:15-17, 48-55
- Turtle/file config loading (bucketizers.ts:19-24) maps to the JSON/dict
  spec (config.spec_from_dict); SHACL validation is config.validate_spec.

Each builder takes (DataFrame, JobSpec) → BucketizeResult. The ``multi``
strategy chains stages with parent-prefixed bucket ids
(MultiBucketizer.ts:123-141), restricted here to compositions whose child
stages are per-parent pagers (the general chained-strategy case runs via
streaming stage chaining).
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
from bucketizers_spark.operators.multi import paged_within_parent
from bucketizers_spark.operators.substring import token_prefix_trie


def _build_basic(df: DataFrame, spec: JobSpec) -> BucketizeResult:
    return basic_pager(df, page_size=spec.page_size, dense_seq=spec.dense_seq)


def _build_substring(df: DataFrame, spec: JobSpec) -> BucketizeResult:
    if spec.token_mode:
        return token_prefix_trie(
            df,
            spec.column or "tokens",
            page_size=spec.page_size,
            root=spec.root,
            max_depth=spec.max_depth,
            salt_buckets=spec.salt_buckets,
        )
    return substring_trie(
        df,
        spec.column,
        page_size=spec.page_size,
        root=spec.root,
        max_depth=spec.max_depth,
        salt_buckets=spec.salt_buckets,
    )


def _build_subject(df: DataFrame, spec: JobSpec) -> BucketizeResult:
    return subject_page(
        df,
        spec.column,
        salt=spec.salt,
        max_relations=spec.max_relations,
        root=spec.root,
        property_path=spec.property_path,
    )


def _build_time(df: DataFrame, spec: JobSpec) -> BucketizeResult:
    win = spec.window
    col = spec.column or "event_time"
    if win.kind == "tumbling":
        return tumbling_bucketizer(df, col, win.duration)
    if win.kind == "sliding":
        return sliding_bucketizer(df, col, win.duration, win.slide or win.duration)
    # session windows return an aggregate frame; wrap as assignments-like
    agg = session_bucketizer(df, col, win.gap)
    res = BucketizeResult(
        agg.withColumn("bucket_id", F.col("session_start")),
        empty_relations(df.sparkSession),
        empty_seals(df.sparkSession),
    )
    return res


def _build_geospatial(df: DataFrame, spec: JobSpec) -> BucketizeResult:
    from bucketizers_spark.operators.geospatial import geospatial_tiles

    res = geospatial_tiles(
        df,
        spec.column,
        zoom=spec.zoom,
        page_size=spec.page_size,
        root=spec.root,
    )
    # non-WKT values throw in the reference ⇒ fallback pager
    # (SlippyMaps.ts:44-49 + BucketizerCore.ts:301-309); the operator
    # surfaces them as `unmatched`
    fb = fallback_pager(res.unmatched, page_size=spec.page_size, root=spec.root)
    return BucketizeResult(
        res.assignments.unionByName(fb.assignments),
        lambda r=res, f=fb: r.relations.unionByName(f.relations),
        lambda r=res: r.seals,
    )


def _build_multi(df: DataFrame, spec: JobSpec) -> BucketizeResult:
    """Chained stages, one child instance per parent bucket
    (MultiBucketizer.ts:46-162): every child strategy the reference
    factory composes is supported (BucketizerFactories.ts:15-72) — basic
    (per-parent pager), subject (per-parent first-seen + rotation),
    substring (per-parent trie: the cascade keyed by parent), geospatial
    (per-parent tile pager incl. its own bucketless fallback) — plus the
    engine's time-window extension (tumbling/sliding children; session is
    an aggregate shape that doesn't compose as member assignments). Child
    bucket ids are parent-prefixed; child roots collapse onto the parent
    bucket."""
    from bucketizers_spark.operators.multi import (
        geo_within_parent,
        subject_within_parent,
        time_within_parent,
        trie_within_parent,
    )

    head, *rest = spec.configs
    result = build(df, head)
    for k, sub in enumerate(rest):
        staged = result.assignments.withColumnRenamed("bucket_id", f"_p{k}")
        if sub.strategy == "basic":
            nxt = paged_within_parent(staged, f"_p{k}", page_size=sub.page_size)
        elif sub.strategy == "subject":
            nxt = subject_within_parent(
                staged,
                f"_p{k}",
                sub.column,
                salt=sub.salt,
                max_relations=sub.max_relations,
                property_path=sub.property_path,
            )
        elif sub.strategy == "substring":
            nxt = trie_within_parent(
                staged,
                f"_p{k}",
                sub.column or "tokens",
                mode="token" if sub.token_mode else "char",
                page_size=sub.page_size,
                max_depth=sub.max_depth,
            )
        elif sub.strategy == "geospatial":
            nxt = geo_within_parent(
                staged,
                f"_p{k}",
                sub.column,
                zoom=sub.zoom,
                page_size=sub.page_size,
            )
        elif sub.strategy == "time":
            win = sub.window
            if win.kind == "session":
                raise NotImplementedError(
                    "session-window children aggregate members into "
                    "per-(key, session) rows — not a per-member bucket "
                    "assignment, so it cannot chain under multi; use "
                    "tumbling or sliding"
                )
            nxt = time_within_parent(
                staged,
                f"_p{k}",
                sub.column or "event_time",
                duration=win.duration,
                slide=win.slide if win.kind == "sliding" else None,
            )
        else:
            raise NotImplementedError(
                f"multi child strategy {sub.strategy!r}"
            )
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


def build(df: DataFrame, spec: JobSpec | dict) -> BucketizeResult:
    """The createBucketizer front door: dispatch on validated strategy."""
    if isinstance(spec, dict):
        spec = spec_from_dict(spec)
    try:
        builder = BUCKETIZERS[spec.strategy]
    except KeyError:  # geospatial batch op ships as geo_tile query for now
        raise NotImplementedError(f"strategy {spec.strategy!r}")
    return builder(df, spec)


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
