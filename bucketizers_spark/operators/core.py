"""Shared operator plumbing: result bundle + output schemas.

The reference's ``bucketize()`` returns one quad bag mixing three record
kinds (SDS records, relations, immutable marks —
/root/reference/packages/bucketizer-core/lib/BucketizerCore.ts:311-315).
A columnar engine separates them into three typed DataFrames (FIXTURES.md F4):

- ``assignments``: one row per (bucket, member) pair — the SDS records
  (createSDSRecord, BucketizerCore.ts:162-172). Carries all member payload
  columns plus ``bucket_id``; a member that gets zero buckets (the
  exhausted multi-word substring case, SubstringBucketizer.ts:80-86)
  appears with ``bucket_id IS NULL`` so no data is silently dropped.
- ``relations``: the hypermedia graph edges (expandRelation,
  BucketizerCore.ts:125-160).
- ``seals``: ``sds:immutable`` marks (BucketizerCore.ts:311-312),
  generalized to watermark-driven sealing in streaming mode.
"""

from __future__ import annotations

from typing import Callable, Sequence, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

RELATIONS_SCHEMA = T.StructType(
    [
        T.StructField("from_bucket", T.StringType()),
        T.StructField("relation_type", T.StringType()),
        T.StructField("to_bucket", T.StringType()),
        T.StructField("values", T.ArrayType(T.StringType())),
        T.StructField("path", T.StringType()),
        T.StructField("created_at_seq", T.LongType()),
    ]
)

SEALS_SCHEMA = T.StructType(
    [
        T.StructField("bucket_id", T.StringType()),
        T.StructField("sealed_at_seq", T.LongType()),
    ]
)


_Frame = Union[DataFrame, Callable[[], DataFrame]]


class BucketizeResult:
    """Operator result bundle. ``relations``/``seals`` accept a zero-arg
    factory instead of a DataFrame: some operators (subject-page) must run
    eager work (the two-phase rank's materialize + offset collect) to BUILD
    the relation frames — a consumer that only reads ``assignments`` (the
    hot path: member routing) must not pay for it. The factory is invoked
    and memoized on first attribute access."""

    def __init__(
        self, assignments: DataFrame, relations: _Frame, seals: _Frame
    ) -> None:
        self.assignments = assignments
        self._relations = relations
        self._seals = seals

    @property
    def relations(self) -> DataFrame:
        if callable(self._relations):
            self._relations = self._relations()
        return self._relations

    @relations.setter
    def relations(self, value: _Frame) -> None:
        self._relations = value

    @property
    def seals(self) -> DataFrame:
        if callable(self._seals):
            self._seals = self._seals()
        return self._seals

    @seals.setter
    def seals(self, value: _Frame) -> None:
        self._seals = value


def const_frame(spark, schema: T.StructType, row: tuple | None = None) -> DataFrame:
    """A constant frame of ``schema``: zero rows when ``row`` is None, else
    the one row ``row``, planned as ``Range`` + a literal ``Project`` — a
    pure JVM plan.

    ``spark.createDataFrame(<list>)`` is avoided on purpose: a Python list
    plans as ``Scan ExistingRDD`` over a ``PythonRDD``
    (``applySchemaToPythonRDD`` → ``SerDeUtil``), with Arrow on or off, so
    executing it forks the PySpark daemon and its workers just to unpickle
    the rows. A pandas frame takes the same path when it is empty, or when
    ``spark.sql.execution.arrow.pyspark.enabled`` is off; only a non-empty
    one with Arrow on is sent as Arrow batches. Operators build these
    frames on every streaming micro-batch, whose plans are otherwise
    all-JVM. Data collected to the driver goes through ``arrow_frame``.

    A column given a non-None value is a literal and so non-nullable; a
    zero-row frame matches ``schema`` exactly (every field nullable). File
    sinks write every column as nullable either way."""
    values = (None,) * len(schema.fields) if row is None else row
    return spark.range(0 if row is None else 1, numPartitions=1).select(
        *[
            F.lit(v).cast(f.dataType).alias(f.name)
            for v, f in zip(values, schema.fields, strict=True)
        ]
    )


def arrow_frame(spark, schema: T.StructType, columns: Sequence[Sequence]) -> DataFrame:
    """A frame of ``schema`` holding driver-side data, one sequence of
    values per field in ``columns`` (all of one length, zero allowed).

    The values travel as a ``pyarrow.Table``, which PySpark sends to the
    JVM as Arrow batches and plans as a ``LocalTableScan`` — with or
    without rows and whatever the session's Arrow setting — so, unlike a
    list or pandas frame (see ``const_frame``), executing the frame starts
    no Python worker."""
    import pyarrow as pa

    return spark.createDataFrame(
        pa.table(dict(zip(schema.names, columns, strict=True))), schema
    )


def empty_relations(spark) -> DataFrame:
    return const_frame(spark, RELATIONS_SCHEMA)


def empty_seals(spark) -> DataFrame:
    return const_frame(spark, SEALS_SCHEMA)


def child_id(name: F.Column, parent_col: str | None) -> F.Column:
    """A bucket id under an optional parent stage: ``parent/name`` when
    the operator is keyed by ``parent_col`` (a multi child; mapTerm's
    ``'/'`` join, MultiBucketizer.ts:123-141), ``name`` itself otherwise.
    ``concat_ws`` skips a NULL parent, leaving the name unprefixed."""
    return F.concat_ws("/", F.col(parent_col), name) if parent_col else name


def root_id(root: str, parent_col: str | None) -> F.Column:
    """The strategy root's id: under a parent stage the child root
    collapses onto the parent bucket itself (MultiBucketizer.ts:124-127),
    otherwise it is the configured ``root``."""
    return F.col(parent_col) if parent_col else F.lit(root)


def relation_row(from_b, rel_type: str, to_b, values=None, path=None, seq=None):
    """Build a relations-schema select list from Column expressions."""
    return [
        F.coalesce(from_b, F.lit(None).cast("string")).alias("from_bucket"),
        F.lit(rel_type).alias("relation_type"),
        to_b.cast("string").alias("to_bucket"),
        (values if values is not None else F.lit(None).cast("array<string>")).alias(
            "values"
        ),
        (path if path is not None else F.lit(None).cast("string")).alias("path"),
        (seq if seq is not None else F.lit(None).cast("long")).alias("created_at_seq"),
    ]
