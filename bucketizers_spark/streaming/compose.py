"""Productized multi-stage streaming composition via staged files.

Spark cannot chain two ``applyInPandasWithState`` operators inside one
streaming query (multi-stateful-operator support covers only time-window
ops); the supported pattern — which the reference's inherently-streaming
composition (MultiBucketizer.ts:46-162) maps onto — is stage k writing
its output as files that stage k+1 consumes as a file-stream source.
Spark 4.x ``transformWithStateInPandas`` was probed as a single-query
alternative (tools/tws_probe.py, VERDICT r3 #5) and ruled out twice
over: its Python worker needs google.protobuf, absent from this runtime
(every such query crashes, chained or not), and stateful-after-stateful
chaining is only supported for event-time operators declaring
``eventTimeColumnName`` (SPARK-49070) — these stages are arrival-order
machines with no event time, so the staged-file boundary remains the
correct (and failure-isolating) composition seam.
SURVEY.md §9 documented the pattern; this module packages it as one API
so the caller no longer hand-wires writers, schemas, and checkpoints:

- **Deterministic staged files**: each micro-batch lands as
  ``batch-{id:09d}.parquet`` via write-to-temp + atomic rename
  (``_stage_batch``, the one writer of stage, tee and job outputs). A batch
  replayed after a checkpoint resume finds its file already present and
  skips — the staged stream is exactly-once without a transactional sink
  (the local ``os.replace`` is the sandbox analog of an object-store
  committer; sinks/idempotent.py holds the production MERGE notes).
- **Arrival order**: stage k+1 and every relation tee read with
  ``maxFilesPerTrigger`` and ``latestFirst=false`` (``_read_staged``);
  batch-id file names are mod-time monotonic, so downstream keyed state
  sees rows in the same order batch mode sorts them (seq within batch,
  batches in order).
- **Resume safety**: every stage checkpoints under
  ``workdir/stage{k}/ckpt``. Rebuilding the same composition over the
  same workdir resumes each stage from its offsets; the kill/resume
  pytest (tests/test_streaming.py::TestComposeStreams) pins
  streaming == batch across a mid-stream kill.

Scale notes: stages are independent continuously-running queries —
pipeline parallelism across stages, keyed-state parallelism within one.
The per-batch ``coalesce(1)`` bounds file count, not throughput (a
micro-batch is trigger-bounded); raise ``files_per_batch`` if a single
writer task ever bottlenecks a hot stage.
"""

from __future__ import annotations

import glob
import os
import shutil
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bucketizers_spark.config import spec_from_dict, validate_spec
from bucketizers_spark.operators.basic import basic_pager
from bucketizers_spark.operators.core import empty_relations, relation_row
from bucketizers_spark.pipeline import build
from bucketizers_spark.sinks.idempotent import IdempotentParquetSink
from bucketizers_spark.streaming.geo_stream import (
    batch_relations,
    emitted_columns,
    tile_pager_stage,
)
from bucketizers_spark.streaming.stateful import (
    paged_stream,
    rotation_stream,
    subject_page_stream,
)
from bucketizers_spark.streaming.trie_stream import TrieStreamJob

# columns a stage adds beside ``bucket_id``; the re-key drops them before
# the next stage runs
_STAGE_HELPERS = (
    "_parent", "is_first", "subject_value", "rel_from",
    "_tpos", "_leaf", "_page", "is_new_tile", "is_new_page",
)


def _rekey(stream: DataFrame) -> DataFrame:
    """Stage k>0's input: stage k-1's output without its helper columns,
    its ``bucket_id`` renamed to ``_parent`` — the column every child
    stage is keyed by."""
    return stream.drop(*_STAGE_HELPERS).withColumnRenamed("bucket_id", "_parent")


def _stage_batch(
    data_dir: str, batch_id: int, frame: Callable[[], DataFrame]
) -> None:
    """Stage one micro-batch as ``data_dir/batch-{id:09d}.parquet``: write
    ``frame()`` as one file to a temp dir, then rename it into place. A
    batch whose file exists is a checkpoint replay after resume — it is
    skipped before ``frame`` runs."""
    final = os.path.join(data_dir, f"batch-{batch_id:09d}.parquet")
    if os.path.exists(final):
        return
    tmp = os.path.join(data_dir, f"_tmp-{batch_id}")
    frame().coalesce(1).write.mode("overwrite").parquet(tmp)
    parts = glob.glob(os.path.join(tmp, "part-*"))
    if parts:
        os.replace(parts[0], final)
    shutil.rmtree(tmp, ignore_errors=True)


def _batch_writer(data_dir: str):
    def write(bdf, batch_id: int) -> None:
        _stage_batch(data_dir, batch_id, lambda: bdf)

    return write


def _read_staged(
    spark: SparkSession, schema, data_dir: str, max_files_per_trigger: int
) -> DataFrame:
    """A file stream over a stage's staged batch files, in arrival order.
    The schema is known before start, so the stream opens before any file
    exists."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("latestFirst", "false")
        .parquet(data_dir)
    )


class ComposedStreams:
    """A chain of streaming stages wired through staged files.

    ``stages[k]`` is a transform ``streaming DataFrame -> streaming
    DataFrame`` (e.g. ``subject_page_stream`` / ``paged_stream``
    partials) or a job stage (``TrieStage``); ``stages_from_spec`` builds
    them from a multi spec. Stage 0 consumes ``input_stream``; stage k>0
    consumes the previous stage's staged files re-keyed (``_rekey``: the
    helper columns dropped, ``bucket_id`` renamed ``_parent``), so a
    child stage is keyed by ``_parent``. The last stage's staged files
    are the composition's output (``read_output``)."""

    def __init__(
        self,
        input_stream: DataFrame,
        stages: Sequence[Callable[[DataFrame], DataFrame]],
        workdir: str,
        *,
        max_files_per_trigger: int = 1,
        relations: Sequence | None = None,
    ):
        if not stages:
            raise ValueError("at least one stage required")
        if relations is not None and len(relations) != len(stages):
            raise ValueError("relations must align 1:1 with stages")
        self.spark: SparkSession = input_stream.sparkSession
        self.workdir = workdir
        self._queries = []
        self._plans = []
        self._rel_dirs: list[str] = []
        self._rel_readers: list = []
        current = input_stream
        last_data_dir = None
        for k, stage in enumerate(stages):
            data_dir = os.path.join(workdir, f"stage{k}", "data")
            ckpt_dir = os.path.join(workdir, f"stage{k}", "ckpt")
            os.makedirs(data_dir, exist_ok=True)
            if callable(stage):
                # stream→stream transform: run it, stage its micro-batches
                out = stage(current)
                handler = _batch_writer(data_dir)
                schema = out.schema
            else:
                # job stage (JOB_STAGE_PROTOCOL): a foreachBatch job with
                # its own versioned state — the handler runs the job AND
                # stages each committed batch for the next stage
                out = current
                handler = stage.make_handler(data_dir)
                schema = stage.output_schema(current.schema)
                if hasattr(stage, "relations_reader"):
                    self._rel_readers.append(
                        stage.relations_reader(data_dir)
                    )
            self._plans.append((out, handler, ckpt_dir))
            last_data_dir = data_dir
            if k < len(stages) - 1:
                current = _rekey(
                    _read_staged(
                        self.spark, schema, data_dir, max_files_per_trigger
                    )
                )
            rel = relations[k] if relations else None
            if isinstance(rel, BatchDerivedRelations):
                def _batch_rel_reader(spark, d=data_dir, r=rel):
                    if not glob.glob(os.path.join(d, "*.parquet")):
                        return None
                    return r.derive(
                        spark.read.parquet(os.path.join(d, "*.parquet"))
                    )

                self._rel_readers.append(_batch_rel_reader)
            elif rel is not None:
                # RELATION TEE: a second consumer of this stage's staged
                # files deriving the stage's relation side-output (batch
                # multi's BucketizeResult.relations analog). Reading the
                # staged files (not the live stream) keeps the tee
                # resume-safe and decoupled — it can lag or restart
                # without touching the assignment path.
                stage_dir = os.path.join(workdir, f"stage{k}")
                rel_in = _read_staged(
                    self.spark, schema, data_dir, max_files_per_trigger
                )
                rel_dir = os.path.join(stage_dir, "rels")
                os.makedirs(rel_dir, exist_ok=True)
                if hasattr(rel, "make_rel_handler"):
                    # job tee (GeoRelTee): a foreachBatch handler with its
                    # own versioned state
                    rel_out = rel_in
                    handler = rel.make_rel_handler(
                        rel_dir, os.path.join(stage_dir, "rels_state")
                    )
                else:
                    rel_out, handler = rel(rel_in), _batch_writer(rel_dir)
                self._plans.append(
                    (rel_out, handler, os.path.join(stage_dir, "rels_ckpt"))
                )
                self._rel_dirs.append(rel_dir)
        self.output_dir = last_data_dir

    def start(self) -> "ComposedStreams":
        for out, handler, ckpt_dir in self._plans:
            q = (
                out.writeStream.foreachBatch(handler)
                .option("checkpointLocation", ckpt_dir)
                .outputMode("append")
                .start()
            )
            self._queries.append(q)
        return self

    def process_all(self) -> None:
        """Drain every stage in order (test/batch-drain mode). In
        continuous operation just ``start()`` and let all stages run."""
        for q in self._queries:
            q.processAllAvailable()

    def stop(self) -> None:
        for q in self._queries:
            q.stop()
        self._queries = []

    def run_until_drained(self) -> DataFrame:
        self.start()
        self.process_all()
        self.stop()
        return self.read_output()

    def read_output(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.output_dir, "*.parquet"))

    def read_relations(self) -> DataFrame:
        """Union of every relation side-output: tee-staged frames plus
        job-stage sinks (RELATIONS_SCHEMA — the batch multi
        BucketizeResult.relations analog). Raises if the composition has
        no relation sources at all."""
        if not self._rel_dirs and not self._rel_readers:
            raise ValueError(
                "composition has no relation tees — pass "
                "relations=relations_from_spec(spec) to compose_streams"
            )
        parts = []
        for d in self._rel_dirs:
            if glob.glob(os.path.join(d, "*.parquet")):
                parts.append(
                    self.spark.read.parquet(os.path.join(d, "*.parquet"))
                )
        for read in self._rel_readers:
            part = read(self.spark)
            if part is not None:
                parts.append(part)
        if not parts:
            return empty_relations(self.spark)
        out = parts[0]
        for part in parts[1:]:
            out = out.unionByName(part, allowMissingColumns=True)
        return out


class GeoRelTee:
    """Incremental relation tee for composed geo stages (stage 0 or
    child): consumes the stage's staged pager rows as a file stream and
    stages each micro-batch's ``geo_stream.batch_relations`` — the one
    geo relation derivation, which the standalone GeoStreamJob runs too —
    as a batch file in ``rels/``, so ``read_relations()`` never rescans
    the stage's staged output. The emitted-columns state lives in
    ``rels_state/columns`` and is written before the relation file, so a
    crash between the two is healed on checkpoint replay."""

    def __init__(self, c, parent_col: str | None):
        self.c = c
        self.parent_col = parent_col

    def make_rel_handler(self, rel_dir: str, state_dir: str):
        columns = emitted_columns(state_dir)

        def handler(bdf, batch_id: int) -> None:
            bdf = bdf.persist()
            _stage_batch(
                rel_dir,
                batch_id,
                lambda: batch_relations(
                    bdf, columns, batch_id, root=self.c.root,
                    parent_col=self.parent_col,
                ),
            )
            bdf.unpersist()

        return handler


class BatchDerivedRelations:
    """A relation side-output that is NOT append-monotone — emitting it
    incrementally would require retractions (e.g. the tumbling child's
    lead-link chain over observed windows: a late window re-links both
    neighbors). Instead of a streaming tee, ``derive`` runs as a batch
    computation over the stage's COMPLETE staged output when
    ``read_relations()`` is called — exact by construction and
    resume-safe (the staged files are the source of truth)."""

    def __init__(self, derive):
        self.derive = derive


class TrieStage:
    """``TrieStreamJob`` as a compose stage (the JOB_STAGE_PROTOCOL: an
    object with ``output_schema`` + ``make_handler`` instead of a
    stream→stream callable). The versioned-counter trie cascade
    (streaming/trie_stream.py) cannot be an applyInPandasWithState
    transform — placement needs cross-key coordination per level — so
    the stage runs the job's foreachBatch handler under the compose
    checkpoint, then stages each committed batch's assignments as the
    atomic batch file the next stage's file source consumes.

    Keyed by ``parent_col`` (a child stage) it runs one dedicated trie per
    parent bucket: node names ``parent/node``, per-(parent, node) versioned
    counters (``_run_cascade`` with ``parent_col`` + ``node_state``).

    Exactly-once across resume: ``process_batch`` is replay-idempotent
    (sink manifest + versioned counters); the staging step is skipped
    when the batch file already exists, and a crash between sink commit
    and staging is healed on replay by re-staging from the sink."""

    def __init__(
        self,
        *,
        mode: str = "token",
        value_col: str = "tokens",
        page_size: int = 50,
        max_depth: int = 8,
        root: str = "root",
        parent_col: str | None = None,
    ):
        self.mode = mode
        self.value_col = value_col
        self.page_size = page_size
        self.max_depth = max_depth
        self.root = root
        self.parent_col = parent_col

    def output_schema(self, input_schema):
        return T.StructType(
            list(input_schema.fields)
            + [T.StructField("bucket_id", T.StringType())]
        )

    def make_handler(self, data_dir: str):
        stage_root = os.path.dirname(data_dir)
        job = TrieStreamJob(
            os.path.join(stage_root, "sink"),
            os.path.join(stage_root, "state"),
            mode=self.mode,
            value_col=self.value_col,
            page_size=self.page_size,
            max_depth=self.max_depth,
            root=self.root,
            parent_col=self.parent_col,
        )

        def handler(bdf, batch_id: int) -> None:
            job.process_batch(bdf, batch_id)
            _stage_batch(
                data_dir,
                batch_id,
                lambda: bdf.sparkSession.read.parquet(
                    os.path.join(job.sink.root, f"batch_id={batch_id}")
                ),
            )

        return handler

    def relations_reader(self, data_dir: str):
        """Batch reader over the job's committed relations sink, for
        ComposedStreams.read_relations() — the trie's relations are
        produced inside process_batch and land in the job's own
        idempotent sink, so no separate tee query is needed."""
        stage_root = os.path.dirname(data_dir)
        sink = IdempotentParquetSink(
            os.path.join(stage_root, "sink", "_relations")
        )

        def read(spark):
            try:
                return sink.read_all(spark).drop("batch_id")
            except FileNotFoundError:
                return None

        return read


# Per strategy, the streaming stage and its relation tee, each built from
# (sub spec, parent_col): stage 0 is the call with parent_col=None, a child
# stage the call keyed by the re-keyed parent bucket "_parent" — the
# streaming twin of pipeline.BUCKETIZERS. Every bucket and relation id
# comes from the batch operator's own id expressions
# (operators/core.child_id / root_id).


def _basic_stage(c, parent_col):
    # with no parent and a source-stamped dense seq paging is a stateless
    # map (the batch operator itself); a per-parent arrival rank needs
    # keyed state (paged_stream)
    if parent_col:
        return lambda s: paged_stream(s, parent_col, page_size=c.page_size)
    return lambda s: basic_pager(
        s, page_size=c.page_size, dense_seq=True
    ).assignments


def _basic_tee(c, parent_col):
    # page p's first member links page p-1 → p; page 0 opens no link. The
    # keyed pager flags that member and carries the previous page's id;
    # under stage 0's dense seq it is the member whose seq is a multiple
    # of the page size
    if parent_col:
        first = F.col("is_new_page") & F.col("rel_from").isNotNull()
        prev = F.col("rel_from")
    else:
        first = (F.col("seq") % c.page_size == 0) & (F.col("bucket_id") != "0")
        prev = (F.col("bucket_id").cast("long") - 1).cast("string")
    return lambda s: s.where(first).select(
        *relation_row(prev, "Relation", F.col("bucket_id"), seq=F.col("seq"))
    )


def _subject_stage(c, parent_col):
    return lambda s: subject_page_stream(
        s, c.column, salt=c.salt, parent_col=parent_col
    )


def _subject_tee(c, parent_col):
    # the rotation (one per parent under a parent stage, reference
    # SubjectPageBucketizer.ts:55-72) as relation rows; batch relation_row
    # stamps property_path on EqualThan rows only
    equal = F.col("relation_type") == "EqualThan"
    path = F.when(equal, F.lit(c.property_path)) if c.property_path else F.lit(None)

    def tee(s):
        rot = rotation_stream(
            s, max_relations=c.max_relations, root=c.root, parent_col=parent_col
        )
        return rot.select(
            "from_bucket",
            "relation_type",
            "to_bucket",
            F.when(F.col("value").isNotNull(), F.array("value")).alias("values"),
            path.cast("string").alias("path"),
            F.col("seq").alias("created_at_seq"),
        )

    return tee


def _time_stage(c, parent_col):
    return lambda s: build(s, c, parent_col=parent_col).assignments


def _time_tee(c, parent_col):
    # the tumbling chain links observed windows, so a late window
    # retracts a link: derived at read time from the staged output, which
    # keeps the time column (and a child's _parent). Sliding windows have
    # no relations in batch either.
    if c.window.kind != "tumbling":
        return None
    return BatchDerivedRelations(
        lambda df: build(df.drop("bucket_id"), c, parent_col=parent_col).relations
    )


def _geo_stage(c, parent_col):
    return lambda s: tile_pager_stage(
        s, c.column, zoom=c.zoom, page_size=c.page_size, parent_col=parent_col
    )


def _trie_stage(c, parent_col):
    return TrieStage(
        mode="token" if c.token_mode else "char",
        value_col=c.column or "tokens",
        page_size=c.page_size,
        max_depth=c.max_depth,
        root=c.root,
        parent_col=parent_col,
    )


STREAM_STAGES = {
    "basic": (_basic_stage, _basic_tee),
    "subject": (_subject_stage, _subject_tee),
    "time": (_time_stage, _time_tee),
    "geospatial": (_geo_stage, GeoRelTee),
    # the trie's relations land in its job sink (TrieStage.relations_reader)
    "substring": (_trie_stage, lambda c, parent_col: None),
}


def _per_stage(spec, which: int) -> list:
    if isinstance(spec, dict):
        spec = spec_from_dict(spec)
    if spec.strategy != "multi":
        raise ValueError(
            f"streaming composition takes a multi spec, not {spec.strategy!r}"
        )
    # fail bad streaming specs at configuration time (ConfigError with
    # the session-window rationale), not when the stream starts
    validate_spec(spec, streaming=True)
    return [
        STREAM_STAGES[sub.strategy][which](sub, "_parent" if k else None)
        for k, sub in enumerate(spec.configs)
    ]


def stages_from_spec(spec) -> list:
    """Map a validated multi JobSpec onto ``compose_streams`` stages, one
    per config, each built by its strategy's ``STREAM_STAGES`` entry:
    stage 0 unkeyed, stage k>0 keyed by ``_parent`` (the re-keyed
    stage-(k-1) bucket), as batch ``build`` keys a multi child by
    ``parent_col``:

    - ``basic``: stage 0 is ``basic_pager`` under the dense
      source-stamped seq (a stateless map); a child pages per parent with
      keyed counter state (stateful.paged_stream).
    - ``subject``: ``subject_page``'s stateless bucket map + keyed
      first-seen tags (stateful.subject_page_stream).
    - ``time`` (tumbling/sliding): the batch time operator's stateless
      window map.
    - ``substring``: TrieStage, the versioned-counter trie cascade as a
      job stage (cross-key coordination per level is why it is not keyed
      state); a child keeps versioned parent\x1fnode (_PSEP) counters.
    - ``geospatial``: geo_stream.tile_pager_stage, the per-(parent?,
      tile) pager with the bucketless sentinel fallback in one stateful
      op (the stage GeoStreamJob runs)."""
    return _per_stage(spec, 0)


def relations_from_spec(spec) -> list:
    """Per-stage relation tees aligned 1:1 with ``stages_from_spec``
    (pass both to ``compose_streams``), each from its strategy's
    ``STREAM_STAGES`` entry. A tee consumes its stage's staged output as
    a file stream and emits rows in RELATIONS_SCHEMA:

    - ``basic``: a stateless filter on each page's first member (the
      child pager flags it with ``is_new_page`` and ``rel_from``).
    - ``subject``: the rotation state (stateful.rotation_stream, one
      rotation per parent for a child) — EqualThan per first-seen
      bucket, Relation per root rotation (SubjectPageBucketizer.ts:55-72).
    - ``time`` (tumbling): BatchDerivedRelations — ``tumbling_bucketizer``'s
      boundary chain between observed windows, computed over the staged
      output at read time (see BatchDerivedRelations for why it cannot
      stream); sliding windows have none.
    - ``geospatial``: GeoRelTee — an incremental foreachBatch tee
      running geo_stream.batch_relations over the staged pager rows, so
      relations stream out without rescanning the staged output.
    - ``substring``: None — the trie's relations live in TrieStage's job
      sink and surface via read_relations()."""
    return _per_stage(spec, 1)


def compose_streams(
    input_stream: DataFrame,
    stages: Sequence[Callable[[DataFrame], DataFrame]],
    workdir: str,
    *,
    max_files_per_trigger: int = 1,
    relations: Sequence | None = None,
) -> ComposedStreams:
    """Build (without starting) a staged multi-stage streaming composition;
    see ComposedStreams. Re-invoking with the same ``workdir`` resumes
    from each stage's checkpoint. ``relations`` (from
    ``relations_from_spec``) adds per-stage relation tees; read them
    with ``read_relations()``."""
    return ComposedStreams(
        input_stream,
        stages,
        workdir,
        max_files_per_trigger=max_files_per_trigger,
        relations=relations,
    )
