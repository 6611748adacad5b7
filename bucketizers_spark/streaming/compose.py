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


def _stage_batch(
    data_dir: str, batch_id: int, build: Callable[[], DataFrame]
) -> None:
    """Stage one micro-batch as ``data_dir/batch-{id:09d}.parquet``: write
    ``build()`` as one file to a temp dir, then rename it into place. A
    batch whose file exists is a checkpoint replay after resume — it is
    skipped before ``build`` runs."""
    final = os.path.join(data_dir, f"batch-{batch_id:09d}.parquet")
    if os.path.exists(final):
        return
    tmp = os.path.join(data_dir, f"_tmp-{batch_id}")
    build().coalesce(1).write.mode("overwrite").parquet(tmp)
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
    partials). Stage 0 consumes ``input_stream``; stage k>0 consumes the
    previous stage's staged files. The last stage's staged files are the
    composition's output (``read_output``)."""

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
                current = _read_staged(
                    self.spark, schema, data_dir, max_files_per_trigger
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
            from bucketizers_spark.operators.core import empty_relations

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

    def __init__(self, c, *, with_parent: bool):
        self.c = c
        self.with_parent = with_parent

    def make_rel_handler(self, rel_dir: str, state_dir: str):
        from bucketizers_spark.streaming.geo_stream import (
            batch_relations,
            emitted_columns,
        )

        columns = emitted_columns(state_dir)
        root = getattr(self.c, "root", "root") or "root"

        def handler(bdf, batch_id: int) -> None:
            bdf = bdf.persist()
            _stage_batch(
                rel_dir,
                batch_id,
                lambda: batch_relations(
                    bdf, columns, batch_id, root=root,
                    with_parent=self.with_parent,
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

    Exactly-once across resume: ``process_batch`` is replay-idempotent
    (sink manifest + versioned counters); the staging step is skipped
    when the batch file already exists, and a crash between sink commit
    and staging is healed on replay by re-staging from the sink."""

    # stage-0 artifact columns a child stage replaces with its own
    _CHILD_DROPS = ("_parent", "is_first")

    def __init__(
        self,
        *,
        mode: str = "token",
        value_col: str = "tokens",
        page_size: int = 50,
        max_depth: int = 8,
        root: str = "root",
        within_parent: bool = False,
    ):
        self.mode = mode
        self.value_col = value_col
        self.page_size = page_size
        self.max_depth = max_depth
        self.root = root
        # child mode (stage k>0): the incoming bucket_id is the parent;
        # one dedicated trie per parent bucket, node names parent/node,
        # per-(parent, node) versioned counters (_run_cascade parent_col
        # + node_state — the TrieStage cross-key shape VERDICT r3 #1)
        self.within_parent = within_parent

    def _prep_child(self, bdf):
        drops = [c for c in self._CHILD_DROPS if c in bdf.columns]
        return bdf.drop(*drops).withColumnRenamed("bucket_id", "_parent")

    def output_schema(self, input_schema):
        from pyspark.sql import types as T

        if self.within_parent:
            fields = []
            for f in input_schema.fields:
                if f.name in self._CHILD_DROPS:
                    continue
                if f.name == "bucket_id":
                    fields.append(T.StructField("_parent", f.dataType))
                else:
                    fields.append(f)
            return T.StructType(
                fields + [T.StructField("bucket_id", T.StringType())]
            )
        return T.StructType(
            list(input_schema.fields)
            + [T.StructField("bucket_id", T.StringType())]
        )

    def make_handler(self, data_dir: str):
        from bucketizers_spark.streaming.trie_stream import TrieStreamJob

        stage_root = os.path.dirname(data_dir)
        job = TrieStreamJob(
            os.path.join(stage_root, "sink"),
            os.path.join(stage_root, "state"),
            mode=self.mode,
            value_col=self.value_col,
            page_size=self.page_size,
            max_depth=self.max_depth,
            root=self.root,
            parent_col="_parent" if self.within_parent else None,
        )

        def handler(bdf, batch_id: int) -> None:
            if self.within_parent:
                bdf = self._prep_child(bdf)
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
        from bucketizers_spark.sinks.idempotent import IdempotentParquetSink

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


def stages_from_spec(spec) -> list:
    """Map a validated multi JobSpec onto compose_streams stage
    transforms, where per-stage streaming forms exist:

    Stage-0 forms (every strategy): ``basic`` — stateless
    floor(seq/pageSize) under the dense source-stamped seq;
    ``subject`` — stateless bucket + keyed first-seen state
    (stateful.subject_page_stream); ``time`` (tumbling/sliding) — the
    batch time operator's stateless window bucket map; ``substring`` —
    TrieStage (the versioned-counter trie cascade as a job stage);
    ``geospatial`` — geo_stream.tile_pager_stage (per-tile pager with the bucketless
    sentinel fallback in one stateful op, the same stage GeoStreamJob
    runs; its relations stream out through GeoRelTee).

    Children — the batch child is the stage-0 operator keyed by the
    parent bucket (``parent_col``): ``basic`` (per-parent page-counter
    state), ``subject`` (``subject_page``'s stateless map keyed by the
    parent + first-seen tags), ``substring`` (TrieStage with
    ``within_parent`` — the per-parent cascade with versioned
    parent\\x1fnode (_PSEP) counters; cross-key coordination per level is
    why this is a job stage, not keyed state), ``geospatial``
    (per-(parent, tile) pager incl. sentinel fallback), ``time`` (the
    time operator's stateless ``parent/window-start`` map)."""
    from pyspark.sql import functions as F

    from bucketizers_spark.config import JobSpec, spec_from_dict
    from bucketizers_spark.operators.subject_page import subject_page
    from bucketizers_spark.pipeline import build
    from bucketizers_spark.streaming.geo_stream import tile_pager_stage
    from bucketizers_spark.streaming.stateful import (
        paged_stream,
        subject_page_stream,
    )

    if isinstance(spec, dict):
        spec = spec_from_dict(spec)
    if spec.strategy != "multi":
        raise ValueError("stages_from_spec takes a multi spec")
    # fail bad streaming specs at configuration time (ConfigError with
    # the session-window rationale), not when the stream starts
    from bucketizers_spark.config import validate_spec

    validate_spec(spec, streaming=True)

    def time_bucket(s, sub: JobSpec, parent: str | None):
        # the batch time operator's assignments; a child keeps _parent,
        # from which relations_from_spec re-derives the per-parent
        # boundary chain at read time (BatchDerivedRelations)
        if parent:
            s = s.drop(parent).withColumnRenamed("bucket_id", parent)
        return build(s, sub, parent_col=parent).assignments

    stages = []
    for k, sub in enumerate(spec.configs):
        if k == 0:
            if sub.strategy == "basic":
                # with seq stamped densely at the source the global pager
                # is the stateless map floor(seq/pageSize) — the
                # production path (operators/basic._with_rank0 dense_seq;
                # paged_stream's docstring explains why no keyed-state
                # form exists)
                stages.append(
                    lambda s, c=sub: s.withColumn(
                        "bucket_id",
                        F.floor(F.col("seq") / F.lit(c.page_size)).cast(
                            "string"
                        ),
                    )
                )
            elif sub.strategy == "subject":
                stages.append(
                    lambda s, c=sub: subject_page_stream(
                        s, c.column, salt=c.salt
                    )
                )
            elif sub.strategy == "time" and sub.window.kind in (
                "tumbling", "sliding",
            ):
                stages.append(lambda s, c=sub: time_bucket(s, c, None))
            elif sub.strategy == "substring":
                stages.append(
                    TrieStage(
                        mode="token" if sub.token_mode else "char",
                        value_col=sub.column or "tokens",
                        page_size=sub.page_size,
                        max_depth=sub.max_depth,
                        root=sub.root,
                    )
                )
            elif sub.strategy == "geospatial":
                # one stateful op incl. the bucketless sentinel fallback;
                # relations stream incrementally from the staged flags
                # (relations_from_spec → GeoRelTee)
                stages.append(
                    lambda s, c=sub: tile_pager_stage(
                        s, c.column, zoom=c.zoom, page_size=c.page_size
                    )
                )
            else:
                raise NotImplementedError(
                    f"streaming stage-1 form for {sub.strategy!r}"
                )
        else:
            if sub.strategy == "basic":
                stages.append(
                    lambda s, c=sub: paged_stream(
                        s,
                        "bucket_id",
                        page_size=c.page_size,
                        emit_page_first=True,
                    )
                )
            elif sub.strategy == "time" and sub.window.kind in (
                "tumbling", "sliding",
            ):
                stages.append(lambda s, c=sub: time_bucket(s, c, "_parent"))
            elif sub.strategy == "subject":
                # the subject child's ASSIGNMENT is the stateless
                # parent/normalized-child map of subject_page keyed by
                # the parent; keyed first-seen tagging rides along so the
                # per-parent rotation tee (relations_from_spec) is a
                # single further stateful step
                def subj_child(s, c=sub):
                    from bucketizers_spark.streaming.stateful import (
                        first_seen_tag,
                    )

                    # a subject stage-0 upstream leaves its own
                    # is_first/_parent columns — this stage's tags
                    # replace them
                    parented = (
                        s.drop("is_first", "_parent")
                        .withColumnRenamed("bucket_id", "_parent")
                        .withColumn(
                            "subject_value", F.col(c.column).cast("string")
                        )
                    )
                    return first_seen_tag(
                        subject_page(
                            parented, c.column, salt=c.salt, parent_col="_parent"
                        ).assignments
                    )

                stages.append(subj_child)
            elif sub.strategy == "geospatial":
                stages.append(
                    lambda s, c=sub: tile_pager_stage(
                        s, c.column, zoom=c.zoom, page_size=c.page_size,
                        with_parent=True,
                    )
                )
            elif sub.strategy == "substring":
                # per-parent trie child as a job stage: the cascade with
                # parent_col + versioned parent\x1fnode (_PSEP) counters — the
                # cross-key state shape keyed state cannot express
                stages.append(
                    TrieStage(
                        mode="token" if sub.token_mode else "char",
                        value_col=sub.column or "tokens",
                        page_size=sub.page_size,
                        max_depth=sub.max_depth,
                        within_parent=True,
                    )
                )
            else:
                raise NotImplementedError(
                    f"streaming child form for {sub.strategy!r} (batch "
                    "multi supports it; streaming children currently: "
                    "basic, subject, substring, geospatial, time)"
                )
    return stages


def relations_from_spec(spec) -> list:
    """Per-stage relation-tee transforms aligned 1:1 with
    ``stages_from_spec`` (pass both to ``compose_streams``). Each tee
    consumes its stage's staged output as a file stream and emits rows
    in RELATIONS_SCHEMA:

    - stage 0 ``subject``: the single-key rotation state
      (stateful.rotation_stream — EqualThan per first-seen bucket,
      Relation per root rotation, reference
      SubjectPageBucketizer.ts:55-72), mapped onto the batch relation
      columns.
    - stage 0 ``basic``: stateless boundary tee (page and first row are
      pure functions of the dense seq).
    - child ``basic``: a STATELESS filter — paged_stream stamps
      ``is_page_first``/``rel_from`` on the assignment stream, so the
      per-parent page link (``basic_pager`` with ``parent_col``
      semantics) needs no further state.
    - child ``subject``: a per-PARENT rotation (rotation_stream with
      ``parent_col`` — dedicated counter state per parent, root names
      collapsing onto the parent like ``subject_page`` with
      ``parent_col``).
    - ``time`` (tumbling, stage 0 or child): BatchDerivedRelations —
      ``tumbling_bucketizer``'s boundary chain between observed windows
      (per parent for a child), computed over the staged output at read
      time (see BatchDerivedRelations for why it cannot stream).
    - ``geospatial`` (stage 0 or child): GeoRelTee — an incremental
      foreachBatch tee over the staged pager rows running
      geo_stream.batch_relations (column → leaf-page and bucketless
      links per is_new_page row, root/parent → column deduped across
      batches with a versioned emitted-columns table), so relations
      stream out without rescanning the staged output.
    - others: None (substring relations — stage 0 or child — live in
      TrieStage's job sink and surface via read_relations(); sliding
      children have no relations in batch either)."""
    from pyspark.sql import functions as F

    from bucketizers_spark.config import spec_from_dict
    from bucketizers_spark.operators.core import relation_row
    from bucketizers_spark.pipeline import build
    from bucketizers_spark.streaming.stateful import rotation_stream

    if isinstance(spec, dict):
        spec = spec_from_dict(spec)
    if spec.strategy != "multi":
        raise ValueError("relations_from_spec takes a multi spec")

    def _map_rot(rot, c):
        # batch relation_row stamps property_path on EqualThan rows only
        # (rotation Relations carry NULL path)
        pp = getattr(c, "property_path", None)
        path = (
            F.when(F.col("relation_type") == "EqualThan", F.lit(pp))
            if pp
            else F.lit(None)
        )
        return rot.select(
            F.col("from_bucket"),
            F.col("relation_type"),
            F.col("to_bucket"),
            F.when(
                F.col("value").isNotNull(), F.array(F.col("value"))
            ).alias("values"),
            path.cast("string").alias("path"),
            F.col("seq").alias("created_at_seq"),
        )

    def subject_rels(s, c):
        return _map_rot(
            rotation_stream(s, max_relations=c.max_relations, root=c.root), c
        )

    def subject_child_rels(s, c):
        return _map_rot(
            rotation_stream(
                s, max_relations=c.max_relations, parent_col="_parent"
            ),
            c,
        )

    def basic_rels(s, c):
        return s.where(
            F.col("is_page_first") & F.col("rel_from").isNotNull()
        ).select(
            *relation_row(
                F.col("rel_from"),
                "Relation",
                F.col("bucket_id"),
                seq=F.col("seq"),
            )
        )

    def basic_stage0_rels(s, c):
        # boundary relation with each page's first member (page >= 1):
        # stateless under dense seq — the page and its first row are
        # pure functions of seq (operators/basic._page_relations)
        page = F.floor(F.col("seq") / F.lit(c.page_size))
        return s.where(
            (F.col("seq") % c.page_size == 0) & (page >= 1)
        ).select(
            *relation_row(
                (page - 1).cast("string"),
                "Relation",
                page.cast("string"),
                seq=F.col("seq"),
            )
        )

    rels: list = []
    for k, sub in enumerate(spec.configs):
        if k == 0 and sub.strategy == "basic":
            rels.append(lambda s, c=sub: basic_stage0_rels(s, c))
        elif k == 0 and sub.strategy == "subject":
            rels.append(lambda s, c=sub: subject_rels(s, c))
        elif k > 0 and sub.strategy == "basic":
            rels.append(lambda s, c=sub: basic_rels(s, c))
        elif k > 0 and sub.strategy == "subject":
            rels.append(lambda s, c=sub: subject_child_rels(s, c))
        elif sub.strategy == "time" and sub.window.kind == "tumbling":
            # the tumbling operator's relations over the staged output,
            # which carries the time column (and a child's _parent);
            # batch-derived because lead-links over observed windows
            # retract when a late window lands between two linked ones
            parent = "_parent" if k else None
            rels.append(
                BatchDerivedRelations(
                    lambda df, c=sub, p=parent: build(
                        df.drop("bucket_id"), c, parent_col=p
                    ).relations
                )
            )
        elif sub.strategy == "geospatial":
            # composed geo stages: INCREMENTAL relation tee driven by
            # the pager flags with versioned root→column dedup (GeoRelTee
            # — r4 VERDICT #3; the previous BatchDerivedRelations form
            # rescanned the complete staged output per listing)
            rels.append(GeoRelTee(sub, with_parent=(k > 0)))
        else:
            rels.append(None)
    return rels


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
