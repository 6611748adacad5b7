"""The workloads. Each one prepares seeded inputs, warms up, runs one
unit of work per ``rep``, checks outputs against a reference computed
outside the timed phase and, in the traced run, turns spans and streaming
progress into per-layer metrics.

The stream keeps one query running for the whole run: warm-up drains its
first two chunks, and each rep stages a backlog of three more chunks and
drains it, so measured batches carry the state of every batch before them.
A batch rep is one sweep of the chosen headline queries.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from dataclasses import dataclass, field

from tools.check_parity import frame_hash

HEADLINE_SUBSET = [
    # the token trie (operators.substring and rank, shared with stream_trie),
    # the minhash query (shingle and band kernels) and the query with the
    # most eager driver-side jobs
    "token_prefix_trie",
    "dedup_minhash",
    "dedup_cluster",
]
JOB_COUNTED = [
    "dedup_cluster",
    "ann_ivfpq",
    "ann_pq_rescore",
    "knn_classify",
    "pmi_bigrams",
    "substring_trie",
    "token_prefix_trie",
]
# the batch warm-up reads other files with other data, so no cache in the
# engine keyed by path or content is filled for the first measured rep
WARM_SEED = 7919
PROGRESS_PARTS = {
    "latestOffset": "sources.latest_offset_s",
    "getBatch": "sources.get_batch_s",
    "walCommit": "microbatch.wal_commit_s",
    "commitOffsets": "microbatch.commit_offsets_s",
    "queryPlanning": "microbatch.query_planning_s",
    "addBatch": "microbatch.add_batch_s",
}


@dataclass
class Rep:
    wall_s: float
    op_s: list[float]  # one entry per op: a micro-batch or a query
    rows: int
    out_dir: str = ""
    chunks: int = 0  # streams: chunks the query has consumed after this rep
    progress: list[dict] = field(default_factory=list)
    failed_ops: int = 0
    outputs: dict = field(default_factory=dict)
    cpu_s: float = 0.0  # CPU of the whole process tree during the rep
    gc_s: float = 0.0  # the driver JVM's GC time during the rep
    heap_mb: float = 0.0  # the driver JVM's live heap after the rep


def _cached(path: str, compute):
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    text = json.dumps(compute())
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        fh.write(text)
    os.replace(path + ".tmp", path)
    return json.loads(text)  # same types as a cache hit


def _digest(df) -> str:
    return frame_hash(df.columns, [tuple(r) for r in df.collect()])[0]


def _dir_bytes(root: str) -> tuple[int, int]:
    files = glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    return sum(os.path.getsize(f) for f in files), len(files)


def _progress_layers(progress: list[dict]) -> dict[str, float]:
    out = {v: 0.0 for v in PROGRESS_PARTS.values()}
    for p in progress:
        for k, v in PROGRESS_PARTS.items():
            out[v] += p["durationMs"].get(k, 0) / 1000
    return out


class Workload:
    name = ""

    def __init__(self, spark, work: str, cache: str, seed: int):
        self.spark = spark
        self.work = work
        self.cache = cache
        self.seed = seed

    def can_rep(self) -> bool:
        return True

    def trace_kw(self, tracer) -> dict:
        """Arguments of ``rep`` in the traced run; all but ``tracer`` also
        go to its untraced reference rep."""
        return {}

    def extra_traced(self, tracer) -> list[Rep]:
        """Reps run once after the traced reps."""
        return []

    def finish(self) -> None:
        """Stop what the workload left running."""


# -- stream_trie ---------------------------------------------------------------
@dataclass
class StreamRun:
    """One running query over its own source, sink and checkpoint dirs."""

    root: str
    query: object = None
    released: int = 0
    last_batch: int = -1

    @property
    def source(self) -> str:
        return os.path.join(self.root, "source")


TRIE_KW = dict(
    mode="token",
    value_col="tokens",
    page_size=200,
    max_depth=6,
    salt_buckets=64,
    tail_threshold=0,
)


def _read_sink(spark, root: str, n_batches: int):
    """The committed batches of an IdempotentParquetSink, or None unless
    exactly batches 0..n_batches-1 are committed."""
    from bucketizers_spark.sinks.idempotent import IdempotentParquetSink

    sink = IdempotentParquetSink(root)
    if sink.committed_batches() != set(range(n_batches)):
        return None
    return sink.read_all(spark).drop("batch_id")


class StreamTrie(Workload):
    name = "stream_trie"
    chunk_rows = 2000
    warm_chunks = 2  # a batch without and a batch with prior counter state
    rep_chunks = 3
    max_reps = 3  # staged pool: the measured phase ends early if it runs out

    @property
    def ops_per_rep(self) -> int:
        return self.rep_chunks

    def prepare(self, d: str) -> None:
        from bucketizers_spark.sources.stream import stage_chunks
        from bucketizers_spark.sources.synthetic import token_stream_pdf

        n = self.warm_chunks + self.rep_chunks * self.max_reps
        self.pdf = token_stream_pdf(self.chunk_rows * n, seed=self.seed)
        self.pool = os.path.join(d, "pool")
        stage_chunks(self.pdf, self.pool, n_chunks=n)
        self.pool_files = sorted(os.listdir(self.pool))

    def new_run(self, name: str) -> StreamRun:
        run = StreamRun(os.path.join(self.work, name))
        os.makedirs(run.source)
        self._release(run, self.warm_chunks)
        run.query = self.start(run)
        self._drain(run)
        return run

    def warm(self, d: str) -> None:
        self.run = self.new_run("main")

    def trace_kw(self, tracer) -> dict:
        # one batch a rep, so the traced run fits the time a run may take
        return {"chunks": 1}

    def can_rep(self) -> bool:
        return self.run.released + self.rep_chunks <= len(self.pool_files)

    def rep(self, run: StreamRun | None = None, chunks: int | None = None) -> Rep:
        run = run or self.run
        chunks = chunks or self.rep_chunks
        t0 = time.time()
        self._release(run, chunks)
        progress = self._drain(run)
        wall = time.time() - t0
        ops = [p["durationMs"]["triggerExecution"] / 1000 for p in progress]
        return Rep(wall, ops, self.chunk_rows * chunks, run.root, run.released, progress)

    def _release(self, run: StreamRun, k: int) -> None:
        """Stage the next ``k`` pool chunks into the run's source dir. Each
        file is linked under a hidden name, which the file source skips,
        then renamed, so a trigger never lists a partly written file."""
        for name in self.pool_files[run.released : run.released + k]:
            tmp = os.path.join(run.source, "." + name)
            os.link(os.path.join(self.pool, name), tmp)
            os.rename(tmp, os.path.join(run.source, name))
        run.released += k

    def _drain(self, run: StreamRun) -> list[dict]:
        """Progress of the batches the query runs until the source is empty."""
        run.query.processAllAvailable()
        new = {}
        for p in run.query.recentProgress:
            if p.batchId > run.last_batch and p.numInputRows > 0:
                new[p.batchId] = json.loads(p.json)
        if new:
            run.last_batch = max(new)
        return [new[b] for b in sorted(new)]

    def stop_run(self, run: StreamRun) -> None:
        if run.query is not None and run.query.isActive:
            run.query.stop()

    def finish(self) -> None:
        self.stop_run(self.run)

    def check(self, reps: list[Rep]) -> int:
        """Failed ops: every op of a run whose output differs from the
        batch reference over the chunks it consumed."""
        failed = 0
        for out_dir in {r.out_dir for r in reps}:
            mine = [r for r in reps if r.out_dir == out_dir]
            if not self.output_ok(out_dir, max(r.chunks for r in mine)):
                failed += sum(len(r.op_s) for r in mine)
        return failed

    def _ref_key(self, chunks: int) -> str:
        return os.path.join(
            self.cache, f"{self.name}-{self.seed}-{self.chunk_rows}x{chunks}.json"
        )

    def start(self, run: StreamRun):
        from bucketizers_spark.sources.stream import read_token_stream
        from bucketizers_spark.streaming.trie_stream import TrieStreamJob

        job = TrieStreamJob(
            os.path.join(run.root, "sink"), os.path.join(run.root, "state"), **TRIE_KW
        )
        stream = read_token_stream(self.spark, run.source, 1)
        return job.start(stream, os.path.join(run.root, "ckpt"))

    def _reference(self, chunks: int) -> dict:
        # the batch operator with its default (unsalted, grouped-walk tail)
        # plan: the salted all-distributed cascade is an exact rewrite
        from bucketizers_spark.operators.substring import token_prefix_trie
        from bucketizers_spark.sources.synthetic import TOKEN_STREAM_SCHEMA

        pdf = self.pdf.iloc[: chunks * self.chunk_rows]
        df = self.spark.createDataFrame(pdf, TOKEN_STREAM_SCHEMA)
        res = token_prefix_trie(
            df,
            "tokens",
            page_size=TRIE_KW["page_size"],
            max_depth=TRIE_KW["max_depth"],
            seq_col="seq",
        )
        return {
            "assignments": _digest(res.assignments.select("seq", "bucket_id")),
            "relations": _digest(res.relations),
        }

    def output_ok(self, out_dir: str, chunks: int) -> bool:
        want = _cached(self._ref_key(chunks), lambda: self._reference(chunks))
        sink = os.path.join(out_dir, "sink")
        assigned = _read_sink(self.spark, sink, chunks)
        relations = _read_sink(self.spark, os.path.join(sink, "_relations"), chunks)
        if assigned is None or relations is None:
            return False
        assigned = assigned.select("seq", "bucket_id")
        return (
            assigned.count() == chunks * self.chunk_rows
            and _digest(assigned) == want["assignments"]
            and _digest(relations) == want["relations"]
        )

    def install(self, tracer) -> None:
        from bucketizers_spark.sinks.idempotent import IdempotentParquetSink
        from bucketizers_spark.streaming import trie_stream

        tracer.wrap(
            trie_stream.TrieStreamJob, "process_batch", "trie_stream.process_batch", tag_arg=2
        )
        tracer.wrap(trie_stream, "token_prefix_trie", "substring.build")
        tracer.wrap(IdempotentParquetSink, "write_batch", "sinks.write_batch", tag_arg=2)
        tracer.wrap(IdempotentParquetSink, "committed_batches", "sinks.committed_batches")

    def layers(self, tracer, reps: list[Rep], since: float) -> dict:
        import pyarrow.parquet as pq

        m = _progress_layers([p for r in reps for p in r.progress])
        handler = tracer.select("trie_stream.process_batch", since)
        build = tracer.select("substring.build", since)
        write = tracer.select("sinks.write_batch", since)
        check = tracer.select("sinks.committed_batches", since)
        build_jobs = [j for i in build for j in tracer.jobs_of(i)]
        # the counter table after, and the sink files of, the traced batches
        traced = {p["batchId"] for r in reps for p in r.progress}
        last = os.path.join(self.run.root, "state", "counters", f"v={max(traced)}")
        counter_bytes, _ = _dir_bytes(last)
        sink_bytes = sink_files = 0
        for sink in ("sink", os.path.join("sink", "_relations")):
            for b in traced:
                nb, nf = _dir_bytes(os.path.join(self.run.root, sink, f"batch_id={b}"))
                sink_bytes += nb
                sink_files += nf
        m.update(
            {
                "trie_stream.handler_s": sum(tracer.duration(i) for i in handler),
                "trie_stream.self_s": sum(tracer.self_time(i) for i in handler),
                "trie_stream.jobs": sum(len(tracer.jobs_of(i)) for i in handler),
                "trie_stream.counter_rows": pq.ParquetDataset(last).read().num_rows,
                "trie_stream.counter_bytes": counter_bytes,
                "substring.build_s": sum(tracer.duration(i) for i in build),
                "substring.build_jobs": len(build_jobs),
                "substring.build_stages": tracer.stages_of(build_jobs),
                "sinks.write_s": sum(tracer.duration(i) for i in write),
                "sinks.write_jobs": sum(len(tracer.jobs_of(i)) for i in write),
                "sinks.bytes_written": sink_bytes,
                "sinks.files_written": sink_files,
                "sinks.commit_check_s": sum(tracer.duration(i) for i in check),
            }
        )
        accounted = sum(
            m[k]
            for k in (
                "sources.latest_offset_s",
                "sources.get_batch_s",
                "microbatch.wal_commit_s",
                "microbatch.commit_offsets_s",
                "microbatch.query_planning_s",
                "trie_stream.self_s",
                "substring.build_s",
                "sinks.write_s",
                "sinks.commit_check_s",
            )
        )
        m["trace.unaccounted_s"] = sum(r.wall_s for r in reps) - accounted
        return m


# -- batch_queries -------------------------------------------------------------
def _replica_tables(seed: int, out_dir: str, scale: float) -> dict[str, int]:
    """documents, embeddings and events with the sf0.1 fixtures' marginals
    (scale 1.0 is the sf0.1 shape), from the tools/make_prof_replica.py
    generators; returns their row counts."""
    import numpy as np
    import pyarrow.parquet as pq

    from tools.make_prof_replica import gen_documents, gen_embeddings, gen_events

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "documents": gen_documents(rng, int(5000 * scale)),
        "embeddings": gen_embeddings(rng, int(2000 * 4 ** np.log10(scale))),
        "events": gen_events(rng, int(100_000 * scale), int(1500 * scale)),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


class BatchQueries(Workload):
    name = "batch_queries"
    scale = 1.0  # sf0.1 shape
    warm_scale = 0.1  # sf0.01 shape: the same plans, less data

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.queries = list(HEADLINE_SUBSET)

    @property
    def ops_per_rep(self) -> int:
        return len(self.queries)

    def prepare(self, d: str) -> None:
        self.sf_dir = os.path.join(d, "sf")
        self.table_rows = _replica_tables(self.seed, self.sf_dir, self.scale)

    def warm(self, d: str) -> None:
        self.warm_dir = os.path.join(d, "sf")
        _replica_tables(self.seed + WARM_SEED, self.warm_dir, self.warm_scale)
        self.rep(self.warm_dir)

    def trace_kw(self, tracer) -> dict:
        return {"tracer": tracer}

    def extra_traced(self, tracer) -> list[Rep]:
        """The other headline queries of bench.py, traced once each over
        the warm-up's sf0.01-shaped tables, so every one of the 43 gets its
        ``query.<name>_s``. Only a query that raises fails here: their
        DuckDB parity is the test suite's job, and checking 40 more oracles
        at sf0.1 would not fit the time a run may take."""
        from bench import HEADLINE

        rest = [q for q in HEADLINE if q not in self.queries]
        rep = self.rep(self.warm_dir, tracer=tracer, queries=rest)
        rep.outputs = {}
        return [rep]

    def run_query(self, name: str, sf_dir: str, tracer=None) -> tuple[list, list]:
        """QUERIES[name] through a full-compute action. ``collect`` computes
        every output column (``count`` would prune them) and hands the rows
        to the output check without a second execution."""
        from bucketizers_spark.entry_queries import QUERIES

        if tracer is None:
            df = QUERIES[name](self.spark, sf_dir)
            return df.columns, df.collect()
        with tracer.span("entry_queries.build", name):
            df = QUERIES[name](self.spark, sf_dir)
        with tracer.span("entry_queries.action", name):
            return df.columns, df.collect()

    def rep(self, sf_dir: str | None = None, tracer=None, queries=None) -> Rep:
        ops, outputs, failed = [], {}, 0
        t0 = time.time()
        for name in queries or self.queries:
            q0 = time.time()
            try:
                outputs[name] = self.run_query(name, sf_dir or self.sf_dir, tracer)
            except Exception as exc:  # noqa: BLE001 — a failed query is a failed op
                print(f"# {name} failed: {type(exc).__name__}: {exc}", flush=True)
                failed += 1
            ops.append(time.time() - q0)
        wall = time.time() - t0
        rep = Rep(wall, ops, sum(self.table_rows.values()), failed_ops=failed)
        rep.outputs = outputs
        return rep

    def _reference(self, name: str) -> list:
        import duckdb

        from bucketizers_spark.entry_queries import ORACLES

        con = duckdb.connect()
        try:
            for t in self.table_rows:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            rel = con.sql(ORACLES[name])
            return [sorted(rel.columns), *frame_hash(rel.columns, rel.fetchall())]
        finally:
            con.close()

    def check(self, reps: list[Rep]) -> int:
        """Failed ops: queries whose output differs from the DuckDB oracle."""
        bad = 0
        for rep in reps:
            for name, (cols, rows) in rep.outputs.items():
                key = os.path.join(self.cache, f"{self.name}-{self.seed}-{self.scale}-{name}.json")
                want = _cached(key, lambda n=name: self._reference(n))
                got = [sorted(cols), *frame_hash(cols, [tuple(r) for r in rows])]
                if got != want:
                    print(f"# {name}: output {got} != oracle {want}", flush=True)
                    bad += 1
            rep.outputs = {}
        return bad

    def install(self, tracer) -> None:
        from bucketizers_spark import entry_queries

        tracer.wrap(entry_queries, "token_prefix_trie", "substring.build")
        tracer.wrap(entry_queries, "substring_trie", "substring.build")

    def layers(self, tracer, reps: list[Rep], since: float) -> dict:
        build = tracer.select("entry_queries.build", since)
        action = tracer.select("entry_queries.action", since)
        sub = tracer.select("substring.build", since)
        jobs = {i: tracer.jobs_of(i) for i in build + action + sub}
        m = {
            "entry_queries.build_s": sum(tracer.self_time(i) for i in build),
            "entry_queries.action_s": sum(tracer.duration(i) for i in action),
            "entry_queries.eager_jobs": sum(len(jobs[i]) for i in build),
            "entry_queries.action_jobs": sum(len(jobs[i]) for i in action),
            "entry_queries.stages": tracer.stages_of(
                [j for i in build + action for j in jobs[i]]
            ),
            "substring.build_s": sum(tracer.duration(i) for i in sub),
            "substring.build_jobs": sum(len(jobs[i]) for i in sub),
            "substring.build_stages": tracer.stages_of([j for i in sub for j in jobs[i]]),
        }
        for i in build + action:
            q = tracer.spans[i]["tag"]
            m[f"query.{q}_s"] = m.get(f"query.{q}_s", 0.0) + tracer.duration(i)
            if q in JOB_COUNTED:
                m[f"query.{q}_jobs"] = m.get(f"query.{q}_jobs", 0) + len(jobs[i])
        accounted = sum(
            m[k] for k in ("entry_queries.build_s", "entry_queries.action_s", "substring.build_s")
        )
        m["trace.unaccounted_s"] = sum(r.wall_s for r in reps) - accounted
        return m


# -- stream_dedup leg (traced stream_trie run only) ----------------------------
DOC_SCHEMA = "seq long, doc_id string, text string"
CANDIDATE_COLS = ["band", "band_key", "a_id", "b_id"]
JACCARD_MIN = 0.2  # the ngram_jaccard query's threshold


def dedup_docs(seed: int, n: int, vocab: int = 200_000):
    """``n`` documents in arrival order (doc ids sort as they arrive) of
    Zipf-drawn words over a large vocabulary. About one in seven copies
    an earlier document, half of them exactly and half with one word in
    twenty replaced, so duplicates span micro-batches."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    docs: list[list[str]] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.15:
            words = list(docs[rng.integers(0, i)])
            if rng.random() < 0.5:
                for k in np.flatnonzero(rng.random(len(words)) < 0.05):
                    words[k] = f"w{rng.integers(vocab)}"
        else:
            ranks = rng.zipf(1.2, rng.integers(40, 120)) % vocab
            words = [f"w{r}" for r in ranks]
        docs.append(words)
    return pd.DataFrame(
        {
            "seq": np.arange(n, dtype=np.int64),
            "doc_id": [f"d{i:06d}" for i in range(n)],
            "text": [" ".join(w) for w in docs],
        }
    )


def _shingle_set(text: str) -> set[str]:
    words = text.split(" ")
    return {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}


class DedupLeg:
    """``minhash_candidates_stream`` over a staged backlog of documents,
    one chunk per trigger, into a parquet file sink. Run once, after the
    traced stream_trie reps, for the ``dedup_stream.*`` metrics: the
    per-bucket state from ``stateOperators`` and the candidates' share at
    or above the Jaccard threshold. Its output must equal the batch band
    self-join over the same documents."""

    docs = 1200
    chunks = 3

    def __init__(self, spark, work: str, cache: str, seed: int):
        self.spark = spark
        self.root = os.path.join(work, "dedup")
        self.cache = cache
        self.seed = seed
        self.pdf = dedup_docs(seed, self.docs)

    def run(self, tracer) -> tuple[dict, int, int]:
        """(metrics, attempted ops, failed ops); an op is a micro-batch."""
        from bucketizers_spark.sources.stream import stage_chunks
        from bucketizers_spark.streaming.dedup_stream import minhash_candidates_stream

        source = os.path.join(self.root, "source")
        out = os.path.join(self.root, "out")
        stage_chunks(self.pdf, source, n_chunks=self.chunks)
        stream = (
            self.spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(source)
        )
        with tracer.span("dedup_stream.drain"):
            query = (
                minhash_candidates_stream(stream)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", os.path.join(self.root, "ckpt"))
                .start()
            )
            try:
                query.processAllAvailable()
                progress = [json.loads(p.json) for p in query.recentProgress]
            finally:
                query.stop()
        batches = [p for p in progress if p["numInputRows"] > 0]
        state = [p["stateOperators"][0] for p in batches]
        rows = [tuple(r) for r in self.spark.read.parquet(out).select(*CANDIDATE_COLS).collect()]
        want = _cached(
            os.path.join(self.cache, f"stream_dedup-{self.seed}-{self.docs}.json"),
            self._reference,
        )
        ok = (
            sum(p["numInputRows"] for p in batches) == self.docs
            and len(rows) == len(set(rows))
            and sorted(map(list, rows)) == want
        )
        if not ok:
            print(f"# stream_dedup: {len(rows)} candidates != {len(want)} of the batch join")
        pairs = {(a, b) for _, _, a, b in rows}
        text = dict(zip(self.pdf["doc_id"], self.pdf["text"]))
        useful = 0
        for a, b in pairs:
            sa, sb = _shingle_set(text[a]), _shingle_set(text[b])
            useful += len(sa & sb) >= JACCARD_MIN * len(sa | sb)
        metrics = {
            "dedup_stream.batch_s": sum(p["durationMs"]["triggerExecution"] for p in batches)
            / 1000,
            "dedup_stream.state_rows": state[-1]["numRowsTotal"],
            "dedup_stream.state_bytes": state[-1]["memoryUsedBytes"],
            "dedup_stream.state_commit_s": sum(s["commitTimeMs"] for s in state) / 1000,
            "dedup_stream.state_update_s": sum(s["allUpdatesTimeMs"] for s in state) / 1000,
            "dedup_stream.useful_ratio": useful / len(pairs) if pairs else 0.0,
        }
        return metrics, len(batches), 0 if ok else len(batches)

    def _reference(self) -> list:
        """The batch band self-join: every (band, band_key, earlier doc,
        later doc) sharing a band key, sorted."""
        from pyspark.sql import functions as F

        from bucketizers_spark.entry_queries import _minhash_stacked, _with_shingles

        df = self.spark.createDataFrame(self.pdf, DOC_SCHEMA)
        stacked = _minhash_stacked(_with_shingles(df))
        a, b = stacked.alias("a"), stacked.alias("b")
        pairs = a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select("a.band", "a.band_key", F.col("a.doc_id"), F.col("b.doc_id"))
        return sorted(list(r) for r in pairs.collect())


WORKLOADS = {w.name: w for w in (StreamTrie, BatchQueries)}


def cleanup(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
