"""Streaming cross-batch exact dedup vs the batch dedup_exact operator,
incl. duplicates that ARRIVE IN LATER MICRO-BATCHES and a kill/resume
(the cross-batch state is the whole point — within-batch dedup would
pass a weaker test)."""

from __future__ import annotations

import os
import shutil
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bucketizers_spark.sources.stream import stage_chunks

SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)


@pytest.fixture()
def workdir():
    d = os.path.join(SCRATCH, f"dedup_stream_{uuid.uuid4().hex[:8]}")
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _corpus_pdf(n: int = 400) -> pd.DataFrame:
    # ~1/3 of docs duplicate an EARLIER doc's text, with the duplicate
    # arriving much later in the stream (cross-batch by construction)
    rows = []
    for i in range(n):
        if i % 3 == 2 and i >= 30:
            text = f"text body number {i - 30 - (i % 7)}"
        else:
            text = f"text body number {i}"
        rows.append((i, f"d{i:05d}", text))
    return pd.DataFrame(rows, columns=["seq", "doc_id", "text"])


_SCHEMA = "seq long, doc_id string, text string"


def _read_stream(spark, chunk_dir):
    return (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(chunk_dir)
    )


def _batch_expect(spark, pdf):
    """Batch dedup_exact semantics: canon = min doc_id per md5(text).
    Arrival order follows doc_id order in the fixture, so first-arrival
    (streaming) and min-id (batch) must coincide."""
    df = spark.createDataFrame(pdf, _SCHEMA)
    w = Window.partitionBy(F.md5("text"))
    return df.select(
        "doc_id",
        F.min("doc_id").over(w).alias("canon_id"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_dup"),
    )


class TestExactDedupStream:
    def test_matches_batch_across_micro_batches(self, spark, workdir):
        from bucketizers_spark.streaming.dedup_stream import (
            exact_dedup_stream,
        )

        pdf = _corpus_pdf()
        chunk_dir = os.path.join(workdir, "chunks")
        stage_chunks(pdf, chunk_dir, n_chunks=5)
        out_dir = os.path.join(workdir, "out")
        tagged = exact_dedup_stream(_read_stream(spark, chunk_dir))
        q = (
            tagged.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", os.path.join(workdir, "ckpt"))
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = {
            r.doc_id: (r.canon_id, r.is_dup)
            for r in spark.read.parquet(out_dir).collect()
        }
        want = {
            r.doc_id: (r.canon_id, r.is_dup)
            for r in _batch_expect(spark, pdf).collect()
        }
        assert got == want
        assert sum(1 for _, d in got.values() if d) > 50  # dups exist

    def test_kill_resume_keeps_cross_batch_state(self, spark, workdir):
        """A duplicate arriving AFTER a restart must still be flagged
        against a canon seen BEFORE the kill — the state-store resume
        path, not just within-run state."""
        from bucketizers_spark.streaming.dedup_stream import (
            exact_dedup_stream,
        )

        pdf = _corpus_pdf()
        chunk_dir = os.path.join(workdir, "chunks")
        out_dir = os.path.join(workdir, "out")
        ckpt = os.path.join(workdir, "ckpt")

        def run():
            tagged = exact_dedup_stream(_read_stream(spark, chunk_dir))
            q = (
                tagged.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .start()
            )
            q.processAllAvailable()
            q.stop()

        first, rest = pdf.iloc[:150], pdf.iloc[150:]
        stage_chunks(first, chunk_dir, n_chunks=2)
        run()
        stage_chunks(rest, chunk_dir, n_chunks=3, start_index=2)
        run()
        got = {
            r.doc_id: (r.canon_id, r.is_dup)
            for r in spark.read.parquet(out_dir).collect()
        }
        want = {
            r.doc_id: (r.canon_id, r.is_dup)
            for r in _batch_expect(spark, pdf).collect()
        }
        assert got == want
        # at least one post-resume duplicate canonizes to a pre-kill doc
        post = pdf.iloc[150:]
        cross = [
            d for d in post["doc_id"]
            if got[d][1] and int(got[d][0][1:]) < 150
        ]
        assert cross


class TestMinhashCandidatesStream:
    @staticmethod
    def _near_dup_pdf(n: int = 240) -> pd.DataFrame:
        # docs with ≥3 words; every 4th doc ≥40 repeats an earlier doc's
        # text with one word changed → high shingle overlap → shared
        # band keys with the original, arriving ~40 docs later
        rows = []
        for i in range(n):
            base = i - 40 if (i % 4 == 0 and i >= 40) else i
            words = [f"w{(base * 7 + k) % 97}" for k in range(12)]
            if base != i:
                words[-1] = f"tail{i}"
            rows.append((i, f"d{i:05d}", " ".join(words)))
        return pd.DataFrame(rows, columns=["seq", "doc_id", "text"])

    def _batch_pairs(self, spark, pdf):
        from bucketizers_spark.entry_queries import (
            _minhash_stacked,
            _with_shingles,
        )

        df = spark.createDataFrame(pdf, _SCHEMA)
        stacked = _minhash_stacked(_with_shingles(df))
        a = stacked.alias("a")
        b = stacked.alias("b")
        pairs = a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.band").alias("band"),
            F.col("a.band_key").alias("band_key"),
            F.col("a.doc_id").alias("x"),
            F.col("b.doc_id").alias("y"),
        )
        return {
            (r.band, r.band_key, r.x, r.y) for r in pairs.collect()
        }

    def test_matches_batch_band_self_join(self, spark, workdir):
        from bucketizers_spark.streaming.dedup_stream import (
            minhash_candidates_stream,
        )

        pdf = self._near_dup_pdf()
        chunk_dir = os.path.join(workdir, "chunks")
        out_dir = os.path.join(workdir, "out")
        ckpt = os.path.join(workdir, "ckpt")

        def run():
            cands = minhash_candidates_stream(
                _read_stream(spark, chunk_dir)
            )
            q = (
                cands.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .start()
            )
            q.processAllAvailable()
            q.stop()

        # kill/resume mid-stream: pairs spanning the restart must emit
        first, rest = pdf.iloc[:120], pdf.iloc[120:]
        stage_chunks(first, chunk_dir, n_chunks=2)
        run()
        stage_chunks(rest, chunk_dir, n_chunks=2, start_index=2)
        run()
        got_rows = spark.read.parquet(out_dir).collect()
        got = {
            (r.band, r.band_key, *sorted((r.a_id, r.b_id)))
            for r in got_rows
        }
        want = self._batch_pairs(spark, pdf)
        assert got == want
        assert len(got) > 40
        # arrival orientation: a_id arrived before b_id
        assert all(r.a_id < r.b_id for r in got_rows)
        # at least one pair spans the kill/resume boundary
        assert any(
            int(r.a_id[1:]) < 120 <= int(r.b_id[1:]) for r in got_rows
        )


class TestLshCandidatesStream:
    _EMB_SCHEMA = "seq long, vec_id string, embedding array<double>"

    @staticmethod
    def _emb_pdf() -> pd.DataFrame:
        import duckdb

        con = duckdb.connect()
        rows = con.execute(
            "SELECT vec_id, embedding FROM "
            "read_parquet('/root/testdata/sf0.001/embeddings.parquet') "
            "ORDER BY vec_id LIMIT 300"
        ).fetchall()
        out = []
        seq = 0
        for vid, emb in rows:
            out.append((seq, f"v{int(vid):05d}", list(emb)))
            seq += 1
        # plant exact twins of every 10th vector, arriving ~100 later:
        # identical vectors share every band bucket → guaranteed pairs
        for vid, emb in rows[::10]:
            out.append((seq, f"t{int(vid):05d}", list(emb)))
            seq += 1
        return pd.DataFrame(out, columns=["seq", "vec_id", "embedding"])

    def test_matches_batch_band_self_join(self, spark, workdir):
        from bucketizers_spark.operators.lsh import sign_lsh_buckets
        from bucketizers_spark.streaming.dedup_stream import (
            lsh_candidates_stream,
        )

        pdf = self._emb_pdf()
        chunk_dir = os.path.join(workdir, "chunks")
        out_dir = os.path.join(workdir, "out")
        stage_chunks(pdf, chunk_dir, n_chunks=4)
        stream = (
            spark.readStream.schema(self._EMB_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(chunk_dir)
        )
        cands = lsh_candidates_stream(stream, dim=64)
        q = (
            cands.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", os.path.join(workdir, "ckpt"))
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got_rows = spark.read.parquet(out_dir).collect()
        got = {
            (r.band, r.band_key, *sorted((r.a_id, r.b_id)))
            for r in got_rows
        }
        bdf = spark.createDataFrame(pdf, self._EMB_SCHEMA)
        stacked = sign_lsh_buckets(
            bdf, "embedding", dim=64, id_cols=["vec_id"]
        )
        a, b = stacked.alias("a"), stacked.alias("b")
        want = {
            (r.band, r.key, r.x, r.y)
            for r in a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(
                F.col("a.band").alias("band"),
                F.col("a.bucket").alias("key"),
                F.col("a.vec_id").alias("x"),
                F.col("b.vec_id").alias("y"),
            )
            .collect()
        }
        assert got == want
        # every planted twin collides with its original in all 16 bands
        twins = {p for p in got if p[2][0] == "t" or p[3][0] == "t"}
        assert len(twins) >= 16 * len(pdf[pdf.vec_id.str.startswith("t")])


def _components(pairs) -> frozenset:
    """Driver-side union-find over (a_id, b_id) edges (test-only;
    the engine-side closure is operators/graph.connected_components)."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict = {}
    for x in parent:
        comps.setdefault(find(x), set()).add(x)
    return frozenset(frozenset(s) for s in comps.values())


class TestBucketStateCap:
    """The r5-flagged scale hazard: uncapped per-bucket state grows
    O(n) and cumulative candidates O(n^2) on a hot bucket (a duplicate
    flood). max_reps caps both; these tests pin that the cap (a)
    actually bounds the emitted-representative set per bucket, and (b)
    loses nothing after connected-component closure."""

    @staticmethod
    def _run(spark, pdf, chunk_dir, out_dir, ckpt, max_reps, n_chunks=3):
        stage_chunks(pdf, chunk_dir, n_chunks=n_chunks)
        from bucketizers_spark.streaming.dedup_stream import (
            minhash_candidates_stream,
        )

        cands = minhash_candidates_stream(
            _read_stream(spark, chunk_dir), max_reps=max_reps
        )
        q = (
            cands.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return spark.read.parquet(out_dir).collect()

    def test_hot_bucket_10k_copies_bounded(self, spark, workdir):
        """A planted 10k-copy cluster: state (witnessed by the distinct
        a_id set per bucket) stays <= max_reps, candidate volume stays
        O(n * max_reps), and closure still yields the ONE full cluster
        an uncapped run would give (provable without running uncapped,
        which would emit ~10^8 pairs: identical texts share every band
        bucket, and every arrival pairs with representative #1)."""
        n = 10_000
        rows = [(i, f"d{i:05d}", "the same boilerplate page text body")
                for i in range(n)]
        pdf = pd.DataFrame(rows, columns=["seq", "doc_id", "text"])
        k = 4
        got = self._run(
            spark, pdf,
            os.path.join(workdir, "chunks"),
            os.path.join(workdir, "out"),
            os.path.join(workdir, "ckpt"),
            max_reps=k,
        )
        # (a) bounded state: per bucket, only the first k arrivals are
        # ever emitted as a_id; volume is n*k per band, not n^2/2
        per_bucket: dict = {}
        for r in got:
            per_bucket.setdefault((r.band, r.band_key), set()).add(r.a_id)
        assert per_bucket, "hot bucket produced no candidates"
        first_k = {f"d{i:05d}" for i in range(k)}
        for bucket, a_ids in per_bucket.items():
            assert len(a_ids) <= k
            assert a_ids <= first_k
        n_bands = len(per_bucket)
        assert len(got) <= n_bands * n * k
        # (b) closure: the star graph reconnects all 10k copies
        comps = _components((r.a_id, r.b_id) for r in got)
        assert comps == frozenset(
            [frozenset(f"d{i:05d}" for i in range(n))]
        )

    def test_capped_closure_equals_uncapped(self, spark, workdir):
        """Mixed corpus where the cap binds (a 60-copy flood + organic
        near-dups): post-closure components of the capped run equal the
        uncapped run's exactly."""
        rows = []
        seq = 0
        for i in range(120):
            if i < 60:
                text = "flood page shared by many mirror sites"
            elif i % 3 == 2 and i >= 63:
                text = f"organic document body number {i - 3}"
            else:
                text = f"organic document body number {i}"
            rows.append((seq, f"m{i:05d}", text))
            seq += 1
        pdf = pd.DataFrame(rows, columns=["seq", "doc_id", "text"])
        capped = self._run(
            spark, pdf,
            os.path.join(workdir, "c1"), os.path.join(workdir, "o1"),
            os.path.join(workdir, "k1"), max_reps=3,
        )
        uncapped = self._run(
            spark, pdf,
            os.path.join(workdir, "c2"), os.path.join(workdir, "o2"),
            os.path.join(workdir, "k2"), max_reps=None,
        )
        assert len(capped) < len(uncapped)  # the cap actually bound
        assert _components(
            (r.a_id, r.b_id) for r in capped
        ) == _components((r.a_id, r.b_id) for r in uncapped)


class TestSemdedupStream:
    _EMB_SCHEMA = "seq long, vec_id string, embedding array<double>"

    @staticmethod
    def _emb_pdf() -> pd.DataFrame:
        import duckdb

        con = duckdb.connect()
        rows = con.execute(
            "SELECT vec_id, embedding FROM "
            "read_parquet('/root/testdata/sf0.001/embeddings.parquet') "
            "ORDER BY vec_id LIMIT 200"
        ).fetchall()
        out = []
        seq = 0
        for vid, emb in rows:
            out.append((seq, f"v{int(vid):05d}", [float(x) for x in emb]))
            seq += 1
        # plant exact twins (same cell, cos 1.0) arriving later
        for vid, emb in rows[::20]:
            out.append((seq, f"t{int(vid):05d}", [float(x) for x in emb]))
            seq += 1
        return pd.DataFrame(out, columns=["seq", "vec_id", "embedding"])

    def test_matches_batch_drop_edges(self, spark, workdir):
        """Streaming per-cell candidates (incl. a kill/resume) equal the
        batch semdedup within-cell pair set at the same tau, and the
        batch kept rule is exactly 'never a b_id'."""
        import numpy as np

        import duckdb

        from bucketizers_spark.operators.ivf import kmeans_centroids
        from bucketizers_spark.streaming.dedup_stream import (
            semdedup_candidates_stream,
        )

        pdf = self._emb_pdf()
        bdf = spark.createDataFrame(pdf, self._EMB_SCHEMA)
        cents = kmeans_centroids(bdf, 8)
        tau = 0.35

        chunk_dir = os.path.join(workdir, "chunks")
        out_dir = os.path.join(workdir, "out")
        ckpt = os.path.join(workdir, "ckpt")

        def run():
            stream = (
                spark.readStream.schema(self._EMB_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .option("latestFirst", "false")
                .parquet(chunk_dir)
            )
            cands = semdedup_candidates_stream(
                stream, cents, tau=tau, max_reps=None
            )
            q = (
                cands.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .start()
            )
            q.processAllAvailable()
            q.stop()

        first, rest = pdf.iloc[:120], pdf.iloc[120:]
        stage_chunks(first, chunk_dir, n_chunks=2)
        run()
        stage_chunks(rest, chunk_dir, n_chunks=2, start_index=2)
        run()
        got_rows = spark.read.parquet(out_dir).collect()
        got = {(r.cell, *sorted((r.a_id, r.b_id))) for r in got_rows}

        # batch drop-edge set: within-cell pairs a<b at rounded cos>=tau,
        # each vector in its nearest centroid's cell (ties to the smallest
        # c_id), computed by DuckDB with the oracle's list_sum cosine fold
        # — a reference that shares no code with the engine's kernel
        def cos_r4(a, b):
            return (
                f"round(list_sum(list_transform(range(1, len({a}) + 1), "
                f"i -> {a}[i] * {b}[i])) / (sqrt(list_sum(list_transform("
                f"{a}, x -> x * x))) * sqrt(list_sum(list_transform("
                f"{b}, x -> x * x)))), 4)"
            )

        cent_pdf = pd.DataFrame(
            [(int(r.c_id), list(r.ce)) for r in cents.collect()],
            columns=["c_id", "ce"],
        )
        con = duckdb.connect()
        con.register("emb", pdf)
        con.register("cents", cent_pdf)
        want_rows = con.execute(
            f"""
            WITH s AS (
              SELECT e.vec_id, c.c_id, {cos_r4("e.embedding", "c.ce")} AS sim
              FROM emb e, cents c
            ),
            cells AS (
              SELECT vec_id, c_id AS cell FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY vec_id ORDER BY sim DESC, c_id) AS rn
                FROM s
              ) WHERE rn = 1
            )
            SELECT a.cell, a.vec_id, b.vec_id
            FROM cells a
            JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
            JOIN emb ea ON ea.vec_id = a.vec_id
            JOIN emb eb ON eb.vec_id = b.vec_id
            WHERE {cos_r4("ea.embedding", "eb.embedding")} >= {tau}
            """
        ).fetchall()
        want = {(cell, *sorted((x, y))) for cell, x, y in want_rows}
        assert got == want
        # twins guarantee the sets are non-trivial and span the restart
        assert len(got) >= 10
        assert any(r.b_id.startswith("t") for r in got_rows)
        # orientation: a_id arrived strictly before b_id
        seq_of = dict(zip(pdf["vec_id"], pdf["seq"]))
        assert all(seq_of[r.a_id] < seq_of[r.b_id] for r in got_rows)

    def test_rep_cap_bounds_state(self, spark, workdir):
        """A 500-copy identical-vector flood: emitted a_ids per cell
        stay within max_reps and volume is O(n*k), not O(n^2)."""
        from bucketizers_spark.operators.ivf import kmeans_centroids
        from bucketizers_spark.streaming.dedup_stream import (
            semdedup_candidates_stream,
        )

        base = [float(i % 7 - 3) for i in range(16)]
        rows = [(i, f"d{i:05d}", base) for i in range(500)]
        pdf = pd.DataFrame(rows, columns=["seq", "vec_id", "embedding"])
        bdf = spark.createDataFrame(pdf, self._EMB_SCHEMA)
        cents = kmeans_centroids(bdf, 4)
        chunk_dir = os.path.join(workdir, "chunks")
        stage_chunks(pdf, chunk_dir, n_chunks=2)
        stream = (
            spark.readStream.schema(self._EMB_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(chunk_dir)
        )
        k = 3
        cands = semdedup_candidates_stream(
            stream, cents, tau=0.9, max_reps=k
        )
        q = (
            cands.writeStream.format("parquet")
            .option("path", os.path.join(workdir, "out"))
            .option("checkpointLocation", os.path.join(workdir, "ckpt"))
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = spark.read.parquet(os.path.join(workdir, "out")).collect()
        a_ids = {r.a_id for r in got}
        assert a_ids == {f"d{i:05d}" for i in range(k)}
        assert len(got) <= 500 * k
        assert len(got) >= (500 - k) * k  # every later arrival probed
