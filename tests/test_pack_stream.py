"""Streaming per-source sequence packing vs the batch per-source
window-sum form, incl. chunk-boundary crossings and a kill/resume (the
running offset is the whole point — a post-restart document must
continue packing mid-chunk exactly where a pre-kill document left the
offset)."""

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

CHUNK_LEN = 64


@pytest.fixture()
def workdir():
    d = os.path.join(SCRATCH, f"pack_stream_{uuid.uuid4().hex[:8]}")
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _corpus_pdf(n: int = 300) -> pd.DataFrame:
    # 3 sources, word counts 1..40 cycling — plenty of docs that span a
    # 64-token chunk boundary and single-token docs that do not
    rows = []
    for i in range(n):
        n_words = (i * 7) % 40 + 1
        rows.append(
            (
                i,
                f"d{i:05d}",
                " ".join(f"w{j}" for j in range(n_words)),
                f"src{i % 3}",
            )
        )
    return pd.DataFrame(rows, columns=["seq", "doc_id", "text", "source"])


_SCHEMA = "seq long, doc_id string, text string, source string"


def _read_stream(spark, chunk_dir):
    return (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(chunk_dir)
    )


def _batch_expect(spark, pdf):
    """The q_pack_by_source shape over the fixture: per-source exclusive
    window prefix sum in doc_id order, then the shared manifest
    expansion. Arrival order follows doc_id order per source, so
    streaming must equal this exactly."""
    from bucketizers_spark.entry_queries import _pack_manifest

    df = spark.createDataFrame(pdf, _SCHEMA)
    d = df.select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    o = d.withColumn(
        "off", F.coalesce(F.sum("n_tok").over(w), F.lit(0)).cast("long")
    )
    return _pack_manifest(o, CHUNK_LEN, lead_cols=("source",))


def _rows(df):
    return sorted(
        (r.source, r.chunk_id, r.doc_id, r.off_in_chunk, r.doc_off, r.n_from_doc)
        for r in df.collect()
    )


class TestPackStream:
    def test_matches_batch_across_micro_batches(self, spark, workdir):
        from bucketizers_spark.streaming.pack_stream import pack_stream

        pdf = _corpus_pdf()
        chunk_dir = os.path.join(workdir, "chunks")
        stage_chunks(pdf, chunk_dir, n_chunks=5)
        out_dir = os.path.join(workdir, "out")
        packed = pack_stream(
            _read_stream(spark, chunk_dir), chunk_len=CHUNK_LEN
        )
        q = (
            packed.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", os.path.join(workdir, "ckpt"))
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = _rows(spark.read.parquet(out_dir))
        want = _rows(_batch_expect(spark, pdf))
        assert got == want
        # boundary crossings are exercised: some docs emit >1 slice
        per_doc = {}
        for _, _, d, _, _, _ in got:
            per_doc[d] = per_doc.get(d, 0) + 1
        assert max(per_doc.values()) >= 2
        # manifest is lossless: slice sums equal doc token counts
        tok = {
            r[1]: len(r[2].split(" "))
            for r in pdf[["doc_id", "text"]].itertuples()
        }
        sums = {}
        for _, _, d, _, _, n in got:
            sums[d] = sums.get(d, 0) + n
        assert sums == {d: tok[d] for d in sums}

    def test_kill_resume_continues_offsets(self, spark, workdir):
        from bucketizers_spark.streaming.pack_stream import pack_stream

        pdf = _corpus_pdf()
        chunk_dir = os.path.join(workdir, "chunks")
        out_dir = os.path.join(workdir, "out")
        ckpt = os.path.join(workdir, "ckpt")

        def run():
            packed = pack_stream(
                _read_stream(spark, chunk_dir), chunk_len=CHUNK_LEN
            )
            q = (
                packed.writeStream.format("parquet")
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
        stage_chunks(rest, chunk_dir, n_chunks=3, start_index=2)
        run()
        got = _rows(spark.read.parquet(out_dir))
        want = _rows(_batch_expect(spark, pdf))
        assert got == want
        # at least one post-resume doc starts MID-chunk (doc_off == 0,
        # off_in_chunk > 0): its chunk was opened by pre-kill tokens
        post_ids = set(rest["doc_id"])
        assert any(
            d in post_ids and doc_off == 0 and oic > 0
            for _, _, d, oic, doc_off, _ in got
        )
