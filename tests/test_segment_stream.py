"""Streaming cross-batch segment counting vs the batch segment_dedup
computation: final per-segment doc counts and the ever-boilerplate set
must equal batch, incl. duplicate segments arriving in later
micro-batches and a kill/resume."""

from __future__ import annotations

import os
import shutil
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bucketizers_spark.sources.stream import stage_chunks

SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)

_WORDS = [
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
    "theta", "iota", "kappa", "lam", "mu",
]


@pytest.fixture()
def workdir():
    d = os.path.join(SCRATCH, f"seg_stream_{uuid.uuid4().hex[:8]}")
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _corpus_pdf(n: int = 240) -> pd.DataFrame:
    """Every 5th doc repeats an EARLIER doc's first 8-word chunk (cross
    -batch boilerplate); every 11th doc repeats its OWN first chunk
    (exercises the within-doc distinct)."""
    rows = []
    first_chunks = {}
    for i in range(n):
        ws = [_WORDS[(i * 5 + j * 7) % len(_WORDS)] for j in range(20)]
        if i % 5 == 4 and i >= 40:
            src = i - 40
            ws[:8] = first_chunks[src]
        if i % 11 == 3:
            ws[8:16] = ws[:8]
        first_chunks[i] = ws[:8]
        rows.append((i, i, " ".join(ws)))
    return pd.DataFrame(rows, columns=["seq", "doc_id", "text"])


_SCHEMA = "seq long, doc_id long, text string"


def _read_stream(spark, chunk_dir):
    return (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(chunk_dir)
    )


def _batch(spark, pdf):
    from bucketizers_spark.functions.ngrams import segment_hashes_frame

    df = spark.createDataFrame(pdf, _SCHEMA)
    seg = segment_hashes_frame(df, ["doc_id"], "text", 8)
    return seg.groupBy("seg_h").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )


class TestSegmentCountStream:
    def test_final_counts_match_batch_across_resume(self, spark, workdir):
        from bucketizers_spark.streaming.dedup_stream import (
            segment_count_stream,
        )

        pdf = _corpus_pdf()
        chunk_dir = os.path.join(workdir, "chunks")
        out_dir = os.path.join(workdir, "out")
        ckpt = os.path.join(workdir, "ckpt")

        def run():
            tagged = segment_count_stream(_read_stream(spark, chunk_dir))
            q = (
                tagged.writeStream.format("parquet")
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

        got = spark.read.parquet(out_dir)
        # final running count per segment == batch distinct-doc count
        final = {
            r.seg_h: r.n_docs
            for r in got.groupBy("seg_h")
            .agg(F.max("n_docs").alias("n_docs"))
            .collect()
        }
        want = {r.seg_h: r.n_docs for r in _batch(spark, pdf).collect()}
        assert final == want
        # ever-boilerplate set == batch dup set (>= 2 distinct docs)
        got_bp = {
            r.seg_h
            for r in got.where("is_boilerplate").select("seg_h").distinct().collect()
        }
        want_bp = {s for s, n in want.items() if n >= 2}
        assert got_bp == want_bp and len(got_bp) > 10
        # one (doc, segment) output row per distinct pair (within-doc
        # repeats collapse before the state op)
        assert got.count() == got.select("seg_h", "doc_id").distinct().count()
        # boilerplate detected on both sides of the restart
        cut = int(first["doc_id"].iloc[-1])
        flagged_docs = {
            r.doc_id for r in got.where("is_boilerplate").collect()
        }
        assert any(d <= cut for d in flagged_docs)
        assert any(d > cut for d in flagged_docs)

    def test_cdc_chunker_matches_batch_cdc(self, spark, workdir):
        """chunker="cdc": final counts must equal the batch
        cdc_segment_hashes_frame computation — the state op is
        chunking-agnostic, so this pins the CDC segments are
        byte-identical between the streaming and batch paths."""
        from bucketizers_spark.functions.ngrams import cdc_segment_hashes_frame
        from bucketizers_spark.streaming.dedup_stream import (
            segment_count_stream,
        )

        pdf = _corpus_pdf()
        chunk_dir = os.path.join(workdir, "chunks")
        out_dir = os.path.join(workdir, "out")
        ckpt = os.path.join(workdir, "ckpt")
        stage_chunks(pdf, chunk_dir, n_chunks=3)
        tagged = segment_count_stream(
            _read_stream(spark, chunk_dir), chunker="cdc"
        )
        q = (
            tagged.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = spark.read.parquet(out_dir)
        final = {
            r.seg_h: r.n_docs
            for r in got.groupBy("seg_h")
            .agg(F.max("n_docs").alias("n_docs"))
            .collect()
        }
        df = spark.createDataFrame(pdf, _SCHEMA)
        seg = cdc_segment_hashes_frame(df, ["doc_id"], "text")
        want = {
            r.seg_h: r.n_docs
            for r in seg.groupBy("seg_h")
            .agg(F.countDistinct("doc_id").alias("n_docs"))
            .collect()
        }
        assert final == want and len(final) > 0
