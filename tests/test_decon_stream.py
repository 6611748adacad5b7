"""Streaming decontamination (stream-static broadcast join, stateless)
vs the batch computation over the same corpus, incl. contaminated
documents arriving AFTER a kill/resume — correctness there rides on
source offsets + the idempotent sink, which is exactly what the
stateless design claims."""

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
    "spark", "join", "filter", "window", "batch", "stream", "merge",
    "sort", "hash", "scan", "group", "row", "data", "key", "table",
]


@pytest.fixture()
def workdir():
    d = os.path.join(SCRATCH, f"decon_stream_{uuid.uuid4().hex[:8]}")
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _corpus_pdf(n: int = 300) -> pd.DataFrame:
    """Deterministic corpus; every 9th doc splices in a verbatim 6-word
    run from a benchmark doc (doc_id % 23 == 0) so contamination exists
    and lands throughout the stream."""
    rows = []
    texts = {}
    for i in range(n):
        ws = [_WORDS[(i * 7 + j * 3) % len(_WORDS)] for j in range(30)]
        if i % 9 == 4 and i > 23:
            b = (i // 23) * 23  # an earlier benchmark doc
            if b in texts:
                ws[10:16] = texts[b].split(" ")[5:11]
        text = " ".join(ws)
        texts[i] = text
        rows.append((i, i, text))
    return pd.DataFrame(rows, columns=["seq", "doc_id", "text"])


_SCHEMA = "seq long, doc_id long, text string"


def _read_stream(spark, chunk_dir):
    return (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(chunk_dir)
    )


def _expect(spark, pdf):
    """Batch decontamination over the full corpus with the same helpers:
    per-corpus-doc distinct overlap count vs the benchmark slice."""
    from bucketizers_spark.functions.ngrams import word_ngram_hashes
    from bucketizers_spark.streaming.decon_stream import benchmark_grams

    df = spark.createDataFrame(pdf, _SCHEMA)
    bench = benchmark_grams(df.where(F.col("doc_id") % 23 == 0), n=4)
    g = df.where(F.col("doc_id") % 23 != 0).select(
        "doc_id",
        F.explode(word_ngram_hashes(F.col("text"), 4)).alias("gram_h"),
    )
    return (
        g.join(bench, "gram_h")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram_h").alias("n_hits"))
    )


class TestDecontaminateStream:
    def test_matches_batch_and_survives_resume(self, spark, workdir):
        from bucketizers_spark.streaming.decon_stream import (
            benchmark_grams,
            run_decontaminate_stream,
        )

        pdf = _corpus_pdf()
        chunk_dir = os.path.join(workdir, "chunks")
        sink_root = os.path.join(workdir, "sink")
        ckpt = os.path.join(workdir, "ckpt")

        # the benchmark side is static and known before ingest starts
        bench_pdf = pdf[pdf["doc_id"] % 23 == 0]
        bench = benchmark_grams(
            spark.createDataFrame(bench_pdf, _SCHEMA), n=4
        ).cache()
        corpus = pdf[pdf["doc_id"] % 23 != 0]

        def run():
            return run_decontaminate_stream(
                _read_stream(spark, chunk_dir), bench, sink_root, ckpt
            )

        first, rest = corpus.iloc[:140], corpus.iloc[140:]
        stage_chunks(first, chunk_dir, n_chunks=2)
        run()
        stage_chunks(rest, chunk_dir, n_chunks=3, start_index=2)
        sink = run()

        got = {
            (r.doc_id, r.n_hits)
            for r in sink.read_all(spark).select("doc_id", "n_hits").collect()
        }
        want = {
            (r.doc_id, r.n_hits) for r in _expect(spark, pdf).collect()
        }
        assert got == want and len(got) > 5
        # contamination detected on BOTH sides of the restart
        cut = int(first["doc_id"].iloc[-1])
        assert any(d <= cut for d, _ in got)
        assert any(d > cut for d, _ in got)
