"""Streaming test-set decontamination — the incremental-ingestion form
of the batch ``decontaminate`` query (entry_queries.q_decontaminate).

The benchmark (eval-suite) side of decontamination is STATIC by nature:
the held-out set is fixed before the corpus ingest starts. That makes
this the one dedup-family job that needs NO keyed state at all — it is
a stream-static broadcast join:

- ``benchmark_grams`` precomputes the distinct md5'd word-n-gram set of
  the benchmark frame once (bounded: an eval suite is thousands of
  documents regardless of corpus size, so it broadcasts).
- ``decontaminate_hits_stream`` is the stateless streaming form:
  explode the arriving documents' gram hashes and inner-join the static
  benchmark set — append-mode pure, no watermark, no state store.
- ``run_decontaminate_stream`` adds the per-document report. A document
  is ATOMIC in one stream row, so its distinct-overlap count is final
  within whatever micro-batch carries it — foreachBatch computes the
  batch-final per-doc aggregate and commits it through the
  IdempotentParquetSink (manifest-gated, replay-safe on restart). No
  cross-batch state exists to lose, so kill/resume correctness rides
  entirely on source offsets + the idempotent sink.

Scale shape: per micro-batch one vectorized gram-hash map (the batch
query's kernel, functions/ngrams.word_ngram_hashes_frame — narrow,
stateless), one broadcast-hash probe (no shuffle of the corpus side),
one groupBy on doc_id over only the SURVIVING (doc_id, gram_h) pairs.
State: none.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bucketizers_spark.functions.ngrams import word_ngram_hashes_frame
from bucketizers_spark.sinks.idempotent import IdempotentParquetSink


def benchmark_grams(
    bench_df: DataFrame, *, n: int = 4, text_col: str = "text"
) -> DataFrame:
    """Distinct md5'd word-n-gram set of the benchmark frame — compute
    once, reuse across the whole ingest (callers may persist it)."""
    return word_ngram_hashes_frame(bench_df, [], text_col, n).distinct()


def decontaminate_hits_stream(
    stream_df: DataFrame,
    bench: DataFrame,
    *,
    n: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Stateless stream-static form: hit rows (id, gram_h) for every
    benchmark n-gram occurring in an arriving document. ``bench`` must
    be a STATIC frame (from ``benchmark_grams``)."""
    g = word_ngram_hashes_frame(stream_df, [id_col], text_col, n)
    return g.join(F.broadcast(bench), "gram_h")


def run_decontaminate_stream(
    stream_df: DataFrame,
    bench: DataFrame,
    sink_root: str,
    checkpoint: str,
    *,
    n: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> IdempotentParquetSink:
    """Run the per-document contamination report over a document stream:
    (id_col, n_hits = distinct overlapping benchmark grams), one row per
    contaminated document, committed idempotently per micro-batch.
    Blocks until all available input is processed."""
    sink = IdempotentParquetSink(sink_root)

    def transform(batch_df: DataFrame) -> DataFrame:
        hits = decontaminate_hits_stream(
            batch_df, bench, n=n, id_col=id_col, text_col=text_col
        )
        return hits.groupBy(id_col).agg(
            F.countDistinct("gram_h").alias("n_hits")
        )

    q = (
        stream_df.writeStream.foreachBatch(sink.foreach_batch(transform))
        .option("checkpointLocation", checkpoint)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return sink
