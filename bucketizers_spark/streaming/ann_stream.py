"""Streaming ANN serving — the query side of the ANN family as a
stream (dedup, decontamination, segment counting, packing, tries, geo,
time, and media all have streaming mirrors too).

Serving is the inverse of ingestion: the CORPUS and its IVF index are
static (built offline by ``IvfIndex.build``, extended incrementally by
``IvfIndex.append``), while QUERY vectors arrive continuously. A query
is atomic in one stream row, so its top-k is final within whatever
micro-batch carries it — exactly decon_stream's stateless shape:

- no keyed state, no watermark (append-pure);
- foreachBatch runs the EXACT batch search operator
  (``IvfIndex.search`` — ivf_topk's probe kernel over the stored
  centroids, then its cell-cogrouped exact rescore over the persisted
  cell table joined with the vectors; no semantic drift between batch
  and stream is possible because they are the same code);
- results commit through the manifest-gated ``IdempotentParquetSink``,
  so kill/resume correctness rides entirely on source offsets + the
  idempotent sink (replayed micro-batches are skipped, not re-served).

Scale shape per micro-batch: the K centroid rows are collected and
each query picks its nprobe cells in one narrow Arrow pass (no window),
the rescore cogroups the batch's probes with the cell members by cell
(one shuffle of the corpus's (id, embedding, cell) rows per
micro-batch), and the exact rescore touches ~nprobe/K of the corpus
vectors per query — the batch operator's documented fraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from bucketizers_spark.operators.ivf_index import IvfIndex
from bucketizers_spark.sinks.idempotent import IdempotentParquetSink


def run_ann_stream(
    query_stream: DataFrame,
    emb: DataFrame,
    index: IvfIndex,
    sink_root: str,
    checkpoint: str,
    *,
    nprobe: int = 4,
    topk: int = 10,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    query_id_col: str = "query_id",
    query_emb_col: str = "qe",
) -> IdempotentParquetSink:
    """Serve streaming query vectors against a persisted IVF index:
    (query_id, vec_id, sim_r4, rk) per served query, committed
    idempotently per micro-batch. ``emb`` is the static corpus frame
    supplying vectors for exact rescoring (the index stores ids, not
    payloads). Blocks until all available input is processed."""
    sink = IdempotentParquetSink(sink_root)

    def transform(batch_df: DataFrame) -> DataFrame:
        return index.search(
            emb,
            batch_df,
            nprobe=nprobe,
            topk=topk,
            id_col=id_col,
            emb_col=emb_col,
            query_id_col=query_id_col,
            query_emb_col=query_emb_col,
        )

    q = (
        query_stream.writeStream.foreachBatch(sink.foreach_batch(transform))
        .option("checkpointLocation", checkpoint)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return sink
