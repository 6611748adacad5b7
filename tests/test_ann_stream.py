"""Streaming ANN serving vs the batch IvfIndex.search over the same
query set — stateless stream-static, so per-query results must be
IDENTICAL to batch regardless of micro-batch boundaries, and a
kill/resume must neither drop nor duplicate served queries (idempotent
manifest-gated sink)."""

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

SF_DIR = "/root/testdata/sf0.001"
_QSCHEMA = "query_id long, qe array<double>"


@pytest.fixture()
def workdir():
    d = os.path.join(SCRATCH, f"ann_stream_{uuid.uuid4().hex[:8]}")
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _query_pdf(spark) -> pd.DataFrame:
    rows = (
        _emb(spark)
        .where(F.col("vec_id") % 50 == 0)
        .select("vec_id", "embedding")
        .collect()
    )
    return pd.DataFrame(
        [(int(r.vec_id), [float(x) for x in r.embedding]) for r in rows],
        columns=["query_id", "qe"],
    )


def _read_stream(spark, chunk_dir):
    return (
        spark.readStream.schema(_QSCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(chunk_dir)
    )


def _rows(df):
    return sorted(
        (r.query_id, r.vec_id, r.sim_r4, r.rk) for r in df.collect()
    )


class TestAnnStream:
    def test_matches_batch_search(self, spark, workdir):
        from bucketizers_spark.operators.ivf_index import IvfIndex
        from bucketizers_spark.streaming.ann_stream import run_ann_stream

        emb = _emb(spark)
        idx = IvfIndex.build(
            emb, os.path.join(workdir, "idx"), k=16, trained=True
        )
        qpdf = _query_pdf(spark)
        assert len(qpdf) >= 6
        chunk_dir = os.path.join(workdir, "chunks")
        stage_chunks(qpdf, chunk_dir, n_chunks=3)
        sink = run_ann_stream(
            _read_stream(spark, chunk_dir),
            emb,
            idx,
            os.path.join(workdir, "sink"),
            os.path.join(workdir, "ckpt"),
        )
        got = _rows(sink.read_all(spark))
        want = _rows(idx.search(emb, spark.createDataFrame(qpdf, _QSCHEMA)))
        assert got == want and len(got) > 0

    def test_kill_resume_no_drop_no_dup(self, spark, workdir):
        from bucketizers_spark.operators.ivf_index import IvfIndex
        from bucketizers_spark.streaming.ann_stream import run_ann_stream

        emb = _emb(spark)
        idx = IvfIndex.build(
            emb, os.path.join(workdir, "idx"), k=16, trained=True
        )
        qpdf = _query_pdf(spark)
        chunk_dir = os.path.join(workdir, "chunks")
        sink_root = os.path.join(workdir, "sink")
        ckpt = os.path.join(workdir, "ckpt")
        first, rest = qpdf.iloc[: len(qpdf) // 2], qpdf.iloc[len(qpdf) // 2 :]
        stage_chunks(first, chunk_dir, n_chunks=2)
        run_ann_stream(
            _read_stream(spark, chunk_dir), emb, idx, sink_root, ckpt
        )
        stage_chunks(rest, chunk_dir, n_chunks=2, start_index=2)
        sink = run_ann_stream(
            _read_stream(spark, chunk_dir), emb, idx, sink_root, ckpt
        )
        got = _rows(sink.read_all(spark))
        want = _rows(idx.search(emb, spark.createDataFrame(qpdf, _QSCHEMA)))
        assert got == want
        # every query served exactly once (topk rows per query, no dups)
        served = {}
        for q, _, _, _ in got:
            served[q] = served.get(q, 0) + 1
        assert set(served) == set(qpdf["query_id"])
        assert len(set(served.values())) == 1
