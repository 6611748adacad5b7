"""Streaming media featurization vs the batch operators over the same
payloads — stateless stream, so results must be IDENTICAL to batch
regardless of micro-batch boundaries, and a kill/resume must neither
drop nor re-featurize rows (idempotent manifest-gated sink)."""

from __future__ import annotations

import os
import shutil
import uuid

import pandas as pd
import pytest

from bucketizers_spark.sources.stream import stage_chunks

SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)

_SCHEMA = "media_id string, payload binary"


@pytest.fixture()
def workdir():
    d = os.path.join(SCRATCH, f"media_stream_{uuid.uuid4().hex[:8]}")
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _ppm(w, h, phase):
    raster = bytes(
        (x * 7 + y * 13 + c * 29 + phase) % 256
        for y in range(h)
        for x in range(w)
        for c in range(3)
    )
    return b"P6\n%d %d\n255\n" % (w, h) + raster


def _media_pdf() -> pd.DataFrame:
    rows = [
        (f"m{i}", _ppm(8 + (i % 5), 6 + (i % 3), i)) for i in range(12)
    ]
    return pd.DataFrame(rows, columns=["media_id", "payload"])


def _read_stream(spark, chunk_dir):
    return (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(chunk_dir)
    )


def _rows(df):
    return sorted(
        (r.media_id, r.width, r.height, r.n_channels,
         round(r.mean_luma, 9), r.phash)
        for r in df.collect()
    )


def _batch_want(spark, pdf):
    from bucketizers_spark.functions.multimodal import (
        image_features,
        resize_image,
    )

    df = spark.createDataFrame(pdf, _SCHEMA)
    return _rows(
        image_features(resize_image(df, out_w=6, out_h=4), fake=False)
    )


class TestMediaStream:
    def test_matches_batch_features(self, spark, workdir):
        from bucketizers_spark.streaming.media_stream import run_media_stream

        pdf = _media_pdf()
        chunk_dir = os.path.join(workdir, "chunks")
        stage_chunks(pdf, chunk_dir, n_chunks=4)
        sink = run_media_stream(
            _read_stream(spark, chunk_dir),
            os.path.join(workdir, "sink"),
            os.path.join(workdir, "ckpt"),
            resize_to=(6, 4),
        )
        got = _rows(sink.read_all(spark))
        assert got == _batch_want(spark, pdf) and len(got) == 12

    def test_kill_resume_no_drop_no_dup(self, spark, workdir):
        from bucketizers_spark.streaming.media_stream import run_media_stream

        pdf = _media_pdf()
        chunk_dir = os.path.join(workdir, "chunks")
        sink_root = os.path.join(workdir, "sink")
        ckpt = os.path.join(workdir, "ckpt")
        first, rest = pdf.iloc[:6], pdf.iloc[6:]
        stage_chunks(first, chunk_dir, n_chunks=2)
        run_media_stream(
            _read_stream(spark, chunk_dir), sink_root, ckpt, resize_to=(6, 4)
        )
        stage_chunks(rest, chunk_dir, n_chunks=2, start_index=2)
        sink = run_media_stream(
            _read_stream(spark, chunk_dir), sink_root, ckpt, resize_to=(6, 4)
        )
        got = _rows(sink.read_all(spark))
        assert got == _batch_want(spark, pdf)
        # every media row featurized exactly once across the restart
        ids = [m for m, *_ in got]
        assert len(ids) == len(set(ids)) == 12
