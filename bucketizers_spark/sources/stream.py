"""Streaming source staging: Iceberg-snapshot emulation over parquet chunks.

Production target (north_rule) is ``spark.readStream.format("iceberg")`` on
the token-sequence table; snapshot/file/row order supplies the deterministic
``seq``. No Iceberg runtime jars exist in this sandbox, so streams are
emulated by staging the same rows as K parquet chunk files consumed by the
file-stream source in ``seq`` order with ``maxFilesPerTrigger`` — one chunk
≈ one snapshot (FIXTURES.md F1 "Streaming mode").

The chunk files are written one micro-batch worth at a time with
lexicographically ordered names so `latestFirst=false` file listing yields
arrival order.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from bucketizers_spark.sources.synthetic import TOKEN_STREAM_SCHEMA


def stage_chunks(
    pdf: pd.DataFrame, out_dir: str, n_chunks: int, start_index: int = 0
) -> list[str]:
    """Split a seq-ordered pandas frame into n ordered parquet chunk files.
    ``start_index`` offsets the file numbering (for staging later arrivals
    behind an already-consumed prefix)."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    n = len(pdf)
    per = (n + n_chunks - 1) // n_chunks
    for j in range(n_chunks):
        k = start_index + j
        part = pdf.iloc[j * per : (j + 1) * per]
        if part.empty:
            continue
        name = f"chunk_{k:05d}.parquet"
        path = os.path.join(out_dir, name)
        # written under a hidden name, which the file source skips, and
        # renamed only once its mtime is pinned: a stream listing the
        # directory meanwhile never sees the chunk with the current time
        # (its latest timestamp would jump to now, and every later
        # chunk's pinned mtime would then fall outside maxFileAge)
        tmp = os.path.join(out_dir, f".{name}.tmp")
        # pandas timestamps are ns-precision; Spark's vectorized parquet
        # reader wants us — coerce at write time
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            tmp,
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
        # FileStreamSource orders new files by MODIFICATION TIME; chunks
        # written milliseconds apart can collide and get consumed out of
        # seq order (observed as a flaky incremental-vs-batch mismatch).
        # Pin strictly increasing mtimes keyed by the chunk index.
        t = 1_700_000_000 + k
        os.utime(tmp, (t, t))
        os.replace(tmp, path)
        paths.append(path)
    return paths


def read_token_stream(spark, chunk_dir: str, max_files_per_trigger: int = 1):
    return (
        spark.readStream.schema(TOKEN_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("latestFirst", "false")
        .parquet(chunk_dir)
    )
