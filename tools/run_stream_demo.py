"""Drive the streaming engine end-to-end, observably: stage a chunked
token stream, run the incremental trie job with checkpointing + metrics
listener, kill it mid-stream, restart from the checkpoint, and show that
the final sink equals the batch result (exactly-once + resume).

Usage: python tools/run_stream_demo.py [n_rows]
"""

from __future__ import annotations

import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)  # this checkout's engine, wherever it lives

SCRATCH = os.path.join(ROOT, ".scratch", "stream_demo")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH, exist_ok=True)

    from bucketizers_spark.plans.session import get_spark
    from bucketizers_spark.sources.stream import read_token_stream, stage_chunks
    from bucketizers_spark.sources.synthetic import (
        TOKEN_STREAM_SCHEMA,
        token_stream_pdf,
    )
    from bucketizers_spark.streaming.metrics import (
        QueryMetricsListener,
        partition_lineage,
    )
    from bucketizers_spark.streaming.trie_stream import TrieStreamJob
    from bucketizers_spark.operators.substring import token_prefix_trie

    spark = get_spark("stream-demo", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    spark.streams.addListener(QueryMetricsListener(SCRATCH))

    pdf = token_stream_pdf(n, seed=42)
    chunk_dir = os.path.join(SCRATCH, "chunks")
    ckpt = os.path.join(SCRATCH, "ckpt")

    # phase 1: 3 of 5 chunks arrive, stream consumes them, then "crashes"
    stage_chunks(pdf.iloc[: int(n * 0.6)], chunk_dir, n_chunks=3)
    job = TrieStreamJob(
        os.path.join(SCRATCH, "sink"),
        os.path.join(SCRATCH, "state"),
        mode="token",
        page_size=50,
        max_depth=6,
    )
    q = job.start(read_token_stream(spark, chunk_dir), ckpt)
    q.processAllAvailable()
    q.stop()
    n1 = job.sink.read_all(spark).count()
    print(f"phase 1: consumed 3 chunks -> sink rows = {n1}")

    # phase 2: the rest arrives; RESUME from the same checkpoint
    stage_chunks(pdf.iloc[int(n * 0.6) :], chunk_dir, n_chunks=2, start_index=3)
    q2 = job.start(read_token_stream(spark, chunk_dir), ckpt)
    q2.processAllAvailable()
    q2.stop()
    final = job.sink.read_all(spark)
    n2 = final.count()
    print(f"phase 2: resumed from checkpoint -> sink rows = {n2}")

    # compare with the batch run over the whole stream
    batch = spark.createDataFrame(pdf, TOKEN_STREAM_SCHEMA)
    res = token_prefix_trie(batch, "tokens", page_size=50, max_depth=6)
    want = {
        (r.seq, r.bucket_id) for r in res.assignments.select("seq", "bucket_id").collect()
    }
    got = {(r.seq, r.bucket_id) for r in final.select("seq", "bucket_id").collect()}
    print(f"exactly-once + batch parity: {'OK' if got == want else 'MISMATCH'}"
          f" ({len(got)} rows)")

    print("\nper-partition lineage of final sink:")
    for rec in sorted(partition_lineage(final), key=lambda r: r["partition"])[:6]:
        print("  ", rec)

    print("\nlast metrics records:")
    with open(os.path.join(SCRATCH, "metrics.jsonl")) as fh:
        for line in fh.readlines()[-3:]:
            rec = json.loads(line)
            rec.pop("durationMs", None)
            print("  ", json.dumps(rec)[:160])

    manifests = sorted(os.listdir(os.path.join(SCRATCH, "sink", "_manifest")))
    print(f"\nsink batch manifests: {manifests}")
    spark.stop()


if __name__ == "__main__":
    main()
