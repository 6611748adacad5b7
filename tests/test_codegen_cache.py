"""Codegen-cache pins: once a plan has run, running it again compiles no
class. Spark keeps generated classes in a cache capped by the static conf
``spark.sql.codegen.cache.maxEntries`` (default 100); the engine's working
set is larger, and at the default cap the cache evicts classes the next
execution needs (plans/session.py, settings rationale).

Compiles are read from Spark's ``CodegenMetrics`` in the driver JVM, which
local mode shares with the executors, so task-side compiles count too.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

import numpy as np
import pyarrow.parquet as pq
import pytest

from bucketizers_spark.plans.session import (
    CODEGEN_CACHE_MAX_ENTRIES,
    codegen_compile_count,
)
from bucketizers_spark.sources.stream import read_token_stream, stage_chunks
from bucketizers_spark.sources.synthetic import token_stream_pdf
from bucketizers_spark.streaming.metrics import QueryMetricsListener
from bucketizers_spark.streaming.trie_stream import TrieStreamJob

SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)

# the benchmark's batch_queries sweep
SWEEP = ("token_prefix_trie", "dedup_minhash", "dedup_cluster")


@pytest.fixture(scope="module")
def workdir():
    d = os.path.join(SCRATCH, f"cg_{uuid.uuid4().hex[:8]}")
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_cap_is_session_default(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_MAX_ENTRIES
    )


def test_repeat_queries_compile_nothing(spark, workdir):
    """The second pass over the same tables compiles 0 classes."""
    from tools.make_prof_replica import gen_documents, gen_embeddings, gen_events

    from bucketizers_spark.entry_queries import QUERIES

    # sf0.001-shaped tables (tools/make_prof_replica.py marginals)
    sf = os.path.join(workdir, "sf")
    os.makedirs(sf)
    rng = np.random.default_rng(1)
    tables = {
        "documents": gen_documents(rng, 50),
        "embeddings": gen_embeddings(rng, 125),
        "events": gen_events(rng, 1000, 15),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf, f"{name}.parquet"))

    def sweep():
        return {q: sorted(map(tuple, QUERIES[q](spark, sf).collect())) for q in SWEEP}

    first = sweep()
    before = codegen_compile_count()
    second = sweep()
    assert codegen_compile_count() - before == 0
    assert second == first


@pytest.fixture(scope="module")
def steady_trie(spark, workdir):
    """Three TrieStreamJob batches of equal size under a
    QueryMetricsListener; each chunk is staged once the listener has the
    previous batch's progress. Returns the compiles around the third
    batch and the listener's progress records."""
    root = os.path.join(workdir, "trie")
    chunks = os.path.join(root, "chunks")
    pdf = token_stream_pdf(1200, seed=42)
    listener = QueryMetricsListener(os.path.join(root, "metrics"))

    def progress():
        if not os.path.exists(listener.path):
            return {}
        with open(listener.path) as fh:
            recs = [json.loads(line) for line in fh if line.endswith("\n")]
        return {
            r["batchId"]: r
            for r in recs
            if r["event"] == "progress" and r["id"] == str(q.id)
        }

    def run_batch(k):
        stage_chunks(
            pdf.iloc[400 * k : 400 * (k + 1)], chunks, n_chunks=1, start_index=k
        )
        # processAllAvailable can return before a trigger lists the new
        # file (a trigger that found nothing may finish after the call),
        # so call it until the batch's progress reaches the listener
        deadline = time.time() + 120
        while k not in progress():
            assert time.time() < deadline, f"batch {k} never ran"
            q.processAllAvailable()
            time.sleep(0.2)

    job = TrieStreamJob(
        os.path.join(root, "sink"),
        os.path.join(root, "state"),
        mode="token",
        page_size=20,
        max_depth=6,
        salt_buckets=8,
        tail_threshold=0,
    )
    spark.streams.addListener(listener)
    os.makedirs(chunks)
    q = job.start(read_token_stream(spark, chunks, 1), os.path.join(root, "ckpt"))
    try:
        run_batch(0)
        run_batch(1)
        before = codegen_compile_count()
        run_batch(2)
        compiles = codegen_compile_count() - before
    finally:
        q.stop()
        spark.streams.removeListener(listener)
    assert job.sink.committed_batches() == {0, 1, 2}
    return compiles, progress()


def test_steady_trie_batch_compiles_nothing(steady_trie):
    compiles, _ = steady_trie
    assert compiles == 0


def test_listener_records_steady_batch_compiles(steady_trie):
    """The progress record of the steady batch says it compiled
    nothing; the first batch's record says it compiled its plans."""
    _, records = steady_trie
    assert records[0]["codegenCompiles"] > 0
    assert records[2]["codegenCompiles"] == 0
