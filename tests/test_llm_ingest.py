"""Staged streaming ingest (gate → cross-batch exact dedup →
per-source packing) vs a batch replay with the same stage order —
duplicates planted across micro-batch boundaries so the dedup state
must carry, and a kill/resume between arrivals."""

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

CHUNK_LEN = 32

_GOOD = "the cat sat on the mat and looked at the dog"  # en, stopword-rich


@pytest.fixture()
def workdir():
    d = os.path.join(SCRATCH, f"llm_ingest_{uuid.uuid4().hex[:8]}")
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _corpus_pdf(n: int = 180) -> pd.DataFrame:
    """Mix of: clean en docs (kept), short docs (gated), mismatched
    declared-lang docs (gated), and EXACT duplicates of earlier kept
    docs (deduped) — dup pairs straddle chunk boundaries."""
    rows = []
    for i in range(n):
        if i % 7 == 3:
            text, lang = "tiny doc", "en"  # < min_words → gated
        elif i % 7 == 5:
            text, lang = f"{_GOOD} variant {i}", "fr"  # lang mismatch
        elif i % 7 == 6 and 63 <= i < 126:
            # exact duplicate of row i-63's text: that row has the
            # same residue mod 7 but fell below 63, so it took the
            # unique-kept branch — the original is always kept
            j = i - 63
            text, lang = f"{_GOOD} unique {j} w{j % 11}", "en"
        else:
            text, lang = f"{_GOOD} unique {i} w{i % 11}", "en"
        rows.append((i, f"d{i:05d}", text, f"src{i % 3}", lang))
    return pd.DataFrame(
        rows, columns=["seq", "doc_id", "text", "source", "lang"]
    )


_SCHEMA = "seq long, doc_id string, text string, source string, lang string"


def _read_stream(spark, chunk_dir):
    return (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(chunk_dir)
    )


def _batch_expect(spark, pdf):
    """Batch replay with the SAME stage order: stateless gate →
    first-seen-by-(seq) dedup among survivors → per-source pack in
    (doc_id) order (arrival order follows doc_id in the fixture)."""
    from bucketizers_spark.entry_queries import _pack_manifest
    from bucketizers_spark.streaming.llm_ingest import ingest_gate

    df = spark.createDataFrame(pdf, _SCHEMA)
    gated = ingest_gate(df)
    w = Window.partitionBy(F.md5("text")).orderBy("seq", "doc_id")
    kept = (
        gated.withColumn("_rn", F.row_number().over(w))
        .where("_rn = 1")
        .drop("_rn")
    )
    d = kept.select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
    )
    wo = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    o = d.withColumn(
        "off", F.coalesce(F.sum("n_tok").over(wo), F.lit(0)).cast("long")
    )
    return _pack_manifest(o, CHUNK_LEN, lead_cols=("source",))


def _rows(df):
    return sorted(
        (r.source, r.chunk_id, r.doc_id, r.off_in_chunk, r.doc_off, r.n_from_doc)
        for r in df.collect()
    )


class TestLlmIngest:
    def test_stream_equals_batch_replay(self, spark, workdir):
        from bucketizers_spark.streaming.llm_ingest import run_llm_ingest

        pdf = _corpus_pdf()
        # the fixture must actually exercise every stage
        assert pdf["text"].duplicated().any()
        chunk_dir = os.path.join(workdir, "chunks")
        stage_chunks(pdf, chunk_dir, n_chunks=4)
        manifest = run_llm_ingest(
            spark,
            _read_stream(spark, chunk_dir),
            os.path.join(workdir, "job"),
            chunk_len=CHUNK_LEN,
        )
        got = _rows(spark.read.parquet(manifest))
        want = _rows(_batch_expect(spark, pdf))
        assert got == want and len(got) > 0
        # gated + deduped docs never reach the manifest
        packed_ids = {d for _, _, d, _, _, _ in got}
        gated_ids = {
            r.doc_id
            for r in spark.createDataFrame(pdf, _SCHEMA)
            .where(F.size(F.split("text", " ")) < 5)
            .collect()
        }
        assert not packed_ids & gated_ids

    def test_kill_resume_between_arrivals(self, spark, workdir):
        from bucketizers_spark.streaming.llm_ingest import run_llm_ingest

        pdf = _corpus_pdf()
        chunk_dir = os.path.join(workdir, "chunks")
        job = os.path.join(workdir, "job")
        first, rest = pdf.iloc[:90], pdf.iloc[90:]
        stage_chunks(first, chunk_dir, n_chunks=2)
        run_llm_ingest(
            spark, _read_stream(spark, chunk_dir), job, chunk_len=CHUNK_LEN
        )
        stage_chunks(rest, chunk_dir, n_chunks=2, start_index=2)
        manifest = run_llm_ingest(
            spark, _read_stream(spark, chunk_dir), job, chunk_len=CHUNK_LEN
        )
        got = _rows(spark.read.parquet(manifest))
        want = _rows(_batch_expect(spark, pdf))
        assert got == want
        # cross-restart dedup: a post-restart duplicate of a pre-kill
        # doc was dropped (dup originals live in the first half)
        post = set(rest["doc_id"])
        dup_texts = pdf[pdf["text"].duplicated()]
        post_dups = set(dup_texts["doc_id"]) & post
        assert post_dups
        packed_ids = {d for _, _, d, _, _, _ in got}
        assert not post_dups & packed_ids


class TestIngestGateRules:
    def test_gopher_rules_match_batch_stage(self, spark):
        """Streaming gopher gate == batch gopher_filter(dedup=False) on
        the same frame (ONE shared definition, so equality is by
        construction — this pins the wiring, not the math)."""
        import pytest as _pytest

        from bucketizers_spark.llm_pipeline import gopher_filter
        from bucketizers_spark.streaming.llm_ingest import ingest_gate

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        got = {
            r.doc_id for r in ingest_gate(docs, rules="gopher").collect()
        }
        want = {
            r.doc_id for r in gopher_filter(docs, dedup=False).collect()
        }
        assert got == want and 0 < len(got) < docs.count()
        # default stays the corpus_filter gate
        base = {r.doc_id for r in ingest_gate(docs).collect()}
        assert base != got
        with _pytest.raises(ValueError, match="unknown quality rules"):
            ingest_gate(docs, rules="bogus")
