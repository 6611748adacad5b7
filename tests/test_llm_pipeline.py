"""End-to-end training-data pipeline vs the standalone green queries:
with the filter off the chunk table must equal the pack_materialize
oracle EXACTLY; with stages on, each stage must agree with its verified query
(corpus_filter ids, mix_temperature ids) and the final shard table must
satisfy the loader contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


class TestLlmPipeline:
    def test_pack_stage_equals_green_query(self, spark):
        """pack_chunks (which q_pack_materialize runs) equals the
        pack_materialize DuckDB oracle over the same tables."""
        import duckdb

        from bucketizers_spark.entry_queries import _PACK_L, SQL_PACK_MATERIALIZE
        from bucketizers_spark.llm_pipeline import pack_chunks

        got = sorted(
            tuple(r)
            for r in pack_chunks(_docs(spark), chunk_len=_PACK_L).collect()
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
        )
        want = sorted(con.sql(SQL_PACK_MATERIALIZE).fetchall())
        assert got == want and len(got) > 0

    def test_filter_and_mix_stages_equal_green_queries(self, spark):
        from bucketizers_spark.entry_queries import (
            _MIX_ALPHA,
            _MIX_BUDGET,
            q_corpus_filter,
            q_mix_temperature,
        )
        from bucketizers_spark.llm_pipeline import filter_corpus, mix_corpus

        docs = _docs(spark)
        got_f = {r.doc_id for r in filter_corpus(docs).collect()}
        want_f = {r.doc_id for r in q_corpus_filter(spark, SF_DIR).collect()}
        assert got_f == want_f and len(got_f) > 0
        got_m = {
            r.doc_id
            for r in mix_corpus(
                docs, alpha=_MIX_ALPHA, budget=_MIX_BUDGET
            ).collect()
        }
        want_m = {
            r.doc_id for r in q_mix_temperature(spark, SF_DIR).collect()
        }
        assert got_m == want_m and len(got_m) > 0
        # budget=None is the identity
        assert mix_corpus(docs).count() == docs.count()

    def test_full_pipeline_loader_contract(self, spark):
        from bucketizers_spark.llm_pipeline import prepare_training_data

        L, S = 64, 4
        out = prepare_training_data(
            _docs(spark),
            chunk_len=L,
            n_shards=S,
            mix_budget=150,
        ).collect()
        n = len(out)
        assert n > 4
        # order is a bijection; shards round-robin balanced and dense
        assert sorted(r.order_idx for r in out) == list(range(n))
        per_shard: dict = {}
        for r in out:
            assert r.shard_id == r.order_idx % S
            per_shard.setdefault(r.shard_id, []).append(r.pos_in_shard)
        assert max(len(v) for v in per_shard.values()) - min(
            len(v) for v in per_shard.values()
        ) <= 1
        for v in per_shard.values():
            assert sorted(v) == list(range(len(v)))
        # every chunk except the LAST IN PACK ORDER holds exactly L
        last_chunk = max(r.chunk_id for r in out)
        for r in out:
            if r.chunk_id != last_chunk:
                assert r.n_tok == L
        # chunk token total == surviving corpus token total
        from bucketizers_spark.llm_pipeline import filter_corpus, mix_corpus

        surv = mix_corpus(filter_corpus(_docs(spark)), budget=150)
        total = (
            surv.select(
                F.sum(F.size(F.split(F.col("text"), " "))).alias("t")
            ).collect()[0].t
        )
        assert sum(r.n_tok for r in out) == total


class TestR6Stages:
    def test_gopher_filter_equals_green_query(self, spark):
        from bucketizers_spark.entry_queries import q_gopher_rules
        from bucketizers_spark.llm_pipeline import gopher_filter

        docs = _docs(spark)
        got = {r.doc_id for r in gopher_filter(docs, dedup=False).collect()}
        want = {
            r.doc_id
            for r in q_gopher_rules(spark, SF_DIR).collect()
            if r.keep
        }
        assert got == want and 0 < len(got) < docs.count()
        # with dedup, survivors are additionally their own md5-canon
        with_dedup = {r.doc_id for r in gopher_filter(docs).collect()}
        assert with_dedup <= got

    def test_semantic_dedup_equals_green_query(self, spark):
        from bucketizers_spark.entry_queries import q_semdedup
        from bucketizers_spark.llm_pipeline import semantic_dedup

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        got = {
            r.vec_id
            for r in semantic_dedup(emb, id_col="vec_id").collect()
        }
        want = {
            r.vec_id
            for r in q_semdedup(spark, SF_DIR).collect()
            if r.kept
        }
        assert got == want and 0 < len(got) < emb.count()

    def test_prepare_with_gopher_quality(self, spark):
        from bucketizers_spark.llm_pipeline import (
            gopher_filter,
            mix_corpus,
            pack_chunks,
            prepare_training_data,
            shard_chunks,
        )

        docs = _docs(spark)
        got = sorted(
            tuple(r)
            for r in prepare_training_data(
                docs, chunk_len=256, n_shards=4, quality="gopher"
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in shard_chunks(
                pack_chunks(
                    mix_corpus(gopher_filter(docs)), chunk_len=256
                ),
                n_shards=4,
            ).collect()
        )
        assert got == want and len(got) > 0
        import pytest as _pytest

        with _pytest.raises(ValueError, match="unknown quality"):
            prepare_training_data(docs, quality="bogus")
