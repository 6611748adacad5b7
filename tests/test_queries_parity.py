"""Self-contained driver-contract checks: run a representative subset of
queries() against oracle_sql() via DuckDB at sf0.001 (the full set runs in
tools/check_parity.py at sf0.01 and in the driver's own gate)."""

from __future__ import annotations

import hashlib

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"

SUBSET = [
    "basic_pager",
    "fallback_pager",
    "subject_assign",
    "subject_relations",
    "time_tumbling",
    "windowed_join",
    "time_session",
    "multi_subject_basic",
    "multi_source_trie",
    "multi_giant_parent_trie",
    "geo_tile",
    "dedup_exact",
    "dedup_simhash",
    "dedup_cluster",
    "ann_topk",
    "ann_lsh",
    "ann_lsh_recall",
    "emb_near_dup",
    "ann_int8",
    "ann_pq",
    "ann_pq_rescore",
    "ann_ivfpq",
    "ann_ivf",
    "ann_ivf_kmeans",
    "sample_stratified",
    "corpus_filter",
    "ngram_topk",
    "property_path",
    "text_quality",
    "doc_repetition",
    "tfidf_terms",
    "bm25_search",
    "corpus_stats",
    "lm_score",
    "pack_sequences",
    "pack_by_source",
    "pack_materialize",
    "mix_temperature",
    "shuffle_shard",
    "pmi_bigrams",
    "knn_classify",
    "ngram_diversity",
    "segment_dedup_cdc",
    "sample_fixed",
    "gopher_rules",
    "semdedup",
    "decontaminate",
    "segment_dedup",
    "mix_sample",
]


def _hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if v is None:
            return "\\N"
        if isinstance(v, float):
            return repr(round(v, 9))
        if isinstance(v, bool):
            return str(bool(v)).lower()
        return str(v)

    lines = sorted("\x01".join(cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ["events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, duck, name):
    import __spark_entry__ as e

    sdf = e.queries()[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(e.oracle_sql()[name])
    drows = rel.fetchall()
    assert sorted(sdf.columns) == sorted(rel.columns)
    assert len(srows) == len(drows)
    assert _hash(sdf.columns, srows) == _hash(rel.columns, drows)


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"bucket_id", "n_members", "sum_chars"}
    # every queries() key that has an oracle is a subset of queries()
    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 20
