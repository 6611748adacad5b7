"""Engine-vs-oracle equivalence (SURVEY.md §5.2 step 2).

The distributed batch operators must reproduce the sequential oracle's
(bucket, member) assignments, relations, and seals EXACTLY on deterministic
skewed fixtures — including deep trie cascades, root rotations, terminal
placements, and fallback paging.
"""

from __future__ import annotations

import numpy as np
import pytest

from bucketizers_spark.oracle import (
    BasicOracle,
    SubjectPageOracle,
    SubstringOracle,
)
from bucketizers_spark.operators import (
    basic_pager,
    fallback_pager,
    subject_page,
    substring_trie,
)
from bucketizers_spark.operators.substring import token_prefix_trie


def members_df(spark, values: list[str | None]):
    rows = [(i, f"m{i}", v) for i, v in enumerate(values)]
    return spark.createDataFrame(rows, "seq long, member_id string, value string")


def collect_assignments(df) -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    for r in df.select("member_id", "bucket_id").collect():
        out.setdefault(r.member_id, [])
        if r.bucket_id is not None:
            out[r.member_id].append(r.bucket_id)
    return {k: sorted(v) for k, v in out.items()}


def oracle_assignments(oracle, values) -> dict[str, list[str]]:
    out = {}
    rels = []
    seals = []
    for i, v in enumerate(values):
        res = oracle.bucketize([v] if v is not None else None, f"m{i}")
        out[f"m{i}"] = sorted(res.buckets)
        rels.extend(res.relations)
        seals.extend(res.seals)
    return out, rels, seals


def rel_set(df):
    return {
        (r.from_bucket, r.relation_type, r.to_bucket, tuple(r["values"] or ()))
        for r in df.collect()
    }


def oracle_rel_set(rels):
    return {(r.from_bucket, r.relation_type, r.to_bucket, tuple(r.values)) for r in rels}


@pytest.fixture(scope="module")
def name_values():
    """Skewed multi-word names: forces deep cascades at page_size 2."""
    rng = np.random.default_rng(7)
    pool = [
        "John Doe",
        "John Doe",  # double weight
        "Jane Doe",
        "Jan",
        "J",
        "J D",
        "Johanna Doerr",
        "jo anne",
        "Smith",
        "So",
        "",
    ]
    return [pool[i] for i in rng.integers(0, len(pool), size=300)]


class TestBasicEquivalence:
    def test_assignments_and_relations(self, spark):
        values = [None] * 137
        df = members_df(spark, values)
        res = basic_pager(df, page_size=7, dense_seq=True)
        exp, orels, _ = oracle_assignments(BasicOracle(page_size=7), values)
        got = collect_assignments(res.assignments)
        assert got == exp
        assert rel_set(res.relations) == oracle_rel_set(orels)

    def test_dense_vs_rownumber_paths_agree(self, spark):
        values = [None] * 60
        df = members_df(spark, values)
        a = collect_assignments(basic_pager(df, page_size=9, dense_seq=True).assignments)
        b = collect_assignments(basic_pager(df, page_size=9, dense_seq=False).assignments)
        assert a == b


class TestFallbackEquivalence:
    def test_bucketless_pages(self, spark):
        values = [None] * 53
        df = members_df(spark, values)
        res = fallback_pager(df, page_size=8, dense_seq=True)
        exp, orels, _ = oracle_assignments(SubstringOracle(page_size=8), values)
        assert collect_assignments(res.assignments) == exp
        assert rel_set(res.relations) == oracle_rel_set(orels)


class TestSubjectEquivalence:
    def test_assignments_relations_seals(self, spark):
        rng = np.random.default_rng(3)
        keys = np.minimum(rng.zipf(1.4, size=400), 60)
        values = [f"http://example.org/thing/v{k}" for k in keys]
        df = members_df(spark, values)
        res = subject_page(
            df,
            "value",
            salt="abc",
            max_relations=5,
            property_path="ex:path",
        )
        oracle = SubjectPageOracle(
            salt="abc", max_relations=5, property_path="ex:path"
        )
        exp, orels, oseals = oracle_assignments(oracle, values)
        assert collect_assignments(res.assignments) == exp
        assert rel_set(res.relations) == oracle_rel_set(orels)
        got_seals = sorted(r.bucket_id for r in res.seals.collect())
        assert got_seals == sorted(oseals)

    def test_relation_paths_and_values(self, spark):
        df = members_df(spark, ["http://x/a", "http://x/a", "http://x/b"])
        res = subject_page(df, "value", salt="s", property_path="ex:p")
        rows = {r.to_bucket: r for r in res.relations.collect()}
        assert rows["a-s"]["values"] == ["http://x/a"]
        assert rows["a-s"]["path"] == "ex:p"


class TestSubstringEquivalence:
    @pytest.mark.parametrize("page_size", [1, 2, 5])
    @pytest.mark.parametrize("tail", [0, 100_000])
    def test_cascade_matches_oracle(self, spark, name_values, page_size, tail):
        if tail and page_size != 2:
            pytest.skip("finisher path covered once per fixture")
        df = members_df(spark, name_values)
        res = substring_trie(df, "value", page_size=page_size, tail_threshold=tail)
        oracle = SubstringOracle(page_size=page_size)
        exp, orels, _ = oracle_assignments(oracle, name_values)
        got = collect_assignments(res.assignments)
        assert got == exp
        assert rel_set(res.relations) == oracle_rel_set(orels)

    def test_identical_values_deep_cascade(self, spark):
        # 40 copies of the same two-word value at page_size 3: exercises
        # the multi-word no-bucket terminal rule and deep descents
        values = ["ab cd"] * 40
        df = members_df(spark, values)
        res = substring_trie(df, "value", page_size=3, tail_threshold=0)
        exp, orels, _ = oracle_assignments(SubstringOracle(page_size=3), values)
        assert collect_assignments(res.assignments) == exp
        assert rel_set(res.relations) == oracle_rel_set(orels)

    def test_unicode_nfkd_via_pandas_udf(self, spark):
        values = ["John Doe", "ñ", "̃ȷ", "ñ"]
        df = members_df(spark, values)
        res = substring_trie(df, "value", page_size=1, ascii_fast=False)
        exp, orels, _ = oracle_assignments(SubstringOracle(page_size=1), values)
        assert collect_assignments(res.assignments) == exp


class TestTokenTrieEquivalence:
    def test_token_mode_matches_char_oracle(self, spark):
        rng = np.random.default_rng(11)
        n = 250
        toks = [
            np.minimum(rng.zipf(1.5, size=int(ln)) - 1, 50).astype(int).tolist()
            for ln in rng.integers(1, 7, size=n)
        ]
        rows = [(i, f"m{i}", t) for i, t in enumerate(toks)]
        df = spark.createDataFrame(
            rows, "seq long, member_id string, tokens array<int>"
        )
        res = token_prefix_trie(
            df, "tokens", page_size=4, max_depth=8, tail_threshold=0
        )
        # oracle: map each token to a unique char → identical cascade,
        # single-word semantics
        oracle = SubstringOracle(page_size=4)
        char_vals = ["".join(chr(0x4E00 + t) for t in ts) for ts in toks]
        exp, _, _ = oracle_assignments(oracle, char_vals)

        def chars_to_key(b: str) -> str:
            if b in ("root", ""):
                return b
            return "-".join(str(ord(c) - 0x4E00) for c in b)

        exp_tok = {m: sorted(chars_to_key(b) for b in bs) for m, bs in exp.items()}
        assert collect_assignments(res.assignments) == exp_tok


class TestSaltedCascade:
    def test_salt_count_invariance(self, spark, name_values):
        # salt_buckets=0 (DEFAULT_SALT_BUCKETS) and 4 place identically
        df = members_df(spark, name_values)
        a = substring_trie(df, "value", page_size=2, tail_threshold=0)
        b = substring_trie(
            df, "value", page_size=2, salt_buckets=4, tail_threshold=0
        )
        assert collect_assignments(a.assignments) == collect_assignments(
            b.assignments
        )
        assert rel_set(a.relations) == rel_set(b.relations)

    def test_salted_token_trie_matches_oracle_fixture(self, spark):
        import numpy as np

        rng = np.random.default_rng(5)
        toks = [
            np.minimum(rng.zipf(1.3, size=int(ln)), 12).astype(int).tolist()
            for ln in rng.integers(1, 5, size=400)
        ]
        rows = [(i, f"m{i}", t) for i, t in enumerate(toks)]
        df = spark.createDataFrame(
            rows, "seq long, member_id string, tokens array<int>"
        )
        a = token_prefix_trie(
            df, "tokens", page_size=5, max_depth=6, tail_threshold=0
        )
        b = token_prefix_trie(
            df, "tokens", page_size=5, max_depth=6, salt_buckets=8,
            tail_threshold=0
        )
        assert collect_assignments(a.assignments) == collect_assignments(
            b.assignments
        )


class TestGeospatialEquivalence:
    def test_matches_oracle_and_reference_pins(self, spark):
        from bucketizers_spark.operators.geospatial import geospatial_tiles
        from bucketizers_spark.oracle.reference import GeospatialOracle

        rng = np.random.default_rng(9)
        values = []
        for i in range(200):
            lon = rng.uniform(2.0, 6.0)
            lat = rng.uniform(49.0, 52.0)
            if i % 7 == 0:
                # multi-point geometry spanning tiles
                values.append(
                    f"MULTIPOINT (({lon} {lat}), ({lon + 3} {lat - 1}))"
                )
            elif i % 11 == 0:
                values.append(
                    f"<http://www.opengis.net/def/crs/OGC/1.3/CRS84> POINT ({lon} {lat})"
                )
            else:
                values.append(f"POINT ({lon} {lat})")
        df = members_df(spark, values)
        res = geospatial_tiles(df, "value", zoom=4, page_size=3)
        oracle = GeospatialOracle(page_size=3, zoom=4)
        exp, orels, _ = oracle_assignments(oracle, values)
        got = collect_assignments(res.assignments)
        # oracle may assign the same bucket twice for a member (two points
        # in one tile-page) — engine keeps those rows too
        assert got == {k: v for k, v in exp.items()}
        assert rel_set(res.relations) == oracle_rel_set(orels)

    def test_reference_pins_pagesize_1(self, spark):
        # GeospatialBucketizer.test.ts:199-235 — two Belgian points at
        # pageSize 1 land in 4/8/5-0 and 4/8/5-1
        from bucketizers_spark.operators.geospatial import geospatial_tiles

        df = members_df(
            spark,
            [
                "POINT (3.1516329600511916 51.08919224082551)",
                "POINT (4.777609522551192 50.784567520377436)",
                "garbage-not-wkt",
            ],
        )
        res = geospatial_tiles(df, "value", zoom=4, page_size=1)
        got = collect_assignments(res.assignments)
        assert got["m0"] == ["4/8/5-0"] and got["m1"] == ["4/8/5-1"]
        assert "m2" not in got
        assert [r.member_id for r in res.unmatched.collect()] == ["m2"]


class TestSubtrieWalk:
    @pytest.mark.parametrize("page_size", [1, 2, 5])
    def test_subtrie_algo_matches_oracle(
        self, spark, name_values, page_size, monkeypatch
    ):
        """With the default tail_threshold the fixture fits the grouped
        walk right after the root, so the walk finishes the whole trie
        from level 1."""
        from bucketizers_spark.operators import substring as sub_mod

        levels = []
        walk = sub_mod._grouped_walk

        def spy(remaining, chain, **kw):
            levels.append(kw["level"])
            return walk(remaining, chain, **kw)

        monkeypatch.setattr(sub_mod, "_grouped_walk", spy)
        df = members_df(spark, name_values)
        res = substring_trie(df, "value", page_size=page_size)
        oracle = SubstringOracle(page_size=page_size)
        exp, orels, _ = oracle_assignments(oracle, name_values)
        assert collect_assignments(res.assignments) == exp
        assert rel_set(res.relations) == oracle_rel_set(orels)
        assert levels == [1]

    def test_subtrie_token_matches_cascade(self, spark):
        rng = np.random.default_rng(21)
        toks = [
            np.minimum(rng.zipf(1.4, size=int(ln)), 30).astype(int).tolist()
            for ln in rng.integers(1, 8, size=500)
        ]
        rows = [(i, f"m{i}", t) for i, t in enumerate(toks)]
        df = spark.createDataFrame(
            rows, "seq long, member_id string, tokens array<int>"
        )
        # every level distributed vs the walk from level 1
        a = token_prefix_trie(
            df, "tokens", page_size=7, max_depth=5, tail_threshold=0
        )
        b = token_prefix_trie(df, "tokens", page_size=7, max_depth=5)
        assert collect_assignments(a.assignments) == collect_assignments(
            b.assignments
        )
        assert rel_set(a.relations) == rel_set(b.relations)

    def test_level_2_handoff_matches_oracle(
        self, spark, name_values, monkeypatch
    ):
        """A tail_threshold between the fixture's level-1 and level-2 row
        counts runs level 1 salted and hands the rest to the walk at
        level 2."""
        from bucketizers_spark.operators import substring as sub_mod

        calls = []
        walk = sub_mod._grouped_walk

        def spy(remaining, chain, **kw):
            calls.append((kw["level"], remaining.count()))
            return walk(remaining, chain, **kw)

        monkeypatch.setattr(sub_mod, "_grouped_walk", spy)
        df = members_df(spark, name_values)
        # 264 non-empty members: the root places 2, 262 reach level 1 and
        # 227 of them level 2
        res = substring_trie(df, "value", page_size=2, tail_threshold=250)
        assert calls == [(2, 227)]
        exp, orels, _ = oracle_assignments(
            SubstringOracle(page_size=2), name_values
        )
        assert collect_assignments(res.assignments) == exp
        assert rel_set(res.relations) == oracle_rel_set(orels)


class TestGlobalRank:
    def test_two_phase_rank_matches_window(self, spark):
        """The range-partitioned two-phase rank must equal the single-task
        window rank exactly (unique keys, unsorted multi-partition input)."""
        from pyspark.sql import functions as F

        from bucketizers_spark.operators.rank import with_global_rank0

        df = (
            spark.range(0, 5000)
            .withColumn("k", (F.col("id") * 2654435761) % 1000003)
            .repartition(16)
            .select(F.col("k").alias("key"))
        )
        two = {
            r.key: r.rank0
            for r in with_global_rank0(
                df, "key", single_task_threshold=0
            ).collect()
        }
        one = {
            r.key: r.rank0
            for r in with_global_rank0(df, "key").collect()
        }
        assert two == one and len(two) == 5000

    def test_dense_key_shortcut_matches_window(self, spark):
        """r7: a dense unique integer key takes the no-sort shortcut
        (rank0 = key - min, no exchange in the plan) and must equal the
        window rank exactly; any gap in the key space falls back to the
        sorting paths."""
        from pyspark.sql import functions as F

        from bucketizers_spark.operators.rank import with_global_rank0

        dense = (
            spark.range(100, 5100)
            .select(F.col("id").alias("key"))
            .repartition(8)
        )
        fast = with_global_rank0(dense, "key")
        assert (
            "Exchange"
            not in fast._jdf.queryExecution().executedPlan().toString()
        )
        got = {r["key"]: r["rank0"] for r in fast.collect()}
        assert got == {100 + i: i for i in range(5000)}

        gappy = dense.where(F.col("key") != 3000)
        slow = with_global_rank0(gappy, "key")
        assert (
            "SinglePartition"
            in slow._jdf.queryExecution().executedPlan().toString()
        )
        expect = sorted(k for k in range(100, 5100) if k != 3000)
        got2 = {r["key"]: r["rank0"] for r in slow.collect()}
        assert got2 == {k: i for i, k in enumerate(expect)}

    def test_threshold_selects_physical_path(self, spark):
        """Plan-shape pin (VERDICT r2 #5): above the threshold the rank
        must execute as the range-partitioned two-phase form — windows
        partitioned by `_pid`, never a global single-task window sort.
        The single-task form shows up in the physical plan as an
        `Exchange SinglePartition` feeding the window; the two-phase
        form must not contain one. (Output partition COUNTS are not a
        reliable pin here: AQE coalesces the tiny post-window shuffle
        and localCheckpoint truncates the range-exchange lineage.)"""
        from pyspark.sql import functions as F

        from bucketizers_spark.operators.rank import with_global_rank0

        df = (
            spark.range(0, 4000)
            .select(((F.col("id") * 48271) % 99991).alias("key"))
            .repartition(8)
        )
        big = with_global_rank0(
            df, "key", single_task_threshold=100, partitions=8
        )
        assert "SinglePartition" not in big._jdf.queryExecution().executedPlan().toString()
        small = with_global_rank0(df, "key", single_task_threshold=100_000)
        assert "SinglePartition" in small._jdf.queryExecution().executedPlan().toString()
        # and both paths agree on the ranking they produce
        b = {r["key"]: r["rank0"] for r in big.collect()}
        s = {r["key"]: r["rank0"] for r in small.collect()}
        assert b == s and len(b) == 4000

    def test_two_phase_prefix_sum_matches_window(self, spark):
        """with_global_prefix_sum: the range-partitioned two-phase form
        equals the single-task exclusive running sum exactly, never
        via a SinglePartition sort, and the first row in order gets 0
        (exclusive semantics). Drives q_pack_sequences' offsets."""
        from pyspark.sql import functions as F

        from bucketizers_spark.operators.rank import with_global_prefix_sum

        df = (
            spark.range(0, 5000)
            .withColumn("key", (F.col("id") * 2654435761) % 1000003)
            .withColumn("v", (F.col("id") % 97) + 1)
            .repartition(16)
            .select("key", "v")
        )
        big = with_global_prefix_sum(
            df, "key", "v", single_task_threshold=0, partitions=8
        )
        assert (
            "SinglePartition"
            not in big._jdf.queryExecution().executedPlan().toString()
        )
        two = {r.key: r.offset0 for r in big.collect()}
        one = {
            r.key: r.offset0
            for r in with_global_prefix_sum(df, "key", "v").collect()
        }
        assert two == one and len(two) == 5000
        in_order = sorted(two)
        assert two[in_order[0]] == 0
        # spot-check exclusivity: offsets strictly increase by the
        # previous row's value
        vals = {r.key: r.v for r in df.collect()}
        run = 0
        for k in in_order[:100]:
            assert two[k] == run
            run += vals[k]

    def test_two_phase_drives_basic_pager(self, spark):
        """basic_pager with the two-phase rank forced (threshold 0 via a
        tiny monkeypatch) matches the dense-seq narrow map."""
        import bucketizers_spark.operators.rank as rank_mod
        from bucketizers_spark.operators.basic import basic_pager

        df = spark.range(0, 997).withColumnRenamed("id", "seq").repartition(8)
        old = rank_mod.SINGLE_TASK_THRESHOLD
        try:
            rank_mod.SINGLE_TASK_THRESHOLD = 0
            import importlib

            a = basic_pager(df, page_size=50, dense_seq=False)
            got = {r.seq: r.bucket_id for r in a.assignments.collect()}
        finally:
            rank_mod.SINGLE_TASK_THRESHOLD = old
        b = basic_pager(df, page_size=50, dense_seq=True)
        want = {r.seq: r.bucket_id for r in b.assignments.collect()}
        assert got == want


class TestPlanShapes:
    """Pin the plan-shape guarantees the scale story rests on: a narrow
    map must stay shuffle-free (any regression that sneaks an Exchange
    into these paths is a 100 TB problem long before it is a local one)."""

    @staticmethod
    def _plan(df) -> str:
        import io
        from contextlib import redirect_stdout

        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    def test_sub_threshold_pager_is_one_single_partition_exchange(
        self, spark
    ):
        """VERDICT r3 #3 plan pin, updated for the r7 dense-key rank
        shortcut: a DENSE unique integer seq fully determines the rank
        (rank0 = seq - min), so the pager assigns with a pure narrow
        map over the caller's frame — no window, no SinglePartition
        sort, no checkpoint (only the input's own exchange survives).
        A non-dense sub-threshold seq still takes the window path:
        exactly ONE exchange, the SinglePartition feeding the window
        sort (the localCheckpoint truncates any upstream shuffle).
        With both pinned, a bench regression on basic_pager is
        fixed-cost sandbox noise, not a plan change."""
        import re

        from pyspark.sql import functions as F

        from bucketizers_spark.operators.basic import basic_pager

        df = spark.range(0, 5000).withColumnRenamed("id", "seq").repartition(8)
        a = basic_pager(df, page_size=50, dense_seq=False).assignments
        plan = a._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan and "Window" not in plan, plan

        gappy = (
            spark.range(0, 5000)
            .select((F.col("id") * 2).alias("seq"))
            .repartition(8)
        )
        a2 = basic_pager(gappy, page_size=50, dense_seq=False).assignments
        plan2 = a2._jdf.queryExecution().executedPlan().toString()
        exchanges2 = re.findall(r"Exchange (\w+)", plan2)
        assert exchanges2 == ["SinglePartition"], plan2

    def test_subject_assign_is_narrow(self, spark):
        from pyspark.sql import functions as F

        from bucketizers_spark.operators.subject_page import subject_page

        df = spark.range(0, 1000, 1, 8).select(
            F.col("id").alias("seq"),
            F.concat(F.lit("http://x/u/"), (F.col("id") % 7).cast("string")).alias("v"),
        )
        plan = self._plan(subject_page(df, "v", seq_col="seq").assignments)
        assert "Exchange" not in plan

    def test_dense_seq_pager_is_narrow(self, spark):
        from bucketizers_spark.operators.basic import basic_pager

        df = spark.range(0, 1000, 1, 8).withColumnRenamed("id", "seq")
        plan = self._plan(basic_pager(df, page_size=50, dense_seq=True).assignments)
        assert "Exchange" not in plan

    def test_tumbling_assign_is_narrow(self, spark):
        from pyspark.sql import functions as F

        from bucketizers_spark.operators.time_window import tumbling_bucketizer

        df = spark.range(0, 1000, 1, 8).select(
            F.col("id").alias("seq"),
            (F.lit("2026-01-01 00:00:00").cast("timestamp")
             + F.make_interval(secs=F.col("id").cast("double"))).alias("ts"),
        )
        plan = self._plan(tumbling_bucketizer(df, "ts", "10 minutes").assignments)
        assert "Exchange" not in plan


class TestNewQueryPlanShapes:
    """Plan pins for the r5 corpus queries: the probe joins that must
    stay broadcast (a SortMergeJoin sneaking in means the corpus side
    started shuffling for the probe — a 100 TB regression)."""

    SF = "/root/testdata/sf0.001"

    @staticmethod
    def _plan(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    def test_decontaminate_probe_is_broadcast(self, spark):
        from bucketizers_spark.entry_queries import q_decontaminate

        plan = self._plan(q_decontaminate(spark, self.SF))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_mix_sample_rate_join_is_broadcast(self, spark):
        from bucketizers_spark.entry_queries import q_mix_sample

        plan = self._plan(q_mix_sample(spark, self.SF))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_quantized_ann_paths_never_sort_merge(self, spark):
        from bucketizers_spark.entry_queries import (
            q_ann_int8,
            q_ann_pq_rescore,
        )

        for q in (q_ann_int8, q_ann_pq_rescore):
            assert "SortMergeJoin" not in self._plan(q(spark, self.SF))

    def test_ivfpq_probe_and_rescore_broadcast(self, spark):
        # IVFADC: probes/centroids/codebook/shortlist sides all
        # broadcast; the enc⋈cells equijoin on vec_id MAY legitimately
        # shuffle at scale (both sides are corpus-sized slim frames),
        # so only the broadcast presence is pinned, not SMJ absence.
        from bucketizers_spark.entry_queries import q_ann_ivfpq

        assert "BroadcastHashJoin" in self._plan(q_ann_ivfpq(spark, self.SF))


class TestShuffleShard:
    """q_shuffle_shard vs an independent Python replay (hashlib md5 —
    not Spark's md5, not the DuckDB oracle) plus the permutation
    invariants a training loader relies on."""

    SF = "/root/testdata/sf0.001"

    def _rows(self, spark, monkeypatch=None):
        from bucketizers_spark.entry_queries import q_shuffle_shard

        return q_shuffle_shard(spark, self.SF).collect()

    def test_matches_python_replay_and_invariants(self, spark):
        import hashlib

        from bucketizers_spark.entry_queries import _SHUF_SHARDS

        rows = self._rows(spark)
        n = len(rows)
        # independent replay: order by hashlib md5 of the stringified id
        ids = [r.doc_id for r in rows]
        want_order = {
            d: i
            for i, d in enumerate(
                sorted(ids, key=lambda d: hashlib.md5(str(d).encode()).hexdigest())
            )
        }
        assert {r.doc_id: r.order_idx for r in rows} == want_order
        # bijection onto 0..n-1
        assert sorted(r.order_idx for r in rows) == list(range(n))
        # round-robin sharding: balanced within one row, dense positions
        per_shard = {}
        for r in rows:
            assert r.shard_id == r.order_idx % _SHUF_SHARDS
            per_shard.setdefault(r.shard_id, []).append(r.pos_in_shard)
        sizes = {len(v) for v in per_shard.values()}
        assert max(sizes) - min(sizes) <= 1
        for v in per_shard.values():
            assert sorted(v) == list(range(len(v)))

    def test_distributed_path_identical(self, spark, monkeypatch):
        """Force the two-phase range-partitioned rank (the 100 TB path)
        and pin its output equal to the single-task window form."""
        from bucketizers_spark.operators import rank

        base = {(r.doc_id, r.order_idx, r.shard_id) for r in self._rows(spark)}
        monkeypatch.setattr(rank, "SINGLE_TASK_THRESHOLD", 0)
        dist = {(r.doc_id, r.order_idx, r.shard_id) for r in self._rows(spark)}
        assert dist == base


class TestMixTemperature:
    SF = "/root/testdata/sf0.001"

    def test_matches_python_replay(self, spark):
        """Independent hashlib/math replay of the tempered-threshold
        draw — same corpus, no Spark/DuckDB expressions involved."""
        import hashlib
        import math

        from bucketizers_spark.entry_queries import (
            _MIX_ALPHA,
            _MIX_BUDGET,
            q_mix_temperature,
        )

        docs = spark.read.parquet(f"{self.SF}/documents.parquet")
        corpus = [(r.doc_id, r.lang) for r in docs.select("doc_id", "lang").collect()]
        n_g = {}
        for _, lang in corpus:
            n_g[lang] = n_g.get(lang, 0) + 1
        s = sum(n ** _MIX_ALPHA for n in n_g.values())
        th = {}
        for lang, n in n_g.items():
            raw = _MIX_BUDGET * (n ** _MIX_ALPHA) / (s * n)
            th[lang] = "zz" if raw >= 1 else format(math.floor(raw * 256), "02x")
        want = {
            (d, lang)
            for d, lang in corpus
            if hashlib.md5(str(d).encode()).hexdigest()[:2] < th[lang]
        }
        got = {
            (r.doc_id, r.lang)
            for r in q_mix_temperature(spark, self.SF).collect()
        }
        assert got == want

    def test_low_resource_boost(self, spark):
        """The tempered per-language keep-rate must be monotone
        NON-INCREASING in language size — the whole point of alpha < 1."""
        from bucketizers_spark.entry_queries import q_mix_temperature

        docs = spark.read.parquet(f"{self.SF}/documents.parquet")
        tot = {r.lang: r.n for r in docs.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
        kept = {
            r.lang: r.n
            for r in q_mix_temperature(spark, self.SF)
            .groupBy("lang")
            .count()
            .withColumnRenamed("count", "n")
            .collect()
        }
        rates = sorted(
            ((tot[lang], kept.get(lang, 0) / tot[lang]) for lang in tot),
        )
        # thresholds (rate ceilings) are non-increasing in n; realized
        # rates fluctuate by the md5 draw, so compare with slack one
        # quantization step (1/256) plus sampling noise bound 0.15
        for (n1, r1), (n2, r2) in zip(rates, rates[1:]):
            if n1 < n2:
                assert r2 <= r1 + 0.15

    def test_rate_join_is_broadcast(self, spark):
        from bucketizers_spark.entry_queries import q_mix_temperature

        plan = (
            q_mix_temperature(spark, self.SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestPmiBigrams:
    def test_known_collocation_tops(self, spark, tmp_path_factory):
        """A planted always-adjacent pair must out-PMI every
        independent-word bigram, with exact counts; pmi_r4 must equal
        the closed-form recomputed in pure Python from the corpus."""
        import math
        import os

        import pandas as pd

        from bucketizers_spark.entry_queries import q_pmi_bigrams

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        d = os.path.join(root, ".scratch", "pmi_micro")
        os.makedirs(d, exist_ok=True)
        # 24 docs: "new york" always adjacent; fillers vary per doc
        rows = []
        for i in range(24):
            rows.append((i, f"f{i % 7} new york g{i % 5} h{i % 3}"))
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
            f"{d}/documents.parquet"
        )
        out = {
            (r.w1, r.w2): (r.c12, r.c1, r.c2, r.pmi_r4)
            for r in q_pmi_bigrams(spark, d).collect()
        }
        assert ("new", "york") in out
        c12, c1, c2, pmi = out[("new", "york")]
        assert (c12, c1, c2) == (24, 24, 24)
        # closed-form replay
        texts = [t for _, t in rows]
        toks = [w for t in texts for w in t.split(" ")]
        u_tot = len(toks)
        b_tot = sum(len(t.split(" ")) - 1 for t in texts)
        want = (
            math.log(24) + 2 * math.log(u_tot) - math.log(b_tot)
            - math.log(24) - math.log(24)
        )
        assert abs(pmi - round(want, 4)) < 1e-9
        assert pmi == max(v[3] for v in out.values())
        # support floor respected
        assert all(v[0] >= 5 for v in out.values())


class TestPackMaterialize:
    SF = "/root/testdata/sf0.001"

    def test_chunks_full_and_lossless(self, spark):
        """Every chunk except the last must hold exactly _PACK_L
        tokens; token totals must equal the corpus total (packing is
        lossless); content must match an independent Python replay."""
        import hashlib

        from pyspark.sql import functions as F

        from bucketizers_spark.entry_queries import (
            _PACK_L,
            q_pack_materialize,
        )

        rows = {
            r.chunk_id: (r.n_docs, r.n_tok, r.content_md5)
            for r in q_pack_materialize(spark, self.SF).collect()
        }
        n = len(rows)
        assert sorted(rows) == list(range(n))
        for cid in range(n - 1):
            assert rows[cid][1] == _PACK_L
        docs = spark.read.parquet(f"{self.SF}/documents.parquet")
        total = docs.select(
            F.sum(F.size(F.split(F.col("text"), " "))).alias("t")
        ).collect()[0].t
        assert sum(v[1] for v in rows.values()) == total
        # independent replay: concatenate in doc_id order, cut every L
        texts = [
            r.text
            for r in docs.select("doc_id", "text")
            .orderBy("doc_id")
            .collect()
        ]
        stream = " ".join(texts).split(" ")
        for cid in range(n):
            want = hashlib.md5(
                " ".join(
                    stream[cid * _PACK_L : (cid + 1) * _PACK_L]
                ).encode()
            ).hexdigest()
            assert rows[cid][2] == want


class TestSampleFixedPlan:
    def test_top_n_never_global_sorts(self, spark):
        from bucketizers_spark.entry_queries import (
            _SAMPLE_FIXED_N,
            q_sample_fixed,
        )

        df = q_sample_fixed(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        assert "Sort " not in plan  # no global sort node
        rows = df.collect()
        assert len(rows) == _SAMPLE_FIXED_N
        # monotone under growth: the sample is exactly the N smallest
        # keys, so every member's key < every non-member's key
        keys = sorted(r.sample_key for r in rows)
        assert keys == sorted(set(keys))  # unique


class TestScanProbe:
    def test_footer_probe_failure_warns_and_falls_back(self, spark, monkeypatch):
        """A failed ``_t`` row-group probe names the path and the
        exception in a warning and keeps the split-count fallback."""
        import os
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as pq

        from bucketizers_spark.entry_queries import _t

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        d = os.path.join(root, ".scratch", "t_probe")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        # a single parquet FILE: directory inputs skip the probe
        path = f"{d}/tbl.parquet"
        pq.write_table(pa.table({"id": list(range(5))}), path)

        def broken(*args, **kwargs):
            raise OSError("footer unreadable")

        monkeypatch.setattr(pq, "ParquetFile", broken)
        with pytest.warns(RuntimeWarning, match="footer unreadable") as rec:
            df = _t(spark, d, "tbl")
        assert path in str(rec[0].message)
        assert sorted(r.id for r in df.collect()) == list(range(5))
