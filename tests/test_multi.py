"""Multi-composition children (S5): per-parent child instances must equal
running the base operator independently on each parent's members, with
child ids parent-prefixed and child roots collapsed onto the parent
(MultiBucketizer.ts:46-162, mapTerm :123-141)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bucketizers_spark.operators.multi import (
    subject_within_parent,
    trie_within_parent,
)
from bucketizers_spark.operators.subject_page import subject_page
from bucketizers_spark.operators.substring import substring_trie
from bucketizers_spark.pipeline import build


@pytest.fixture(scope="module")
def parented(spark):
    import random

    rng = random.Random(7)
    names = ["john doe", "jane doe", "johan", "mia", "amelia", "amy",
             "bob", "bobby", "rob", "alice", "al", ""]
    rows = [
        (
            i,
            f"P{i % 2}",
            f"http://example.org/u/{rng.randrange(6)}",
            rng.choice(names),
        )
        for i in range(120)
    ]
    return spark.createDataFrame(
        rows, "seq long, parent string, subj string, name string"
    )


def _map_root(parent: str, b: str) -> str:
    if b == "root":
        return parent
    return f"{parent}/{b}"


class TestSubjectWithinParent:
    def test_matches_per_parent_base_operator(self, spark, parented):
        res = subject_within_parent(
            parented, "parent", "subj", salt="s0", max_relations=2
        )
        got_assign = {
            (r.seq, r.bucket_id) for r in res.assignments.collect()
        }
        got_rels = {
            (r.from_bucket, r.relation_type, r.to_bucket, r.created_at_seq)
            for r in res.relations.collect()
        }
        got_seals = {
            (r.bucket_id, r.sealed_at_seq) for r in res.seals.collect()
        }

        want_assign, want_rels, want_seals = set(), set(), set()
        for parent in ["P0", "P1"]:
            sub = parented.where(F.col("parent") == parent)
            base = subject_page(sub, "subj", salt="s0", max_relations=2)
            for r in base.assignments.collect():
                want_assign.add((r.seq, f"{parent}/{r.bucket_id}"))
            for r in base.relations.collect():
                want_rels.add(
                    (
                        _map_root(parent, r.from_bucket),
                        r.relation_type,
                        r.to_bucket
                        if r.relation_type != "EqualThan"
                        else f"{parent}/{r.to_bucket}",
                        r.created_at_seq,
                    )
                    if r.relation_type == "EqualThan"
                    else (
                        _map_root(parent, r.from_bucket),
                        r.relation_type,
                        _map_root(parent, r.to_bucket),
                        r.created_at_seq,
                    )
                )
            for r in base.seals.collect():
                want_seals.add((_map_root(parent, r.bucket_id), r.sealed_at_seq))
        assert got_assign == want_assign
        assert got_rels == want_rels
        assert got_seals == want_seals


class TestTrieWithinParent:
    def test_matches_per_parent_base_operator(self, spark, parented):
        res = trie_within_parent(
            parented, "parent", "name", page_size=2, max_depth=16, seq_col="seq"
        )
        got_assign = {(r.seq, r.bucket_id) for r in res.assignments.collect()}
        got_rels = {
            (r.from_bucket, r.to_bucket, r.created_at_seq)
            for r in res.relations.collect()
        }

        want_assign, want_rels = set(), set()
        for parent in ["P0", "P1"]:
            sub = parented.where(F.col("parent") == parent)
            base = substring_trie(sub, "name", page_size=2, max_depth=16,
                                  seq_col="seq")
            for r in base.assignments.collect():
                b = (
                    None
                    if r.bucket_id is None
                    else _map_root(parent, r.bucket_id)
                )
                want_assign.add((r.seq, b))
            for r in base.relations.collect():
                want_rels.add(
                    (
                        _map_root(parent, r.from_bucket),
                        f"{parent}/{r.to_bucket}",
                        r.created_at_seq,
                    )
                )
        assert got_assign == want_assign
        assert got_rels == want_rels

    @staticmethod
    def _collect(res):
        assign = {(r.seq, r.bucket_id) for r in res.assignments.collect()}
        rels = {
            (r.from_bucket, r.to_bucket, r.created_at_seq)
            for r in res.relations.collect()
        }
        return assign, rels

    @pytest.mark.parametrize("salt_buckets,tail", [(0, 100_000), (4, 0), (4, 30)])
    def test_cascade_equals_walk(self, spark, parented, salt_buckets, tail):
        """The distributed (parent, node)-keyed cascade is semantically
        identical to the per-parent reference walk — default and explicit
        salt counts, and the grouped finisher handoff all covered."""
        walk = trie_within_parent(
            parented, "parent", "name", page_size=2, max_depth=16,
            seq_col="seq", strategy="walk",
        )
        casc = trie_within_parent(
            parented, "parent", "name", page_size=2, max_depth=16,
            seq_col="seq", strategy="cascade",
            salt_buckets=salt_buckets, tail_threshold=tail,
        )
        assert self._collect(casc) == self._collect(walk)

    def test_cascade_never_walks_a_parent_in_one_task(
        self, spark, parented, monkeypatch
    ):
        """Giant-parent scale pin: with the finisher disabled the cascade
        must place every row through JVM salted-aggregate levels — no pandas
        group ever receives a parent's subtree (the walk path's failure
        mode for a low-cardinality parent column over 10^12 rows)."""
        from bucketizers_spark.operators import substring as sub_mod

        def boom(*a, **k):  # pragma: no cover - failure path
            raise AssertionError("grouped walk invoked on the cascade path")

        monkeypatch.setattr(sub_mod, "_grouped_walk", boom)
        res = trie_within_parent(
            parented, "parent", "name", page_size=2, max_depth=16,
            seq_col="seq", strategy="cascade", tail_threshold=0,
        )
        assert res.assignments.count() == 120

    def test_auto_routes_giant_parents_to_cascade(self, spark, parented):
        """auto must switch to the cascade once any parent exceeds the walk
        threshold, with identical output."""
        walk = trie_within_parent(
            parented, "parent", "name", page_size=2, max_depth=16,
            seq_col="seq", strategy="walk",
        )
        auto = trie_within_parent(
            parented, "parent", "name", page_size=2, max_depth=16,
            seq_col="seq", strategy="auto", walk_rows_threshold=10,
        )
        assert self._collect(auto) == self._collect(walk)


class TestFactoryMulti:
    def test_basic_then_subject(self, spark, parented):
        spec = {
            "strategy": "multi",
            "configs": [
                {"strategy": "basic", "page_size": 30},
                {
                    "strategy": "subject",
                    "column": "subj",
                    "max_relations": 3,
                },
            ],
        }
        res = build(parented, spec)
        rows = res.assignments.collect()
        assert len(rows) == 120
        # every bucket is page/childbucket with the child suffix -s0
        for r in rows:
            page, child = r.bucket_id.split("/", 1)
            assert page in {"0", "1", "2", "3"}
            assert child.endswith("-s0")
        assert res.relations.count() > 0

    def test_basic_then_substring(self, spark, parented):
        spec = {
            "strategy": "multi",
            "configs": [
                {"strategy": "basic", "page_size": 60},
                {"strategy": "substring", "column": "name", "page_size": 3},
            ],
        }
        res = build(parented, spec)
        rows = res.assignments.collect()
        assert len(rows) == 120
        prefixes = {r.bucket_id.split("/", 1)[0] for r in rows if r.bucket_id}
        assert prefixes == {"0", "1"}


@pytest.fixture(scope="module")
def geo_parented(spark):
    import random

    rng = random.Random(11)
    rows = []
    for i in range(150):
        if i % 6 == 1:
            wkt = "not-a-geom"
        else:
            lon = rng.choice([-170, -50, 3, 44])
            lat = rng.choice([-40, 10, 52])
            wkt = f"POINT ({lon} {lat})"
        rows.append((i, f"G{i % 2}", wkt, f"2024-01-01 {i % 24:02d}:30:00"))
    df = spark.createDataFrame(
        rows, "seq long, parent string, geom string, ts_s string"
    )
    from pyspark.sql import functions as F

    return df.withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")


class TestGeoWithinParent:
    def test_matches_per_parent_base_operator(self, spark, geo_parented):
        from bucketizers_spark.operators.basic import fallback_pager
        from bucketizers_spark.operators.geospatial import geospatial_tiles
        from bucketizers_spark.operators.multi import geo_within_parent

        res = geo_within_parent(
            geo_parented, "parent", "geom", zoom=4, page_size=5
        )
        got_assign = {(r.seq, r.bucket_id) for r in res.assignments.collect()}
        got_rels = {
            (r.from_bucket, r.relation_type, r.to_bucket, r.created_at_seq)
            for r in res.relations.collect()
        }

        from pyspark.sql import functions as F

        want_assign, want_rels = set(), set()
        for parent in ["G0", "G1"]:
            sub = geo_parented.where(F.col("parent") == parent)
            base = geospatial_tiles(sub, "geom", zoom=4, page_size=5)
            fb = fallback_pager(base.unmatched, page_size=5)
            for r in base.assignments.collect():
                want_assign.add((r.seq, f"{parent}/{r.bucket_id}"))
            for r in fb.assignments.collect():
                want_assign.add((r.seq, f"{parent}/{r.bucket_id}"))
            for r in base.relations.collect():
                want_rels.add(
                    (
                        _map_root(parent, r.from_bucket),
                        r.relation_type,
                        f"{parent}/{r.to_bucket}",
                        r.created_at_seq,
                    )
                )
            for r in fb.relations.collect():
                want_rels.add(
                    (
                        _map_root(parent, r.from_bucket),
                        r.relation_type,
                        f"{parent}/{r.to_bucket}",
                        r.created_at_seq,
                    )
                )
        assert got_assign == want_assign
        assert got_rels == want_rels

    def test_factory_subject_then_geo(self, spark, geo_parented):
        spec = {
            "strategy": "multi",
            "configs": [
                {"strategy": "basic", "page_size": 80},
                {
                    "strategy": "geospatial",
                    "column": "geom",
                    "zoom": 4,
                    "page_size": 5,
                },
            ],
        }
        res = build(geo_parented, spec)
        rows = res.assignments.collect()
        assert len(rows) == 150
        pages = {r.bucket_id.split("/", 1)[0] for r in rows}
        assert pages == {"0", "1"}
        assert any("/bucketless-" in r.bucket_id for r in rows)


class TestTimeWithinParent:
    def test_matches_per_parent_base_operator(self, spark, geo_parented):
        from bucketizers_spark.operators.multi import time_within_parent
        from bucketizers_spark.operators.time_window import tumbling_bucketizer

        res = time_within_parent(geo_parented, "parent", "ts", duration="1 hour")
        got_assign = {(r.seq, r.bucket_id) for r in res.assignments.collect()}
        got_rels = {
            (r.from_bucket, r.to_bucket) for r in res.relations.collect()
        }
        got_seals = {r.bucket_id for r in res.seals.collect()}

        from pyspark.sql import functions as F

        want_assign, want_rels, want_seals = set(), set(), set()
        for parent in ["G0", "G1"]:
            sub = geo_parented.where(F.col("parent") == parent)
            base = tumbling_bucketizer(sub, "ts", "1 hour")
            for r in base.assignments.collect():
                want_assign.add((r.seq, f"{parent}/{r.bucket_id}"))
            for r in base.relations.collect():
                want_rels.add(
                    (f"{parent}/{r.from_bucket}", f"{parent}/{r.to_bucket}")
                )
            for r in base.seals.collect():
                want_seals.add(f"{parent}/{r.bucket_id}")
        assert got_assign == want_assign
        assert got_rels == want_rels
        assert got_seals == want_seals

    def test_factory_session_child_rejected(self, spark, geo_parented):
        spec = {
            "strategy": "multi",
            "configs": [
                {"strategy": "basic", "page_size": 80},
                {
                    "strategy": "time",
                    "column": "ts",
                    "window": {"kind": "session", "gap": "30 minutes"},
                },
            ],
        }
        with pytest.raises(NotImplementedError, match="session"):
            build(geo_parented, spec).assignments.count()
