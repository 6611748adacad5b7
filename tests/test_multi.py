"""Multi-composition children (S5): an operator keyed by ``parent_col``
must equal running the base operator independently on each parent's
members, with child ids parent-prefixed and child roots collapsed onto
the parent (MultiBucketizer.ts:46-162, mapTerm :123-141)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bucketizers_spark.operators.subject_page import subject_page
from bucketizers_spark.operators.substring import substring_trie
from bucketizers_spark.pipeline import build

# jobs a per-parent trie over the ``parented`` fixture starts, built and
# collected (TestTrieWithinParent::test_starts_pinned_jobs)
PER_PARENT_TRIE_JOBS = 7


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
        res = subject_page(
            parented, "subj", salt="s0", max_relations=2, parent_col="parent"
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


def _per_parent_trie(parented, **kw):
    """The reference per-parent child trie: ``substring_trie`` run on each
    parent's members alone, ids mapped ``parent/node`` and the child root
    collapsed onto the parent."""
    want_assign, want_rels = set(), set()
    for parent in ["P0", "P1"]:
        sub = parented.where(F.col("parent") == parent)
        base = substring_trie(sub, "name", seq_col="seq", **kw)
        for r in base.assignments.collect():
            b = None if r.bucket_id is None else _map_root(parent, r.bucket_id)
            want_assign.add((r.seq, b))
        for r in base.relations.collect():
            want_rels.add(
                (
                    _map_root(parent, r.from_bucket),
                    f"{parent}/{r.to_bucket}",
                    r.created_at_seq,
                )
            )
    return want_assign, want_rels


class TestTrieWithinParent:
    @staticmethod
    def _collect(res):
        assign = {(r.seq, r.bucket_id) for r in res.assignments.collect()}
        rels = {
            (r.from_bucket, r.to_bucket, r.created_at_seq)
            for r in res.relations.collect()
        }
        return assign, rels

    def test_matches_per_parent_base_operator(self, spark, parented):
        res = substring_trie(
            parented, "name", page_size=2, max_depth=16, seq_col="seq",
            parent_col="parent",
        )
        assert self._collect(res) == _per_parent_trie(
            parented, page_size=2, max_depth=16
        )

    @pytest.mark.parametrize("salt_buckets,tail", [(0, 100_000), (4, 0), (4, 30)])
    def test_cascade_equals_walk(
        self, spark, parented, salt_buckets, tail, monkeypatch
    ):
        """The per-parent cascade equals the per-parent base operator with
        every level distributed (tail 0), with the grouped walk taking over
        after the salted per-parent root (tail 30 of 120 rows), and with
        the whole input walked from the parent roots (tail >= rows)."""
        from bucketizers_spark.operators import substring as sub_mod

        levels = []
        walk = sub_mod._grouped_walk

        def spy(remaining, chain, **kw):
            levels.append(kw["level"])
            return walk(remaining, chain, **kw)

        monkeypatch.setattr(sub_mod, "_grouped_walk", spy)
        casc = substring_trie(
            parented, "name", page_size=2, max_depth=16, seq_col="seq",
            salt_buckets=salt_buckets, tail_threshold=tail, parent_col="parent",
        )
        got = self._collect(casc)
        want_levels = {100_000: [0], 0: []}.get(tail)
        if want_levels is None:
            assert len(levels) == 1 and levels[0] >= 1, levels
        else:
            assert levels == want_levels
        monkeypatch.undo()
        assert got == _per_parent_trie(parented, page_size=2, max_depth=16)

    def test_cascade_never_walks_a_parent_in_one_task(
        self, spark, parented, monkeypatch
    ):
        """Giant-parent scale pin: with the finisher disabled the cascade
        must place every row through JVM salted-aggregate levels — no pandas
        group ever receives a parent's subtree (what a per-parent walk
        would do to a low-cardinality parent column over 10^12 rows)."""
        from bucketizers_spark.operators import substring as sub_mod

        def boom(*a, **k):  # pragma: no cover - failure path
            raise AssertionError("grouped walk invoked on the cascade path")

        monkeypatch.setattr(sub_mod, "_grouped_walk", boom)
        res = substring_trie(
            parented, "name", page_size=2, max_depth=16, seq_col="seq",
            tail_threshold=0, parent_col="parent",
        )
        assert res.assignments.count() == 120

    def test_starts_pinned_jobs(self, spark, parented, jobs_of):
        """Building the per-parent trie over the fixture and collecting its
        assignments starts a pinned number of jobs: the working set's
        counted cut, the level-0 walk's cut and the action. An eager
        per-parent size probe before the trie would add jobs."""
        rows, n = jobs_of(
            lambda: substring_trie(
                parented, "name", page_size=2, max_depth=16, seq_col="seq",
                parent_col="parent",
            ).assignments.collect()
        )
        assert len(rows) == 120
        assert n == PER_PARENT_TRIE_JOBS, n


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

    def test_substring_child_honours_salt_buckets(
        self, spark, parented, monkeypatch
    ):
        """A child spec reaches its operator whole: the substring child's
        ``salt_buckets`` is passed to the cascade keyed by the parent."""
        from bucketizers_spark.operators import substring as sub_mod

        calls = []
        cascade = sub_mod._run_cascade

        def spy(df, chain, **kw):
            calls.append(kw)
            return cascade(df, chain, **kw)

        monkeypatch.setattr(sub_mod, "_run_cascade", spy)
        spec = {
            "strategy": "multi",
            "configs": [
                {"strategy": "basic", "page_size": 60},
                {
                    "strategy": "substring",
                    "column": "name",
                    "page_size": 3,
                    "salt_buckets": 4,
                },
            ],
        }
        build(parented, spec)
        assert [(kw["parent_col"], kw["salt_buckets"]) for kw in calls] == [
            ("_p0", 4)
        ]


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
        # the geo child is the stage-0 geo builder keyed by the parent:
        # geospatial_tiles plus fallback_pager over its unmatched rows
        res = build(
            geo_parented,
            {"strategy": "geospatial", "column": "geom", "zoom": 4, "page_size": 5},
            parent_col="parent",
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
        from bucketizers_spark.operators.time_window import tumbling_bucketizer

        res = tumbling_bucketizer(geo_parented, "ts", "1 hour", parent_col="parent")
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

    def test_sliding_matches_per_parent_base_operator(self, spark, geo_parented):
        from bucketizers_spark.operators.time_window import sliding_bucketizer

        res = sliding_bucketizer(
            geo_parented, "ts", "2 hours", "1 hour", parent_col="parent"
        )
        got = {(r.seq, r.bucket_id) for r in res.assignments.collect()}

        want = set()
        for parent in ["G0", "G1"]:
            sub = geo_parented.where(F.col("parent") == parent)
            base = sliding_bucketizer(sub, "ts", "2 hours", "1 hour")
            want |= {
                (r.seq, f"{parent}/{r.bucket_id}")
                for r in base.assignments.collect()
            }
        assert got == want
        # every member lies in duration/slide = 2 windows
        assert len(got) == 2 * geo_parented.count()
        assert res.relations.count() == 0
        assert res.seals.count() == 0

    def test_factory_sliding_child_without_slide_has_no_relations(
        self, spark, geo_parented
    ):
        """A sliding child with no ``slide`` behaves like a sliding stage
        0: assignments only — no boundary chain, no seals."""
        basic = {"strategy": "basic", "page_size": 80}
        spec = {
            "strategy": "multi",
            "configs": [
                basic,
                {
                    "strategy": "time",
                    "column": "ts",
                    "window": {"kind": "sliding", "duration": "1 hour"},
                },
            ],
        }
        res = build(geo_parented, spec)
        assert res.assignments.count() == 150

        def rels(r):
            return sorted(tuple(x) for x in r.relations.collect())

        assert rels(res) == rels(build(geo_parented, basic))
        assert res.seals.count() == 0

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


def _formatted_plan(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize(
    "name,exchanges,windows",
    [
        ("multi_subject_basic", 2, 1),
        ("multi_subject_rotation", 6, 2),
        ("multi_geo_pager", 4, 2),
        ("multi_time_window", 1, 0),
    ],
)
def test_multi_query_plan_shape(spark, name, exchanges, windows):
    """Plan-shape pin of the multi queries' final plans at sf0.001: their
    Exchange nodes (a BroadcastExchange counts, as tools/explain_plans.py
    counts them) and Window nodes. A child keyed by its parent must not
    shuffle or window more than the query's composition needs."""
    from bucketizers_spark.entry_queries import QUERIES

    plan = _formatted_plan(QUERIES[name](spark, "/root/testdata/sf0.001"))
    got = (plan.count("Exchange ("), plan.count("Window ("))
    assert got == (exchanges, windows), plan
