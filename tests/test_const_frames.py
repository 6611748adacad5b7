"""Frames built on the driver start no Python worker.

Operators build small constant frames (empty relations/seals, the
streaming trie's root counter row, the empty counter fallback) on every
micro-batch, and frames of collected data (the small-graph union-find
labels, the k-means centroids). ``spark.createDataFrame(<list>)`` would
plan them as a scan over a ``PythonRDD``, forking a second pool of
PySpark workers just to unpickle the rows; these tests pin that no such
frame's RDD lineage reaches a ``PythonRDD``, that no ``createDataFrame``
over a Python list comes back into the package, and that kernel
workers are forked by the engine's preloading daemon.
"""

from __future__ import annotations

import ast
import os
import shutil
import uuid
from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

import bucketizers_spark
from bucketizers_spark.operators import graph, ivf
from bucketizers_spark.operators.core import (
    RELATIONS_SCHEMA,
    SEALS_SCHEMA,
    arrow_frame,
    const_frame,
    empty_relations,
    empty_seals,
)
from bucketizers_spark.operators.substring import (
    COUNTER_SCHEMA,
    ROOT_COUNTER_KEY,
    token_prefix_trie,
)
from bucketizers_spark.sources.stream import stage_chunks
from bucketizers_spark.sources.synthetic import token_stream_pdf

SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)
ARROW = "spark.sql.execution.arrow.pyspark.enabled"


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


@pytest.fixture()
def workdir():
    d = os.path.join(SCRATCH, f"c_{uuid.uuid4().hex[:8]}")
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(params=["true", "false"], ids=["arrow", "no_arrow"])
def arrow(spark, request):
    old = spark.conf.get(ARROW)
    spark.conf.set(ARROW, request.param)
    yield request.param
    spark.conf.set(ARROW, old)


class TestConstFrame:
    def test_list_literal_plans_python_rdd(self, spark, arrow):
        # the probe below is not vacuous: the replaced form does hit it
        df = spark.createDataFrame([("root", 7)], COUNTER_SCHEMA)
        assert "PythonRDD" in _lineage(df)

    def test_helper_plans_no_python_rdd(self, spark, arrow):
        one = const_frame(spark, COUNTER_SCHEMA, ("root", 7))
        none = const_frame(spark, COUNTER_SCHEMA)
        rel = const_frame(spark, RELATIONS_SCHEMA, ("a", "child", "b", ["x"], None, 3))
        for df in (one, none, rel):
            assert "PythonRDD" not in _lineage(df)
        assert one.collect() == [Row(node="root", cnt=7)]
        assert none.collect() == []
        assert none.schema == COUNTER_SCHEMA
        assert rel.collect() == [Row("a", "child", "b", ["x"], None, 3)]
        assert [f.dataType for f in rel.schema] == [
            f.dataType for f in RELATIONS_SCHEMA
        ]
        assert rel.columns == RELATIONS_SCHEMA.names

    def test_empty_frames_match_schemas(self, spark, arrow):
        for df, schema in (
            (empty_relations(spark), RELATIONS_SCHEMA),
            (empty_seals(spark), SEALS_SCHEMA),
        ):
            assert df.schema == schema
            assert "PythonRDD" not in _lineage(df)
            assert df.collect() == []


class TestTrieCounterUpdatesPlan:
    def test_counter_updates_stay_on_jvm(self, spark, workdir):
        """A streaming token_prefix_trie's counter updates (root row plus
        the per-level rows) plan without a PythonRDD for a fresh root, a
        carried part-filled root, and an empty batch on fresh state (the
        empty-updates fallback)."""
        src = os.path.join(workdir, "in")
        stage_chunks(token_stream_pdf(300, seed=3), src, n_chunks=1)
        df = spark.read.parquet(src)
        kw = dict(
            page_size=20,
            max_depth=4,
            emit_counter_updates=True,
            salt_buckets=8,
            tail_threshold=0,
        )

        def root_cnt(updates):
            counters = {r.node: r.cnt for r in updates.collect()}
            return counters.get(ROOT_COUNTER_KEY)

        fresh = token_prefix_trie(df.where("seq < 10"), **kw).counter_updates
        assert "PythonRDD" not in _lineage(fresh)
        assert root_cnt(fresh) == 10
        state_path = os.path.join(workdir, "state")
        fresh.write.parquet(state_path)

        carried = token_prefix_trie(
            df.where("seq >= 10"), node_state=spark.read.parquet(state_path), **kw
        ).counter_updates
        assert "PythonRDD" not in _lineage(carried)
        assert root_cnt(carried) == 20

        empty = token_prefix_trie(df.where("seq < 0"), **kw).counter_updates
        assert "PythonRDD" not in _lineage(empty)
        assert empty.collect() == []
        assert empty.schema == COUNTER_SCHEMA


class TestDriverDataFrames:
    """Frames of data collected to the driver go through ``arrow_frame``:
    a ``LocalTableScan``, empty or not, with Arrow on or off, holding the
    same rows and schema the replaced list form did."""

    @staticmethod
    def _capture(monkeypatch, module):
        seen = []

        def spy(spark, schema, columns):
            seen.append((schema, [list(c) for c in columns]))
            return arrow_frame(spark, schema, columns)

        monkeypatch.setattr(module, "arrow_frame", spy)
        return seen

    @staticmethod
    def _list_form(spark, schema, columns):
        return spark.createDataFrame(list(zip(*columns)), schema)

    @pytest.mark.parametrize("edges", [[], [(2, 1), (3, 2), (10, 11), (5, 5)]])
    def test_union_find_labels(self, spark, arrow, monkeypatch, edges):
        seen = self._capture(monkeypatch, graph)
        e = spark.createDataFrame(edges, "src long, dst long")
        labels = graph.connected_components(e)
        assert "PythonRDD" not in _lineage(labels)
        [(schema, columns)] = seen
        want = self._list_form(spark, schema, columns)
        assert labels.schema == want.schema
        assert sorted(labels.collect()) == sorted(want.collect())
        got = {r.node: r.component for r in labels.collect()}
        assert got == ({1: 1, 2: 1, 3: 1, 10: 10, 11: 10} if edges else {})

    def test_union_find_labels_with_isolated_nodes(self, spark, arrow):
        e = spark.createDataFrame([], "src long, dst long")
        nodes = spark.range(3).select(F.col("id").alias("node"))
        labels = graph.connected_components(e, nodes=nodes)
        assert "PythonRDD" not in _lineage(labels)
        assert sorted(labels.collect()) == [Row(i, i) for i in range(3)]

    def test_kmeans_centroids(self, spark, arrow, monkeypatch):
        seen = self._capture(monkeypatch, ivf)
        emb = spark.range(40).select(
            F.col("id").alias("vec_id"),
            F.array(
                F.sin(F.col("id")), F.cos(F.col("id") * 3), F.lit(1.0) / (F.col("id") + 3)
            ).alias("embedding"),
        )
        cents = ivf.kmeans_centroids(emb, 4)
        assert "PythonRDD" not in _lineage(cents)
        [(schema, columns)] = seen
        assert schema.simpleString() == "struct<c_id:bigint,ce:array<double>>"
        want = self._list_form(spark, schema, columns)
        assert cents.schema == want.schema
        got = cents.collect()
        assert got == want.collect()
        assert [r.c_id for r in got] == [0, 1, 2, 3]
        # the doubles cross unrounded
        assert [list(r.ce) for r in got] == columns[1]


def test_kernel_workers_fork_from_preloading_daemon(spark):
    """A mapInPandas kernel runs in a worker whose parent is the engine's
    daemon module, and inherits the daemon's frozen (preloaded) objects."""

    def probe(batches):
        import gc
        import os

        import pandas as pd

        for _ in batches:
            pass
        with open(f"/proc/{os.getppid()}/cmdline", "rb") as fh:
            cmd = fh.read().replace(b"\0", b" ").decode()
        yield pd.DataFrame({"cmd": [cmd], "frozen": [gc.get_freeze_count()]})

    (row,) = spark.range(1, numPartitions=1).mapInPandas(
        probe, "cmd string, frozen long"
    ).collect()
    assert "-m bucketizers_spark.plans.pydaemon" in row.cmd
    assert row.frozen > 0


def test_no_create_dataframe_over_list_literal():
    """``createDataFrame`` over a Python list — a literal, a list or
    generator comprehension, or ``list(...)`` — plans over a PythonRDD;
    constant frames go through ``operators.core.const_frame`` and
    collected data through ``operators.core.arrow_frame`` instead."""
    pkg = Path(bucketizers_spark.__file__).parent
    found = []
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and node.args
                and _is_python_list(node.args[0])
            ):
                found.append(f"{path.relative_to(pkg.parent)}:{node.lineno}")
    assert not found, f"createDataFrame over a Python list at {found}"


def _is_python_list(node) -> bool:
    return isinstance(node, (ast.List, ast.ListComp, ast.GeneratorExp)) or (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "list"
    )


def test_python_list_guard_flags_each_form():
    """The guard above is not vacuous: each form it names is flagged, and
    ``arrow_frame``'s table argument is not."""
    flagged = [
        "spark.createDataFrame([(1,)], s)",
        "spark.createDataFrame([(n,) for n in xs], s)",
        "spark.createDataFrame(((n,) for n in xs), s)",
        "spark.createDataFrame(list(rows), s)",
    ]
    for src in flagged:
        assert _is_python_list(ast.parse(src, mode="eval").body.args[0]), src
    ok = ast.parse("spark.createDataFrame(pa.table(d), s)", mode="eval")
    assert not _is_python_list(ok.body.args[0])
