"""Constant frames stay on the JVM.

Operators build small constant frames (empty relations/seals, the
streaming trie's root counter row, the empty counter fallback) on every
micro-batch. ``spark.createDataFrame(<list>)`` would plan them as a scan
over a ``PythonRDD``, forking PySpark workers each batch; these tests pin
that no such frame's RDD lineage reaches a ``PythonRDD``, and that no
``createDataFrame`` over a list literal comes back into the package.
"""

from __future__ import annotations

import ast
import os
import shutil
import uuid
from pathlib import Path

import pytest
from pyspark.sql import Row

import bucketizers_spark
from bucketizers_spark.operators.core import (
    RELATIONS_SCHEMA,
    SEALS_SCHEMA,
    const_frame,
    empty_relations,
    empty_seals,
)
from bucketizers_spark.operators.substring import COUNTER_SCHEMA, token_prefix_trie
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
            return {r.node: r.cnt for r in updates.collect()}.get("root")

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


def test_no_create_dataframe_over_list_literal():
    """``createDataFrame([...])`` plans over a PythonRDD; constant frames
    go through ``operators.core.const_frame`` instead."""
    pkg = Path(bucketizers_spark.__file__).parent
    found = []
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and node.args
                and isinstance(node.args[0], ast.List)
            ):
                found.append(f"{path.relative_to(pkg.parent)}:{node.lineno}")
    assert not found, f"createDataFrame over a list literal at {found}"
