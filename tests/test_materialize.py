"""cut_lineage seam: reliable checkpoint() when the context has a
checkpoint dir (production), localCheckpoint() otherwise (sandbox).
Dispatch is pinned with a stub frame so the test cannot pollute the
shared SparkContext with a sticky checkpoint dir; the localCheckpoint
path itself runs under every iterative-operator test in the suite."""

from __future__ import annotations

from types import SimpleNamespace

from bucketizers_spark.plans.materialize import cut_lineage


class _StubDF:
    def __init__(self, ckpt_dir):
        self.calls = []
        sc = SimpleNamespace(getCheckpointDir=lambda: ckpt_dir)
        self.sparkSession = SimpleNamespace(sparkContext=sc)

    def checkpoint(self, eager=True):
        self.calls.append(("checkpoint", eager))
        return self

    def localCheckpoint(self, eager=True):
        self.calls.append(("localCheckpoint", eager))
        return self


def test_reliable_when_dir_configured():
    df = _StubDF("hdfs://nn/checkpoints")
    assert cut_lineage(df) is df
    assert df.calls == [("checkpoint", True)]
    df2 = _StubDF("hdfs://nn/checkpoints")
    cut_lineage(df2, eager=False)
    assert df2.calls == [("checkpoint", False)]


def test_local_when_no_dir():
    df = _StubDF(None)
    assert cut_lineage(df) is df
    assert df.calls == [("localCheckpoint", True)]
    df2 = _StubDF(None)
    cut_lineage(df2, eager=False)
    assert df2.calls == [("localCheckpoint", False)]


def _run_with_checkpoint_dir(ckpt, body: str) -> str:
    """Run ``body`` in a SUBPROCESS Spark session whose context has the
    reliable checkpoint dir ``ckpt`` — setCheckpointDir is sticky and
    would otherwise leak into the shared fixture. Returns the output."""
    import os
    import subprocess
    import sys
    import textwrap

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    prelude = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {root!r})
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.ui.enabled", "false").getOrCreate())
        spark.sparkContext.setCheckpointDir({str(ckpt)!r})
        """
    )
    r = subprocess.run(
        [sys.executable, "-c", prelude + textwrap.dedent(body)],
        capture_output=True, text=True, timeout=300,
    )
    return r.stdout + r.stderr


def test_reliable_checkpoint_path_runs_for_real(tmp_path):
    """The checkpoint() branch executes against a real SparkContext.
    Runs an actual iterative operator (connected_components) under a
    configured checkpoint dir and asserts both the result and that
    reliable checkpoint data landed in the dir."""
    ckpt = tmp_path / "ckpt"
    out = _run_with_checkpoint_dir(
        ckpt,
        f"""
        from bucketizers_spark.operators.graph import connected_components
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
        )
        comps = connected_components(edges)
        got = sorted((r[0], r[1]) for r in comps.collect())
        assert got == [("a", "a"), ("b", "a"), ("c", "a"),
                       ("x", "x"), ("y", "x")], got
        import glob
        files = glob.glob({str(ckpt)!r} + "/*/rdd-*")
        assert files, "no reliable checkpoint data written"
        print("SUBPROCESS_OK", len(files))
        """,
    )
    assert "SUBPROCESS_OK" in out, out


def test_counted_cut_observes_under_reliable_checkpoint(tmp_path):
    """The reliable checkpoint() writes the frame in a second job; the
    observed count must still be the frame's row count, once."""
    out = _run_with_checkpoint_dir(
        tmp_path / "ckpt",
        """
        from pyspark.sql import functions as F
        from bucketizers_spark.plans.materialize import cut_lineage_counted
        df = spark.range(100).groupBy((F.col("id") % 7).alias("g")).count()
        cut, n = cut_lineage_counted(df)
        assert (n, cut.count()) == (7, 7), n
        _, n = cut_lineage_counted(df, F.col("g") > 2)
        assert n == 4, n
        _, n = cut_lineage_counted(df.where("g < 0"))
        assert n == 0, n
        print("SUBPROCESS_OK")
        """,
    )
    assert "SUBPROCESS_OK" in out, out


def test_counted_cut_matches_count(spark):
    """localCheckpoint path: the count observed by the cut's own job
    equals count() — filtered, unfiltered, empty and zero-partition."""
    from pyspark.sql import functions as F

    from bucketizers_spark.plans.materialize import cut_lineage_counted

    df = spark.range(500).groupBy((F.col("id") % 37).alias("g")).count()
    cut, n = cut_lineage_counted(df)
    assert n == cut.count() == 37
    _, n = cut_lineage_counted(df, F.col("g") >= 30)
    assert n == 7
    _, n = cut_lineage_counted(df.where("g < 0"))
    assert n == 0
    _, n = cut_lineage_counted(spark.createDataFrame([], "a long"))
    assert n == 0
