"""Lineage-cut seam: reliable checkpoint in production, local in tests.

Iterative operators (connected components, the trie cascade, the
two-phase rank) and multi-consumer frames need their lineage truncated —
without a cut, each round's plan nests the previous round's
(exponential analysis cost) or a second consumer re-derives the whole
upstream pipeline.

``localCheckpoint`` is the right cut on a single host (no HDFS round
trip), but its blocks are NON-REPLICATED executor-local state: on a
multi-executor cluster, losing one executor makes the frame
unrecoverable — Spark cannot recompute a truncated lineage — and the
query fails. Production runs therefore configure a reliable checkpoint
directory (``spark.sparkContext.setCheckpointDir(...)`` to HDFS/S3),
and every engine lineage cut automatically upgrades to the
fault-tolerant ``checkpoint()`` through this seam. The sandbox leaves
the dir unset and gets the fast local path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def cut_lineage(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Truncate ``df``'s lineage: ``checkpoint()`` when a reliable
    checkpoint dir is configured on the SparkContext, else
    ``localCheckpoint()``."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def cut_lineage_counted(
    df: DataFrame, where: Column | None = None
) -> tuple[DataFrame, int]:
    """Eager ``cut_lineage`` that also returns the number of rows (those
    matching ``where``, when given) observed by the cut's own job — the
    count costs no second execution of ``df``'s plan."""
    obs = Observation()
    n = F.count(F.lit(1)) if where is None else F.count(F.when(where, 1))
    cut = cut_lineage(df.observe(obs, n.alias("n")))
    return cut, obs.get["n"]
