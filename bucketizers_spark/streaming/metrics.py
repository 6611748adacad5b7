"""Per-batch metrics + lineage (north_rule: "resumable from checkpoint with
per-partition lineage + metrics").

Two complementary records:
- ``QueryMetricsListener``: a StreamingQueryListener appending each
  micro-batch's progress JSON (rows/sec, batch duration, state rows,
  watermark) to ``<dir>/metrics.jsonl`` — the operational metrics feed.
  ``codegenCompiles`` is the number of classes the JVM compiled since
  the listener's previous event: 0 on a steady batch, whose plans are
  all held in the codegen cache (plans/session.py).
- the sink manifests (sinks/idempotent.py) already record per-batch row
  counts and seq ranges; ``partition_lineage`` below adds the per-partition
  breakdown (partition id → row count + seq range) computed inside the
  batch, which is the audit trail that lets a resumed job prove which
  input slices landed where.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from bucketizers_spark.plans.session import codegen_compile_count


class QueryMetricsListener(StreamingQueryListener):
    """Build it once the SparkContext has started: it reads the JVM's
    compile count from the start."""

    def __init__(self, out_dir: str):
        os.makedirs(out_dir, exist_ok=True)
        self.path = os.path.join(out_dir, "metrics.jsonl")
        self._compiles = codegen_compile_count()

    def _compiles_since_last_event(self) -> int:
        now = codegen_compile_count()
        delta, self._compiles = now - self._compiles, now
        return delta

    def onQueryStarted(self, event):
        self._compiles_since_last_event()
        self._append({"event": "started", "id": str(event.id)})

    def onQueryProgress(self, event):
        p = event.progress
        self._append(
            {
                "event": "progress",
                "id": str(p.id),
                "batchId": p.batchId,
                "numInputRows": p.numInputRows,
                "inputRowsPerSecond": p.inputRowsPerSecond,
                "processedRowsPerSecond": p.processedRowsPerSecond,
                "durationMs": dict(p.durationMs) if p.durationMs else {},
                "stateOperators": [
                    {
                        "numRowsTotal": s.numRowsTotal,
                        "numRowsUpdated": s.numRowsUpdated,
                    }
                    for s in (p.stateOperators or [])
                ],
                "eventTime": dict(p.eventTime) if p.eventTime else {},
                "codegenCompiles": self._compiles_since_last_event(),
            }
        )

    def onQueryTerminated(self, event):
        self._compiles_since_last_event()
        self._append({"event": "terminated", "id": str(event.id)})

    def onQueryIdle(self, event):
        self._compiles_since_last_event()

    def _append(self, rec: dict) -> None:
        with open(self.path, "a") as fh:
            fh.write(json.dumps(rec) + "\n")


def partition_lineage(df: DataFrame, seq_col: str = "seq") -> list[dict]:
    """Per-partition lineage of a batch: partition id → rows + seq range.
    One extra narrow pass over the batch (spark_partition_id is free)."""
    rows = (
        df.groupBy(F.spark_partition_id().alias("partition"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.min(seq_col).alias("seq_min"),
            F.max(seq_col).alias("seq_max"),
        )
        .collect()
    )
    return [r.asDict() for r in rows]
