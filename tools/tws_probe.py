"""Probe: could the staged-files composition (streaming/compose.py)
collapse into ONE streaming query via Spark 4.x transformWithStateInPandas
chaining? (VERDICT r3 #5)

Finding (2026-08, pyspark 4.1.2, this container):

1. **Environment blocker, hard**: transformWithStateInPandas's Python
   worker speaks a protobuf protocol to the JVM state server
   (pyspark/sql/streaming/proto/StateMessage_pb2.py imports
   google.protobuf.descriptor). `google.protobuf` is NOT installed here
   and cannot be added (no pip). Every transformWithStateInPandas query
   — even a single, unchained one — dies with
   `TransformWithStateInPySpark driver worker exited unexpectedly` whose
   root cause is `ImportError: cannot import name 'descriptor' from
   'google.protobuf'`. applyInPandasWithState uses the legacy Arrow
   state channel and does not need protobuf, which is why every shipped
   keyed-state operator (stateful.py, geo_stream.py) works.

2. **Semantic gap, even with protobuf**: Spark supports chaining further
   stateful operators AFTER transformWithState only when the operator
   declares an event-time column on its output
   (`eventTimeColumnName`, SPARK-49070) so downstream watermark-driven
   operators can reason about late data. The bucketizer stages are
   ARRIVAL-ORDER state machines (dense `seq`, no event time): the
   guarantee stage k+1 needs — it sees stage k's micro-batch output in
   commit order, exactly once, resumable per stage — is precisely what
   the staged-file boundary provides and what an event-time watermark
   does not express. A single-query chain would also fuse both stages'
   failure domains (one bad batch in stage 1 rewinds stage 0's state).

Conclusion: the staged-files pattern in streaming/compose.py REMAINS the
supported composition shape for this engine. Re-probe when the runtime
gains protobuf (run this script; it prints PASS/FAIL per probe).
"""

from __future__ import annotations

import os
import shutil
import sys
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)  # this checkout's engine, wherever it lives


def main() -> int:
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.streaming import StatefulProcessor

    from bucketizers_spark.plans.session import get_spark

    try:
        import google.protobuf  # noqa: F401

        print("protobuf: AVAILABLE")
    except ImportError:
        print("protobuf: MISSING (transformWithStateInPandas cannot run)")

    spark = get_spark("twsprobe", cores=4, shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    wd = os.path.join(ROOT, ".scratch", f"tws_{uuid.uuid4().hex[:8]}")
    os.makedirs(f"{wd}/in", exist_ok=True)
    pdf = pd.DataFrame({"seq": range(20), "k": [f"k{j % 3}" for j in range(20)]})
    pdf.iloc[:10].to_parquet(f"{wd}/in/c0.parquet")
    pdf.iloc[10:].to_parquet(f"{wd}/in/c1.parquet")
    schema = T.StructType(
        [T.StructField("seq", T.LongType()), T.StructField("k", T.StringType())]
    )

    class Counter(StatefulProcessor):
        def init(self, handle):
            self._cnt = handle.getValueState(
                "cnt", T.StructType([T.StructField("c", T.LongType())])
            )

        def handleInputRows(self, key, rows, timerValues):
            c = self._cnt.get()[0] if self._cnt.exists() else 0
            for p in rows:
                p = p.copy()
                p["rank_in_key"] = range(c, c + len(p))
                c += len(p)
                yield p
            self._cnt.update((c,))

        def close(self):
            pass

    out1 = T.StructType(schema.fields + [T.StructField("rank_in_key", T.LongType())])

    def run(stream, name):
        try:
            q = (
                stream.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", f"{wd}/ckpt_{name}")
                .start()
            )
            q.processAllAvailable()
            q.stop()
            n = spark.sql(f"select count(*) c from {name}").collect()[0]["c"]
            print(f"{name}: PASS ({n} rows)")
            return True
        except Exception as e:  # noqa: BLE001 — probe reports any failure
            msg = str(e).split("\n")[0][:200]
            print(f"{name}: FAIL — {type(e).__name__}: {msg}")
            return False

    s = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        f"{wd}/in"
    )
    one = s.groupBy("k").transformWithStateInPandas(
        Counter(), outputStructType=out1, outputMode="append", timeMode="none"
    )
    run(one, "tws_single")

    chained_schema = T.StructType(
        out1.fields
        + [T.StructField("bucket", T.StringType()), T.StructField("rank2", T.LongType())]
    )

    class Counter2(Counter):
        def handleInputRows(self, key, rows, timerValues):
            c = self._cnt.get()[0] if self._cnt.exists() else 0
            for p in rows:
                p = p.copy()
                p["rank2"] = range(c, c + len(p))
                c += len(p)
                yield p
            self._cnt.update((c,))

    two = (
        one.withColumn(
            "bucket",
            F.concat(F.col("k"), F.lit("-"), (F.col("rank_in_key") / 5).cast("int")),
        )
        .groupBy("bucket")
        .transformWithStateInPandas(
            Counter2(),
            outputStructType=chained_schema,
            outputMode="append",
            timeMode="none",
        )
    )
    run(two, "tws_chained")
    shutil.rmtree(wd, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
