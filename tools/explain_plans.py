"""Dump formatted physical plans for the headline queries and grep them for
the scale signals that matter (SURVEY.md §4.2): parquet PushedFilters /
ReadSchema pruning, WholeStageCodegen coverage, broadcast vs shuffle joins,
AQE nodes. Usage: python tools/explain_plans.py [query ...]"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)  # this checkout's engine, wherever it lives

SF_DIR = "/root/testdata/sf0.01"


def main() -> None:
    from bucketizers_spark.entry_queries import QUERIES
    from bucketizers_spark.plans.session import get_spark

    names = sys.argv[1:] or [
        "basic_pager",
        "subject_assign",
        "subject_relations",
        "time_tumbling",
        "dedup_minhash",
        "ann_topk",
    ]
    spark = get_spark("explain", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = QUERIES[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        print(f"\n================ {name} ================")
        print(plan)
        codegen_ops = sum(
            1 for ln in plan.splitlines() if ln.lstrip().startswith("* ")
        )
        signals = {
            "codegen_ops": codegen_ops,
            "Exchange": plan.count("Exchange ("),
            "hashpartitioning": plan.count("hashpartitioning"),
            "SinglePartition": plan.count("SinglePartition"),
            "BroadcastExchange": plan.count("BroadcastExchange"),
            "PushedFilters": plan.count("PushedFilters: ["),
            "pandas_udf": plan.count("ArrowEval")
            + plan.count("FlatMapGroupsInPandas")
            + plan.count("MapInPandas"),
            "Window": plan.count("Window ("),
            "Scan parquet": plan.count("Scan parquet"),
        }
        print(">>> signals:", signals)


if __name__ == "__main__":
    main()
