"""Dump formatted physical plans of the registered queries and grep them
for the scale signals that matter (SURVEY.md §4.2): parquet PushedFilters /
ReadSchema pruning, WholeStageCodegen coverage, broadcast vs shuffle joins,
AQE nodes.

Usage:
    python tools/explain_plans.py [--sf DIR] [--out DIR --suffix S] [query ...]

``--sf`` is the scale-factor directory of parquet tables (default
``$SPARK_GRAFT_SF_DIR``). Without ``--out`` each plan is printed with its
signal counts. With ``--out DIR --suffix S`` each plan is written to
``DIR/<query>_<S>.txt`` instead (a query that fails to plan writes its
error); the engine imported is this script's own checkout, so running the
same command from two checkouts gives before/after dumps to diff.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)  # this checkout's engine, wherever it lives

DEFAULT_QUERIES = [
    "basic_pager",
    "subject_assign",
    "subject_relations",
    "time_tumbling",
    "dedup_minhash",
    "ann_topk",
]


def signals(plan: str) -> dict:
    return {
        "codegen_ops": sum(
            1 for ln in plan.splitlines() if ln.lstrip().startswith("* ")
        ),
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


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="*", default=DEFAULT_QUERIES)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--out", help="write <query>_<suffix>.txt files here")
    ap.add_argument("--suffix", help="file-name suffix for --out")
    args = ap.parse_args()
    if not args.sf:
        ap.error("--sf is required when SPARK_GRAFT_SF_DIR is unset")
    if bool(args.out) != bool(args.suffix):
        ap.error("--out and --suffix go together")

    from bucketizers_spark.entry_queries import QUERIES
    from bucketizers_spark.plans.session import get_spark

    spark = get_spark("explain", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    if args.out:
        os.makedirs(args.out, exist_ok=True)
    for name in args.queries:
        buf = io.StringIO()
        try:
            df = QUERIES[name](spark, args.sf)
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as exc:
            if not args.out:
                raise
            plan = f"ERROR: {exc}\n"
        if args.out:
            with open(os.path.join(args.out, f"{name}_{args.suffix}.txt"), "w") as fh:
                fh.write(plan)
            print(f"# {name}_{args.suffix}", file=sys.stderr)
        else:
            print(f"\n================ {name} ================")
            print(plan)
            print(">>> signals:", signals(plan))
    spark.stop()


if __name__ == "__main__":
    main()
