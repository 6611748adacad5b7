"""Dump formatted physical plans of the registered queries and grep them
for the scale signals that matter (SURVEY.md §4.2): parquet PushedFilters /
ReadSchema pruning, WholeStageCodegen coverage, broadcast vs shuffle joins,
AQE nodes.

Usage:
    python tools/explain_plans.py [--sf DIR] [--out DIR --suffix S] [query ...]

``--sf`` is the scale-factor directory of parquet tables (default
``$SPARK_GRAFT_SF_DIR``). Without ``--out`` each plan is printed with its
signal counts. With ``--out DIR --suffix S`` each query is written to
``DIR/<query>_<S>.txt`` instead (a query that fails to plan writes its
error): the plan of every frame the query lineage-cuts while it is built
(``plans.materialize.cut_lineage`` / ``cut_lineage_counted``), in cut
order, then the final plan, with expression ids, ``plan_id=`` numbers and
UUIDs renumbered by first appearance. The engine imported is this
script's own checkout, so running the same command from two checkouts
gives before/after dumps that diff clean unless a plan changed.
"""

from __future__ import annotations

import argparse
import io
import os
import re
import sys
from contextlib import contextmanager, redirect_stdout

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


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


_VOLATILE = (
    (r"#(\d+)", "#{}"),
    (r"plan_id=(\d+)", "plan_id={}"),
    (r"\b([0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12})\b", "uuid{}"),
)


def normalize(plan: str) -> str:
    """Renumber the per-session ids of a plan dump by first appearance, so
    the same plan dumped by two sessions reads the same."""
    for pattern, placeholder in _VOLATILE:
        seen: dict[str, int] = {}
        plan = re.sub(
            pattern,
            lambda m: placeholder.format(seen.setdefault(m.group(1), len(seen))),
            plan,
        )
    return plan


@contextmanager
def capturing_cuts():
    """Yield a list that collects the formatted plan of every frame cut
    while the block runs: ``cut_lineage`` cuts with ``localCheckpoint`` or
    ``checkpoint``, so both are wrapped for the duration."""
    # the classic (non-Connect) DataFrame class implements the cuts
    from pyspark.sql.classic.dataframe import DataFrame

    cuts: list[str] = []
    saved = {n: getattr(DataFrame, n) for n in ("localCheckpoint", "checkpoint")}

    def recording(cut):
        def wrapper(self, *a, **kw):
            cuts.append(formatted(self))
            return cut(self, *a, **kw)

        return wrapper

    for name, cut in saved.items():
        setattr(DataFrame, name, recording(cut))
    try:
        yield cuts
    finally:
        for name, cut in saved.items():
            setattr(DataFrame, name, cut)


def dump(final: str, cuts: list[str]) -> str:
    """One normalized file: each cut input's plan in cut order, then the
    final plan."""
    parts = [f"== cut {k} ==\n{plan}" for k, plan in enumerate(cuts, 1)]
    return normalize("\n".join([*parts, f"== final ==\n{final}"]))


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
        try:
            with capturing_cuts() as cuts:
                df = QUERIES[name](spark, args.sf)
            plan = formatted(df)
        except Exception as exc:
            if not args.out:
                raise
            plan, cuts = f"ERROR: {exc}\n", []
        if args.out:
            with open(os.path.join(args.out, f"{name}_{args.suffix}.txt"), "w") as fh:
                fh.write(dump(plan, cuts))
            print(f"# {name}_{args.suffix}", file=sys.stderr)
        else:
            print(f"\n================ {name} ================")
            print(plan)
            print(">>> signals:", signals(plan))
    spark.stop()


if __name__ == "__main__":
    main()
