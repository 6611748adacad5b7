"""Compare current query outputs against a snapshot_outputs.py snapshot.

Usage: python tools/compare_outputs.py <sf_dir> <snap_dir> [query ...]
Prints OK/DIFF per query; exits 1 on any DIFF.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)  # this checkout's engine, wherever it lives


def main() -> None:
    sf_dir, snap_dir = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]

    from bucketizers_spark.entry_queries import QUERIES
    from bucketizers_spark.plans.session import get_spark

    spark = get_spark("compare")
    spark.sparkContext.setLogLevel("ERROR")
    todo = names or sorted(
        n for n in os.listdir(snap_dir) if n in QUERIES
    )
    bad = []
    for name in todo:
        snap = spark.read.parquet(f"{snap_dir}/{name}")
        cur = QUERIES[name](spark, sf_dir)
        if sorted(cur.columns) != sorted(snap.columns):
            print(f"DIFF {name}: columns {cur.columns} vs {snap.columns}")
            bad.append(name)
            continue
        cur = cur.select(*snap.columns)
        # exact value compare, order-insensitive: full outer on all cols
        d1 = cur.exceptAll(snap).count()
        d2 = snap.exceptAll(cur).count()
        if d1 or d2:
            print(f"DIFF {name}: +{d1} rows only-current, +{d2} only-snapshot")
            bad.append(name)
        else:
            print(f"OK   {name} ({snap.count()} rows)")
    spark.stop()
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
