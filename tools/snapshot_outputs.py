"""Snapshot every declared query's full output to parquet for exact
before/after comparison during optimization (r07). Results are written
sorted by all columns so a byte-level compare is order-insensitive.

Usage: python tools/snapshot_outputs.py <sf_dir> <out_dir> [query ...]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)  # this checkout's engine, wherever it lives


def main() -> None:
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)

    from bucketizers_spark.entry_queries import QUERIES
    from bucketizers_spark.plans.session import get_spark

    spark = get_spark("snapshot")
    spark.sparkContext.setLogLevel("ERROR")
    todo = names or list(QUERIES)
    for name in todo:
        dest = f"{out_dir}/{name}"
        if os.path.exists(f"{dest}/_SUCCESS"):
            print(f"# skip {name} (exists)", file=sys.stderr)
            continue
        df = QUERIES[name](spark, sf_dir)
        df = df.orderBy(*df.columns)
        df.coalesce(1).write.mode("overwrite").parquet(dest)
        print(f"# wrote {name}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
