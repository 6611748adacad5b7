"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet tables,
compare row count, column names, and an order-insensitive value hash.

Usage: python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)  # this checkout's engine, wherever it lives

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(bool(v)).lower()
    return str(v)


def frame_hash(cols: list[str], rows: list[tuple]) -> tuple[str, int]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return h, len(lines)


def _spark_dtype_class(dt: str) -> str:
    """Collapse a Spark simpleString dtype to a comparison class."""
    d = dt.lower()
    if d.startswith("array"):
        return "array"
    if d.startswith("decimal"):
        return "decimal"
    if d in ("tinyint", "smallint", "int", "bigint", "long", "integer"):
        return "int"
    if d in ("float", "double"):
        return "float"
    if d.startswith("timestamp"):
        return "ts"
    return d


def _duck_dtype_class(dt: str) -> str:
    """Collapse a DuckDB type string to the same comparison classes.

    HUGEINT maps to its own class on purpose: duckdb.fetchdf() widens it
    to float64, so a HUGEINT oracle column hash-mismatches an int64 Spark
    column in the driver even when every value is equal (the r2
    time_tumbling failure)."""
    d = str(dt).upper()
    if d.endswith("[]"):
        return "array"
    if d.startswith("DECIMAL"):
        return "decimal"
    if d in ("HUGEINT", "UHUGEINT"):
        return "hugeint"
    if d in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if d in ("FLOAT", "REAL", "DOUBLE"):
        return "float"
    if d.startswith("TIMESTAMP"):
        return "ts"
    if d == "VARCHAR":
        return "string"
    return d.lower()


def dtype_mismatches(sdf, rel) -> list[str]:
    s = {f.name: _spark_dtype_class(f.dataType.simpleString())
         for f in sdf.schema.fields}
    d = {c: _duck_dtype_class(t) for c, t in zip(rel.columns, rel.types)}
    out = []
    for col in sorted(set(s) & set(d)):
        if s[col] != d[col]:
            out.append(f"{col}: spark={s[col]} duck={d[col]}")
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from bucketizers_spark.plans.session import get_spark

    spark = get_spark("parity", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        try:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        except duckdb.Error:
            pass

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(
                f"rows  {name}: {len(srows)} rows, cols={scols} "
                f"({time.time() - t0:.1f}s) [rows-only]"
            )
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = rel.columns
            drows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error {type(e).__name__}: {e}")
            failures.append(name)
            continue
        sh, sn = frame_hash(scols, srows)
        dh, dn = frame_hash(dcols, drows)
        ok_cols = sorted(scols) == sorted(dcols)
        bad_dtypes = dtype_mismatches(sdf, rel)
        status = "OK  " if (sh == dh and ok_cols and not bad_dtypes) else "FAIL"
        print(
            f"{status}  {name}: spark {sn} rows [{sh}] vs duckdb {dn} rows "
            f"[{dh}] cols_match={ok_cols} ({time.time() - t0:.1f}s)"
        )
        if status == "FAIL":
            failures.append(name)
            if not ok_cols:
                print(f"      spark cols={sorted(scols)} duck cols={sorted(dcols)}")
            if bad_dtypes:
                print(f"      dtype mismatch (driver hash trap): {bad_dtypes}")
            sset = {tuple(norm_cell(v) for v in r) for r in srows}
            dset = {tuple(norm_cell(v) for v in r) for r in drows}
            so = sorted(sset - dset)[:3]
            do = sorted(dset - sset)[:3]
            if so:
                print(f"      spark-only: {so}")
            if do:
                print(f"      duck-only:  {do}")
    print("FAILURES:", failures if failures else "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
