"""Local mimic of the driver's correctness gate: run each __spark_entry__
query and its DuckDB oracle at sf0.01, compare row-count, schema (column
names), and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def norm_rows(cols, rows):
    """Rows in engine-neutral, order-insensitive form, columns by name
    (shared with tests/test_oracle.py)."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(repr(norm_cell(r[i])) for i in idx) for r in rows
    ), [cols[i] for i in idx]


def main():
    import duckdb

    import __spark_entry__ as entry_mod
    from dedup_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        if name not in oracles:
            print(f"{name}: rows-only (no oracle) — {len(srows)} rows")
            continue
        ores = con.execute(oracles[name])
        ocols = [d[0] for d in ores.description]
        orows = ores.fetchall()
        sv, sc = norm_rows(scols, [tuple(r) for r in srows])
        ov, oc = norm_rows(ocols, orows)
        ok = True
        if sc != oc:
            print(f"{name}: SCHEMA MISMATCH spark={sc} duck={oc}")
            ok = False
        if len(sv) != len(ov):
            print(f"{name}: ROWCOUNT MISMATCH spark={len(sv)} duck={len(ov)}")
            ok = False
        elif sv != ov:
            diff = [i for i, (a, b) in enumerate(zip(sv, ov)) if a != b][:3]
            print(f"{name}: VALUE MISMATCH at sorted rows {diff}")
            for i in diff:
                print(f"  spark: {sv[i]}\n  duck : {ov[i]}")
            ok = False
        if ok:
            print(f"{name}: OK ({len(sv)} rows)")
        else:
            failures += 1
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
