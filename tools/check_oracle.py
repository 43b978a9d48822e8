"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB over the same parquet,
compare row count, schema width, and an order-insensitive value hash.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from druid_hadoop_utils_spark.session import get_spark
from druid_hadoop_utils_spark.sources.tables import ALL_TABLES

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])


_TYPE_GROUPS = {
    "bigint": "int64", "BIGINT": "int64",
    "int": "int32", "INTEGER": "int32",
    "double": "float64", "DOUBLE": "float64", "FLOAT": "float64",
    "string": "str", "VARCHAR": "str", "STRING": "str",
    "timestamp": "ts", "TIMESTAMP": "ts", "timestamp_ntz": "ts",
    "boolean": "bool", "BOOLEAN": "bool",
}


def norm_type(t: str) -> str:
    return _TYPE_GROUPS.get(t, t)


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v == 0:
            v = 0.0  # canonicalize IEEE -0.0
        # normalize float formatting between engines
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(rows: list[tuple], colnames: list[str]) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x01".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    from __spark_entry__ import oracle_sql, queries

    qs, oracles = queries(), oracle_sql()
    unknown = sorted(ONLY - set(qs))
    if unknown:
        print(f"no query registered under: {', '.join(unknown)}")
        return 2
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in ALL_TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    failures = []
    ran = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        ran += 1
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok*   {name}: rows={len(srows)} (rows-only, no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns spark={sorted(scols)} duckdb={sorted(ocols)}")
        else:
            stypes = {c: norm_type(t) for c, t in sdf.dtypes}
            # DESCRIBE: the DB-API description collapses numerics to NUMBER
            otypes = {
                r[0]: norm_type(r[1])
                for r in con.execute(f"DESCRIBE {oracles[name]}").fetchall()
            }
            mismatched = {
                c: (stypes[c], otypes[c]) for c in stypes if stypes[c] != otypes.get(c)
            }
            if mismatched:
                problems.append(f"types {mismatched}")
        if not problems:
            sh, oh = table_hash(srows, scols), table_hash(orows, ocols)
            if sh != oh:
                problems.append(f"value hash spark={sh} duckdb={oh}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failures.append(name)
        else:
            print(f"ok    {name}: rows={len(srows)} hash={sh} [{time.time()-t0:.1f}s]")
    print(f"\n{ran - len(failures)}/{ran} queries pass")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
