"""Local replica of the driver's correctness gate: run every queries() entry on
Spark at sf0.01, run the matching oracle_sql() in DuckDB over the same parquet,
compare row count, column names/order-insensitive values.

Usage: python scripts/check_oracle.py [name ...]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from re_shacl_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if isinstance(v, float):
        return repr(v)
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out)


def main():
    only = set(sys.argv[1:])
    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}", flush=True)
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"SKIP {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)", flush=True)
            continue
        try:
            rel = con.sql(sql)
            dcols = rel.columns
            dtypes = [str(t) for t in rel.types]
            drows = rel.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}", flush=True)
            continue
        ok = True
        # dtype parity: the driver hash is dtype-sensitive (r4 HUGEINT reds),
        # so a DuckDB type Spark can't emit fails here even with equal values
        _DTYPE_MAP = {
            "BIGINT": {"bigint"}, "INTEGER": {"int"},
            "DOUBLE": {"double"}, "VARCHAR": {"string"},
            "BOOLEAN": {"boolean"},
        }
        stypes = dict(sdf.dtypes)
        for c, dt in zip(dcols, dtypes):
            spark_ok = _DTYPE_MAP.get(dt)
            if spark_ok is None or (c in stypes and stypes[c] not in spark_ok):
                ok = False
                print(f"FAIL {name}: dtype {c}: duck={dt} spark={stypes.get(c)}", flush=True)
        if sorted(scols) != sorted(dcols):
            ok = False
            print(f"FAIL {name}: columns spark={scols} duck={dcols}", flush=True)
        elif len(srows) != len(drows):
            ok = False
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}", flush=True)
        else:
            a = norm_rows(scols, srows)
            b = norm_rows(dcols, drows)
            if a != b:
                ok = False
                diff_a = [r for r in a if r not in set(b)][:3]
                diff_b = [r for r in b if r not in set(a)][:3]
                print(f"FAIL {name}: values differ; spark-only={diff_a} duck-only={diff_b}", flush=True)
        if ok:
            print(f"OK   {name}: {len(srows)} rows ({time.time()-t0:.1f}s)", flush=True)
        else:
            failures.append(name)
    print("\n==", "ALL OK" if not failures else f"FAILURES: {failures}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
