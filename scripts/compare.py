"""Dev harness: run every query against the DuckDB oracle and report
mismatches. Mirrors the driver's t2 comparison (row count + schema +
order-insensitive values) but with readable diffs.

Usage: python scripts/compare.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

import duckdb

sys.path.insert(0, ".")

from data_lake_project_spark.queries import ORACLE, QUERIES
from data_lake_project_spark.session import get_spark
from data_lake_project_spark.tables import TABLES


def canon(rows, cols):
    """Sort columns by name, rows by stringified values."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = f"{v:.6g}"
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return [cols[i] for i in idx], out


def oracle_db(sf_dir):
    """A DuckDB connection with every fixture table of ``sf_dir`` as a view."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def run_both(spark, con, name, sf_dir):
    """``(spark, oracle, err)``: query ``name`` on Spark and on its DuckDB
    oracle, each as ``canon`` output. ``oracle`` is None when the query
    has none or a side failed; ``err`` is ``"spark: ..."`` (``spark``
    None too) or ``"oracle: ..."`` then."""
    try:
        sdf = QUERIES[name](spark, sf_dir)
        s = canon([tuple(r) for r in sdf.collect()], sdf.columns)
    except Exception as e:  # noqa: BLE001
        return None, None, f"spark: {e}"
    if name not in ORACLE:
        return s, None, None
    try:
        res = con.execute(ORACLE[name])
        return s, canon(res.fetchall(), [d[0] for d in res.description]), None
    except Exception as e:  # noqa: BLE001
        return s, None, f"oracle: {e}"


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("compare", shuffle_partitions=8)
    con = oracle_db(sf_dir)
    n_pass = n_fail = 0
    for name in QUERIES:
        if only and name not in only:
            continue
        s, d, err = run_both(spark, con, name, sf_dir)
        if err:
            print(f"FAIL {name}: {err}")
            n_fail += 1
            continue
        sc, sr = s
        if d is None:
            print(f"ok   {name}: rows-only ({len(sr)} rows)")
            n_pass += 1
            continue
        dc, dr = d
        if sc != dc:
            print(f"FAIL {name}: columns {sc} vs {dc}")
            n_fail += 1
            continue
        if len(sr) != len(dr):
            print(f"FAIL {name}: rowcount {len(sr)} vs {len(dr)}")
            so, do = set(sr), set(dr)
            for x in list(so - do)[:3]:
                print(f"   spark-only: {x}")
            for x in list(do - so)[:3]:
                print(f"   duck-only:  {x}")
            n_fail += 1
            continue
        if sr != dr:
            diffs = [(a, b) for a, b in zip(sr, dr) if a != b]
            print(f"FAIL {name}: {len(diffs)} differing rows of {len(sr)}")
            for a, b in diffs[:3]:
                print(f"   spark: {a}\n   duck:  {b}")
            n_fail += 1
            continue
        print(f"PASS {name} ({len(sr)} rows)")
        n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
