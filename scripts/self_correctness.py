"""Self-run of the driver's correctness protocol over ALL declared
queries, committed as ``CORRECTNESS_SELF_r{N}.json``.

The driver's per-round sweep has recorded only ~50 entries since
round 2, leaving most oracle-green queries without a driver row; this
script makes the evidence artifact exist from the repo side: for every
``QUERIES`` entry it runs the Spark query and the DuckDB oracle at
sf0.01 and records row-count + schema + order-insensitive value-hash
matches in the driver's exact JSON shape (plus a per-query wall-clock
so a time-budget cap can be ruled in or out).

Usage: python scripts/self_correctness.py [sf_dir] [out.json]
"""

from __future__ import annotations

import hashlib
import json
import sys
import time

sys.path.insert(0, ".")

from compare import oracle_db, run_both  # noqa: E402 -- one comparison
from data_lake_project_spark.queries import QUERIES
from data_lake_project_spark.session import get_spark


def value_hash(rows):
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = (
        sys.argv[2] if len(sys.argv) > 2 else "CORRECTNESS_SELF.json"
    )
    spark = get_spark("self_correctness", shuffle_partitions=8)
    con = oracle_db(sf_dir)

    report: dict[str, dict] = {}
    t_total = time.perf_counter()
    for name in QUERIES:
        entry = dict.fromkeys(
            ("rows_match", "schema_match", "hash_match", "spark_rows",
             "oracle_rows", "err")
        )
        t0 = time.perf_counter()
        s, d, err = run_both(spark, con, name, sf_dir)
        if s is not None:
            entry["spark_rows"] = len(s[1])
        if d is not None:
            (sc, sr), (dc, dr) = s, d
            entry["oracle_rows"] = len(dr)
            entry["rows_match"] = len(sr) == len(dr)
            entry["schema_match"] = sc == dc
            entry["hash_match"] = (
                entry["rows_match"]
                and entry["schema_match"]
                and value_hash(sr) == value_hash(dr)
            )
        else:
            entry["err"] = err[:300] if err else "no_oracle"
        entry["seconds"] = round(time.perf_counter() - t0, 3)
        report[name] = entry
        if err:
            print(f"ERR  {name}: {entry['err']}")
        elif d is None:
            print(f"rows {name}: {entry['spark_rows']} rows (no oracle)")
        else:
            tag = "PASS" if entry["hash_match"] else "FAIL"
            print(f"{tag} {name} ({len(sr)} rows, {entry['seconds']}s)")

    n_green = sum(1 for e in report.values() if e["hash_match"])
    n_rows_only = sum(
        1 for e in report.values() if e["err"] == "no_oracle"
    )
    n_bad = len(report) - n_green - n_rows_only
    summary = {
        "sf_dir": sf_dir,
        "queries": len(report),
        "hash_green": n_green,
        "rows_only": n_rows_only,
        "failed": n_bad,
        "total_seconds": round(time.perf_counter() - t_total, 1),
    }
    with open(out_path, "w") as f:
        json.dump({"_summary": summary, **report}, f, indent=1)
    print(json.dumps(summary))
    spark.stop()
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
