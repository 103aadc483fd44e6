"""Driver-replica correctness check: run every queries() entry against its
DuckDB oracle at a given sf dir (default sf0.01, the driver's scale) and
print one JSON report matching CORRECTNESS_r{N}.json's shape.

Usage: python scripts/parity_check.py [sf_dir] [only_key ...]
"""

from __future__ import annotations

import json
import math
import sys
import hashlib

import duckdb

sys.path.insert(0, "/root/repo")

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def norm_rows(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in sorted(cols):
            v = row[c]
            if isinstance(v, float):
                v = round(v, 6)
                if v == -0.0:
                    v = 0.0
                if math.isnan(v):
                    v = "NaN"
            vals.append(str(v))
        out.append("\x01".join(vals))
    out.sort()
    h = hashlib.sha256()
    for line in out:
        h.update(line.encode())
        h.update(b"\x02")
    return h.hexdigest(), out


def main():
    from pyspark.sql import SparkSession
    import __spark_entry__ as entrymod
    from graph_database_spark.session import driver_memory

    spark = (SparkSession.builder.master("local[32]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.driver.memory", driver_memory())
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    report = {}
    for name, qfn in queries.items():
        if ONLY and name not in ONLY:
            continue
        rec = {"rows_match": None, "schema_match": None, "hash_match": None,
               "spark_rows": None, "oracle_rows": None, "err": None}
        try:
            sdf = qfn(spark, SF_DIR)
            srows = [r.asDict() for r in sdf.collect()]
            rec["spark_rows"] = len(srows)
            if name not in oracles:
                rec["err"] = "no_oracle"
                report[name] = rec
                print(f"{name}: rows={len(srows)} (no oracle)", flush=True)
                continue
            ora = con.execute(oracles[name])
            dcols = [d[0] for d in ora.description]
            drows = [dict(zip(dcols, r)) for r in ora.fetchall()]
            rec["oracle_rows"] = len(drows)
            rec["rows_match"] = len(srows) == len(drows)
            rec["schema_match"] = sorted(sdf.columns) == sorted(dcols)
            sh, sn = norm_rows(srows, sdf.columns)
            dh, dn = norm_rows(drows, dcols)
            rec["hash_match"] = sh == dh
            status = "OK" if (rec["rows_match"] and rec["schema_match"]
                              and rec["hash_match"]) else "FAIL"
            print(f"{name}: {status} spark={len(srows)} duck={len(drows)} "
                  f"rows={rec['rows_match']} schema={rec['schema_match']} "
                  f"hash={rec['hash_match']}", flush=True)
            if status == "FAIL" and rec["rows_match"] and rec["schema_match"]:
                diffs = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
                for a, b in diffs:
                    print(f"   spark: {a[:200]}\n   duck : {b[:200]}",
                          flush=True)
        except Exception as e:  # noqa: BLE001
            rec["err"] = f"{type(e).__name__}: {e}"[:300]
            print(f"{name}: ERROR {rec['err']}", flush=True)
        report[name] = rec

    bad = {k: v for k, v in report.items()
           if v["err"] or v["hash_match"] is False or v["rows_match"] is False
           or v["schema_match"] is False}
    print(json.dumps({"sf_dir": SF_DIR, "total": len(report),
                      "bad": list(bad)}, indent=1))
    with open("/tmp/parity_report.json", "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
