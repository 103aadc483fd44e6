#!/usr/bin/env python
"""Same-process A/B of per-customer `/recs` similarity: the driver-side
incidence index kernel (`recommend.service.IncidenceIndex.user_cf`)
against the Spark plan it replaces (`user_cf_scores` ordered and
limited, collected), over synthetic incidences of 10k, 200k, 2M and
2,412,143 rows (the shared collect bound, `superstep.LOCAL_EDGE_ROWS`).

Each size is a cached string-keyed (customer_id, product_id) incidence,
like the service's: 8 products per customer on average, product
popularity skewed (code = floor(n_products · u²)). For the same seeded
customers both arms answer `limit` = 25; their rows must be equal. The
kernel is timed over KERNEL_REPS calls per customer, the Spark path over
SPARK_REPS after one warm-up call; each arm's figure is the median.

The index is built through the program's one bounded collect
(`graphs/superstep.local_tables`), whose bound `LOCAL_EDGE_ROWS` it
shares with the PageRank kernel; this script checks that the kernel
stays at least 10× faster than the Spark path up to that bound, and
names the largest measured size that does as `bound`. The bound is
raised to the collect's rows while each index is built.

Usage: python scripts/ab_cf_index.py [SIZES...]
Env:   SPARK_GRAFT_CPUS, SPARK_GRAFT_DRIVER_MEM (default 4g)
Writes bench_results/ab/ab_cf_index.json.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from pyspark.sql import functions as F  # noqa: E402

SIZES = (10_000, 200_000, 2_000_000, 2_412_143)
CUSTOMERS = 3           # seeded customers asked per size
LIMIT = 25
KERNEL_REPS = 20
SPARK_REPS = 2
SPEEDUP_RULE = 10.0     # kernel must be at least this much faster
OUT = os.path.join(HERE, "bench_results", "ab", "ab_cf_index.json")


def _incidence(spark, n_rows: int):
    """n_rows distinct string-keyed (customer_id, product_id) rows,
    cached over the session's shuffle partitions, like a distinct()
    output."""
    n_cust, n_prod = max(1, n_rows // 8), max(150, n_rows // 100)
    # draw 10 % extra pairs: duplicates fall to distinct()
    return (spark.range(int(n_rows * 1.1))
            .select(F.format_string("C%07d", (F.rand(1) * n_cust)
                                    .cast("long")).alias("customer_id"),
                    F.format_string("P%05d", (F.rand(2) ** 2 * n_prod)
                                    .cast("long")).alias("product_id"))
            .distinct().limit(n_rows)
            .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
            .cache())


def _median_ms(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def measure(spark, n_rows: int) -> dict:
    from graph_database_spark.graphs import superstep
    from graph_database_spark.operators.similarity import user_cf_scores
    from graph_database_spark.recommend import service as service_mod

    inc = _incidence(spark, n_rows)
    rows = inc.count()
    # each customer's products as one order: order lines as many as
    # incidence rows, so the one collect holds 2 × rows
    bound, superstep.LOCAL_EDGE_ROWS = superstep.LOCAL_EDGE_ROWS, 2 * rows
    try:
        t0 = time.perf_counter()
        index = service_mod.incidence_index(
            inc, inc.select(F.col("customer_id").alias("order_id"),
                            "product_id"))
        build_s = time.perf_counter() - t0
    finally:
        superstep.LOCAL_EDGE_ROWS = bound
    customers = sorted(index.customers)[::max(1, len(index.customers)
                                              // CUSTOMERS)][:CUSTOMERS]

    def spark_path(c):
        return (user_cf_scores(inc, c)
                .orderBy(F.desc("cf_count"), F.asc("product_id"))
                .limit(LIMIT).collect())

    kernel_ms, spark_ms = [], []
    for c in customers:
        want = spark_path(c)  # warm-up, and the answer both arms give
        if index.user_cf(c, LIMIT) != want:
            raise AssertionError(f"index != Spark path for {c} at {rows}")
        spark_ms.append(_median_ms(lambda: spark_path(c), SPARK_REPS))
        kernel_ms.append(_median_ms(lambda: index.user_cf(c, LIMIT),
                                    KERNEL_REPS))
        print(f"  {rows:>9} rows {c}: kernel {kernel_ms[-1]:8.2f} ms, "
              f"spark {spark_ms[-1]:8.1f} ms", file=sys.stderr, flush=True)
    inc.unpersist()
    k, s = statistics.median(kernel_ms), statistics.median(spark_ms)
    return {"rows": rows, "kernel_ms": round(k, 3), "spark_ms": round(s, 1),
            "speedup": round(s / k, 1), "build_s": round(build_s, 2),
            "codes_mb": round((index.cust.nbytes + index.prod.nbytes) / 2**20,
                              1),
            "customers": customers}


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    from graph_database_spark.session import cpu_count, get_spark
    sizes = [int(a) for a in sys.argv[1:]] or list(SIZES)
    spark = get_spark("ab-cf-index")
    spark.sparkContext.setLogLevel("ERROR")
    results = [measure(spark, n) for n in sizes]
    fast = [r["rows"] for r in results if r["speedup"] >= SPEEDUP_RULE]
    out = {"what": "per-customer /recs similarity: incidence index kernel "
                   "vs the Spark plan (user_cf_scores, ordered, limited, "
                   "collected)",
           "method": f"one process, session.get_spark on {cpu_count()} "
                     f"CPUs; median of {KERNEL_REPS} kernel calls and "
                     f"{SPARK_REPS} Spark calls (after one warm-up) per "
                     f"customer, median over {CUSTOMERS} customers; "
                     f"limit {LIMIT}",
           "rule": f"bound = largest measured size with speedup >= "
                   f"{SPEEDUP_RULE:g}",
           "bound": max(fast) if fast else None,
           "sizes": results}
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
