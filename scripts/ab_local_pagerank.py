#!/usr/bin/env python
"""Same-process A/B of PageRank's two regimes below the local bound: the
driver-local kernel (Arrow collects and a numpy power iteration,
`graphs/pagerank._LocalGraph`) against the Spark superstep loop
(`superstep.LOCAL_EDGE_ROWS` forced to -1), on the inputs of the
registry's `ppr_fixed20_batch`.

Datasets: perfbench's `batch_registry` tables (`gen.registry_tables`,
seed 1: 400 parts, about 9.6k lineitems) and the testdata directories
sf0.001, sf0.01 and sf0.1. On each, `pagerank_batch(tol=-1, max_iter=20)`
runs over the registry job's inputs (the row-normalized co-occurrence
adjacency, the parts as vertices, the first three customers' purchases
as personalization), built afresh for every call and collected, so each
arm pays the adjacency once as the job does. The arms alternate, the
first arm alternating too, for ROUNDS rounds; in every round their
answers must hold the same (key, id) rows with ranks within 1e-12, and
the rows that differ at round(rank, 6) are counted.

An arm's cost is CPU seconds as perfbench/cpu.py counts them (the driver
JVM less its JIT compiler threads, plus this process) and wall seconds,
each the median over rounds. The session is perfbench's
(`sparkproc.configure`: the host's CPUs, a 1 GB driver heap).

Rule: `LOCAL_EDGE_ROWS` in graphs/superstep.py is the largest measured
input row count (edges, vertices and personalization rows together, as
the local regime collects them) at which the local arm used at most half
the Spark arm's CPU; the output names it as `bound`, next to the Arrow
size of each edge collect.

Usage: python scripts/ab_local_pagerank.py [ROUNDS]
The testdata directories are the siblings of
`sources.testdata.DEFAULT_SF_DIR`.
Writes bench_results/ab/ab_local_pagerank.json.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "perfbench"))

import cpu  # noqa: E402
import gen  # noqa: E402
import sparkproc  # noqa: E402

ROUNDS = 3
SPEEDUP_RULE = 2.0      # the local arm must use at most 1/2 the CPU
OUT = os.path.join(HERE, "bench_results", "ab", "ab_local_pagerank.json")


def _inputs(spark, sf_dir: str):
    """`q_ppr_fixed20_batch`'s (vertices, adjacency, personalization)."""
    from pyspark.sql import functions as F

    from graph_database_spark.operators.cooccurrence import (
        cooccurrence_ordered, row_normalized_adjacency,
    )
    from graph_database_spark.operators.incidence import incidence_pairs
    from graph_database_spark.queries._shared import (
        _items, _order_customer_pairs,
    )
    from graph_database_spark.sources.testdata import load_table

    adj = row_normalized_adjacency(
        cooccurrence_ordered(_items(spark, sf_dir)), broadcast_row_sums=True)
    vertices = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"))
    inc = incidence_pairs(_order_customer_pairs(spark, sf_dir))
    focal = (load_table(spark, sf_dir, "orders").select("o_custkey")
             .distinct().orderBy("o_custkey").limit(3))
    pers = (inc.join(F.broadcast(focal),
                     inc["customer_id"] == focal["o_custkey"])
            .select(F.col("customer_id").alias("key"),
                    F.col("product_id").alias("id"), F.lit(1.0).alias("p")))
    return vertices, adj, pers


def _arm(spark, sf_dir: str, bound: int) -> tuple[list, float, float]:
    """(sorted (key, id, rank) rows, CPU s, wall s) of one collected
    pagerank_batch under the local bound `bound`."""
    from graph_database_spark.graphs import pagerank as pr, superstep

    pid = sparkproc.jvm_pid()
    kept, superstep.LOCAL_EDGE_ROWS = superstep.LOCAL_EDGE_ROWS, bound
    try:
        c0 = cpu.jvm_seconds(pid) + cpu.python_seconds()
        t0 = time.perf_counter()
        rows = pr.pagerank_batch(*_inputs(spark, sf_dir), tol=-1.0,
                                 max_iter=20).collect()
        wall = time.perf_counter() - t0
        used = cpu.jvm_seconds(pid) + cpu.python_seconds() - c0
    finally:
        superstep.LOCAL_EDGE_ROWS = kept
    return sorted((r["key"], r["id"], r["rank"]) for r in rows), used, wall


def measure(spark, name: str, sf_dir: str, rounds: int) -> dict:
    from graph_database_spark.graphs import pagerank as pr, superstep

    vertices, adj, pers = _inputs(spark, sf_dir)
    m, n, k, p = (adj.count(), vertices.count(),
                  pers.select("key").distinct().count(), pers.count())
    # the inputs and the answer fit under the local arm's bound
    local_bound = max(m + n + p, n * k)
    kept, superstep.LOCAL_EDGE_ROWS = superstep.LOCAL_EDGE_ROWS, local_bound
    try:
        if pr._LocalGraph.collect(vertices, adj, pers) is None:
            raise AssertionError(f"{name} does not run locally")
        edges = superstep.local_tables(
            {"edges": adj.select("src", "dst", "weight")})["edges"]
    finally:
        superstep.LOCAL_EDGE_ROWS = kept
    arms = {"local": local_bound, "spark": -1}
    cost = {a: {"cpu_s": [], "wall_s": []} for a in arms}
    off_at_6dp = 0
    for i in range(rounds):
        order = list(arms) if i % 2 == 0 else list(arms)[::-1]
        got = {}
        for a in order:
            got[a], cpu_s, wall_s = _arm(spark, sf_dir, arms[a])
            cost[a]["cpu_s"].append(round(cpu_s, 2))
            cost[a]["wall_s"].append(round(wall_s, 2))
        local, spark_loop = got["local"], got["spark"]
        if [r[:2] for r in local] != [r[:2] for r in spark_loop] or any(
                abs(x[2] - y[2]) > 1e-12 for x, y in zip(local, spark_loop)):
            raise AssertionError(f"local != Spark loop on {name}")
        off_at_6dp += sum(round(x[2], 6) != round(y[2], 6)
                          for x, y in zip(local, spark_loop))
        print(f"  {name} round {i + 1}: " + ", ".join(
            f"{a} {cost[a]['cpu_s'][-1]:.2f} s CPU" for a in arms),
            file=sys.stderr, flush=True)
    med = {a: {f: statistics.median(v) for f, v in c.items()}
           for a, c in cost.items()}
    return {"dataset": name, "input_rows": m + n + p, "edges": m,
            "vertices": n, "keys": k, "answer_rows": len(local),
            "edge_collect_mb": round(edges.nbytes / 2**20, 1),
            "local_cpu_s": round(med["local"]["cpu_s"], 2),
            "spark_cpu_s": round(med["spark"]["cpu_s"], 2),
            "local_wall_s": round(med["local"]["wall_s"], 2),
            "spark_wall_s": round(med["spark"]["wall_s"], 2),
            "cpu_speedup": round(med["spark"]["cpu_s"]
                                 / med["local"]["cpu_s"], 1),
            "rows_off_at_6dp": off_at_6dp, "rounds": cost}


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else ROUNDS
    from graph_database_spark.sources.testdata import DEFAULT_SF_DIR
    testdata = os.path.dirname(DEFAULT_SF_DIR)
    with tempfile.TemporaryDirectory(prefix="ab-local-pagerank-") as work:
        registry = os.path.join(work, "batch_registry")
        gen.write_parquet(gen.registry_tables(gen.RegistryShape(), 1),
                          registry)
        sparkproc.configure(work, None)
        spark = sparkproc.start()
        datasets = [("batch_registry", registry)] + [
            (sf, os.path.join(testdata, sf))
            for sf in ("sf0.001", "sf0.01", "sf0.1")]
        try:
            results = [measure(spark, name, d, rounds)
                       for name, d in datasets]
        finally:
            sparkproc.stop(spark)
    fast = [r["input_rows"] for r in results
            if r["cpu_speedup"] >= SPEEDUP_RULE]
    out = {"what": "pagerank_batch(tol=-1, max_iter=20) over "
                   "ppr_fixed20_batch's inputs: the driver-local kernel "
                   "vs the Spark superstep loop (LOCAL_EDGE_ROWS = -1)",
           "method": f"one process, perfbench's session on "
                     f"{sparkproc.cpu_count()} CPUs with a "
                     f"{sparkproc.DRIVER_MEM} driver heap; inputs built "
                     f"afresh per call; arms alternate, {rounds} rounds; "
                     f"medians of CPU s (perfbench/cpu.py) and wall s",
           "rule": f"bound = largest measured input row count (edges, "
                   f"vertices and personalization together) with CPU "
                   f"speedup >= {SPEEDUP_RULE:g}",
           "bound": max(fast) if fast else None,
           "datasets": results}
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
