#!/usr/bin/env python
"""Interleaved same-process A/B for the recommend_batch exchange collapse
(r12 verdict "next round" #1 / OPTIMIZATION_r12.md "Not yet optimized" #2).

old = the shipped r12 shape: expansion join -> groupBy(customer_id,
      product_id) [Exchange 1] -> anti-join -> rank window on customer_id
      [Exchange 2].
new = one explicit repartition(n, customer_id) on the checkpointed
      incidence frame BEFORE the expansion join; HashPartitioning on the
      subset key satisfies both the aggregate's and the window's
      clustering, so Exchanges 1 and 2 disappear (guide 2.1/2.4: one
      shuffle established once, reused twice) and the exchange moves
      1.2M narrow incidence rows instead of the partially-aggregated
      x30 expansion.

Markers (identical code in both arms, bounding host noise):
seed_expansion + similarity_jaccard_topk.

Usage: python scripts/ab_recommend_batch.py [ROUNDS]
Env:   AB_SESSION=tuned|driver-default (default driver-default),
       SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: E402


def _session():
    kind = os.environ.get("AB_SESSION", "driver-default")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if kind == "tuned":
        from graph_database_spark.session import get_spark
        spark = get_spark("ab-recommend-batch")
    else:
        from graph_database_spark.session import driver_memory
        spark = (SparkSession.builder.master(f"local[{cpus}]")
                 .appName("ab-recommend-batch")
                 .config("spark.sql.session.timeZone", "UTC")
                 .config("spark.driver.memory", driver_memory())
                 .config("spark.ui.enabled", "false")
                 .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark, kind


def _inputs(spark, sf_dir):
    from graph_database_spark.queries._shared import (_items,
                                                      _order_customer_pairs)
    from graph_database_spark.operators.cooccurrence import (
        cooccurrence_ordered)
    from graph_database_spark.operators.incidence import incidence_pairs
    from graph_database_spark.operators.topk import top_k_per_group
    items = _items(spark, sf_dir)
    cooc = cooccurrence_ordered(items)
    cooc_top = F.broadcast(top_k_per_group(cooc, 30, "src", "count", "dst"))
    inc = incidence_pairs(_order_customer_pairs(spark, sf_dir)) \
        .localCheckpoint()
    return cooc_top, inc


def q_old(spark, sf_dir) -> DataFrame:
    from graph_database_spark.graphs.superstep import state_broadcasts
    from graph_database_spark.operators.topk import top_k_per_group
    cooc_top, inc = _inputs(spark, sf_dir)
    inc_small = state_broadcasts(inc.count())
    excl = F.broadcast(inc) if inc_small else inc
    scored = (
        inc.join(cooc_top, inc["product_id"] == cooc_top["src"])
        .groupBy("customer_id", F.col("dst").alias("product_id"))
        .agg(F.sum("count").alias("score"))
        .join(excl, ["customer_id", "product_id"], "left_anti")
    )
    return top_k_per_group(scored, 5, "customer_id", "score", "product_id")


def q_new(spark, sf_dir) -> DataFrame:
    from graph_database_spark.graphs.superstep import (_ROWS_PER_PARTITION,
                                                       state_broadcasts)
    from graph_database_spark.operators.topk import top_k_per_group
    cooc_top, inc = _inputs(spark, sf_dir)
    n_inc = inc.count()
    inc_small = state_broadcasts(n_inc)
    excl = F.broadcast(inc) if inc_small else inc
    # ONE exchange keyed customer_id on the narrow incidence frame; the
    # x30 expansion, the (customer_id, product_id) aggregate and the
    # per-customer rank window all inherit it. Explicit N (derived from
    # the measured expansion work product, capped at the cluster
    # parallelism) so AQE cannot coalesce the 1.2M-row exchange to 1-2
    # partitions and serialize the expansion downstream of it.
    sc = spark.sparkContext
    n_parts = min(sc.defaultParallelism,
                  max(2, -(-30 * n_inc // _ROWS_PER_PARTITION)))
    scored = (
        inc.repartition(n_parts, "customer_id")
        .join(cooc_top, inc["product_id"] == cooc_top["src"])
        .groupBy("customer_id", F.col("dst").alias("product_id"))
        .agg(F.sum("count").alias("score"))
        .join(excl, ["customer_id", "product_id"], "left_anti")
    )
    return top_k_per_group(scored, 5, "customer_id", "score", "product_id")


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark, kind = _session()

    from graph_database_spark.registry import QUERIES
    markers = ["seed_expansion", "similarity_jaccard_topk"]
    arms = {"old": q_old, "new": q_new}

    # warm-up (discarded)
    for fn in arms.values():
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    for mk in markers:
        QUERIES[mk](spark, sf_dir).write.format("noop") \
            .mode("overwrite").save()

    res: dict[str, float] = {}
    for rnd in range(rounds):
        for tag, fn in arms.items():
            spark.sparkContext.setJobDescription(
                f"ab:{tag}:recommend_batch:r{rnd}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            res[tag] = min(res.get(tag, float("inf")), dt)
            print(f"  r{rnd} {tag:3s} recommend_batch {dt:7.2f}s",
                  file=sys.stderr, flush=True)
        for mk in markers:
            spark.sparkContext.setJobDescription(f"ab:marker:{mk}:r{rnd}")
            t0 = time.perf_counter()
            QUERIES[mk](spark, sf_dir).write.format("noop") \
                .mode("overwrite").save()
            dt = time.perf_counter() - t0
            key = f"marker:{mk}:r{rnd}"
            res[key] = dt
            print(f"  r{rnd} {key} {dt:7.2f}s", file=sys.stderr, flush=True)

    out = {
        "session": kind, "sf_dir": sf_dir, "rounds": rounds,
        "old_min": round(res["old"], 2), "new_min": round(res["new"], 2),
        "speedup_old_over_new": round(res["old"] / res["new"], 3),
        "markers": {k: round(v, 2) for k, v in res.items()
                    if k.startswith("marker:")},
    }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
