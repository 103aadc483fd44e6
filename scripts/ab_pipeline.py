#!/usr/bin/env python
"""Interleaved same-process A/B for the pipeline_curate_pack stage fusion
(r12 verdict "next round" #7): old = s3 materialized in its own
localCheckpoint job (re-copying every surviving text byte), new = stages
2-4 fused into one plan (s3 is a cheap broadcast semi-join re-derived by
each consumer; s4 stays checkpointed so SemDeDup still runs once).

The query function is swapped by re-exec'ing queries/pipeline.py from a
git ref vs the working tree — @register overwrites the QUERIES entry on
each exec, so arms alternate inside ONE process (the repo's A/B rule).

Markers (identical code both arms): dedup_minhash_lsh +
dedup_winnow_substrings.

Usage: python scripts/ab_pipeline.py [OLD_REF] [ROUNDS]
Env:   AB_SESSION=tuned|driver-default, SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

MODULE = "graph_database_spark.queries.pipeline"
REL = "graph_database_spark/queries/pipeline.py"


def _exec_from(path: str) -> None:
    """(Re-)exec the pipeline query module from `path`; its @register
    decorators overwrite the shared QUERIES entries in place."""
    spec = importlib.util.spec_from_file_location(MODULE, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[MODULE] = mod
    spec.loader.exec_module(mod)


def main() -> None:
    old_ref = sys.argv[1] if len(sys.argv) > 1 else "HEAD"
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    session_kind = os.environ.get("AB_SESSION", "driver-default")
    from pyspark.sql import SparkSession
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if session_kind == "tuned":
        from graph_database_spark.session import get_spark
        spark = get_spark("ab-pipeline")
    else:
        from graph_database_spark.session import driver_memory
        spark = (SparkSession.builder.master(f"local[{cpus}]")
                 .appName("ab-pipeline")
                 .config("spark.sql.session.timeZone", "UTC")
                 .config("spark.driver.memory", driver_memory())
                 .config("spark.ui.enabled", "false")
                 .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from graph_database_spark.registry import QUERIES

    old_src = subprocess.run(
        ["git", "-C", HERE, "show", f"{old_ref}:{REL}"],
        capture_output=True, text=True, check=True).stdout
    os.makedirs("/tmp/ab_pipe", exist_ok=True)
    old_path = "/tmp/ab_pipe/pipeline_old.py"
    with open(old_path, "w") as fh:
        fh.write(old_src)
    new_path = os.path.join(HERE, REL)

    target = "pipeline_curate_pack"
    markers = ["dedup_minhash_lsh", "dedup_winnow_substrings"]

    # warm-up both arms (discarded)
    for path in (old_path, new_path):
        _exec_from(path)
        QUERIES[target](spark, sf_dir).write.format("noop") \
            .mode("overwrite").save()
    for mk in markers:
        QUERIES[mk](spark, sf_dir).write.format("noop") \
            .mode("overwrite").save()

    res: dict[str, list[float]] = {}
    for rnd in range(rounds):
        for tag, path in (("old", old_path), ("new", new_path)):
            _exec_from(path)
            spark.sparkContext.setJobDescription(f"ab:{tag}:{target}:r{rnd}")
            t0 = time.perf_counter()
            QUERIES[target](spark, sf_dir).write.format("noop") \
                .mode("overwrite").save()
            dt = time.perf_counter() - t0
            res.setdefault(tag, []).append(dt)
            print(f"  r{rnd} {tag:3s} {target} {dt:7.2f}s",
                  file=sys.stderr, flush=True)
        for mk in markers:
            spark.sparkContext.setJobDescription(f"ab:marker:{mk}:r{rnd}")
            t0 = time.perf_counter()
            QUERIES[mk](spark, sf_dir).write.format("noop") \
                .mode("overwrite").save()
            res.setdefault(f"marker:{mk}", []).append(
                time.perf_counter() - t0)
    _exec_from(new_path)

    out = {
        "session": session_kind, "sf_dir": sf_dir, "rounds": rounds,
        "old_min": round(min(res["old"]), 2),
        "new_min": round(min(res["new"]), 2),
        "old_draws": [round(x, 2) for x in res["old"]],
        "new_draws": [round(x, 2) for x in res["new"]],
        "speedup_old_over_new": round(min(res["old"]) / min(res["new"]), 3),
        "markers": {k: [round(x, 2) for x in v]
                    for k, v in res.items() if k.startswith("marker:")},
    }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
