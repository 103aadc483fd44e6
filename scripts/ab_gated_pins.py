#!/usr/bin/env python
"""Interleaved same-process A/B of the superstep-loop modules in
graphs/: the files at a git ref against the working tree, on a
DRIVER-DEFAULT session (10 MB auto-broadcast, default shuffle partitions,
no bench-only tuning) or, with AB_SESSION=tuned, on session.get_spark().

Methodology (the repo's measured pitfall list, .claude/skills/verify):
separate bench processes drift 1.6-2.5x on this rig and have inverted
conclusions, so both variants run ALTERNATING in ONE process, swapped
via sys.modules (the query functions import the graph modules lazily,
so each pass resolves whichever module object is installed). Report the
per-variant MIN per query.

Each variant loads only the AB_MODULES that exist at its ref, in list
order, so a module new in the working tree (superstep) is swapped in
first on the new side and absent on the old side, whose modules import
what they need from each other.

Usage: python scripts/ab_gated_pins.py [OLD_REF] [ROUNDS]
  OLD_REF: git ref holding the old graphs/ files (default HEAD)
  SPARK_GRAFT_SF_DIR: testdata directory (default /root/testdata/sf0.1)
  SPARK_GRAFT_DRIVER_MEM: driver heap (default half the host's RAM)
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

QUERIES_UNDER_TEST = os.environ.get(
    "AB_QUERIES",
    "pagerank_fixed20,ppr_fixed20_batch,ppr_batch_focal,hits_fixed10,"
    "graph_hyperanf_nf,graph_hyperanf_diameter,pagerank_global,"
    "connected_components_star,connected_components,"
    "shortest_paths_landmark,sssp_weighted_fixed8,"
    "graph_lpa_communities").split(",")
SWAPPED_MODULES = os.environ.get(
    "AB_MODULES", "superstep,pagerank,hits,traversal,anf").split(",")


def _load_variant(ref: str, tag: str) -> dict[str, object]:
    """Materialize the graphs submodules that exist at a git ref as
    importable module objects carrying the real package names (so their
    relative imports resolve against the live package)."""
    mods: dict[str, object] = {}
    sources = {}
    for name in SWAPPED_MODULES:
        shown = subprocess.run(
            ["git", "-C", HERE, "show",
             f"{ref}:graph_database_spark/graphs/{name}.py"],
            capture_output=True, text=True)
        if shown.returncode == 0:
            sources[name] = shown.stdout
    # load in dependency order; each load sees prior loads via sys.modules
    saved = {n: sys.modules.get(f"graph_database_spark.graphs.{n}")
             for n in sources}
    try:
        with tempfile.TemporaryDirectory(prefix=f"ab_{tag}_") as vdir:
            for name, src in sources.items():
                path = os.path.join(vdir, f"{name}.py")
                with open(path, "w") as fh:
                    fh.write(src)
                fq = f"graph_database_spark.graphs.{name}"
                spec = importlib.util.spec_from_file_location(fq, path)
                mod = importlib.util.module_from_spec(spec)
                sys.modules[fq] = mod
                spec.loader.exec_module(mod)
                mods[name] = mod
    finally:
        for n, m in saved.items():
            if m is not None:
                sys.modules[f"graph_database_spark.graphs.{n}"] = m
    return mods


def _install(mods: dict[str, object]) -> None:
    for name, mod in mods.items():
        sys.modules[f"graph_database_spark.graphs.{name}"] = mod


def main() -> None:
    old_ref = sys.argv[1] if len(sys.argv) > 1 else "HEAD"
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    session_kind = os.environ.get("AB_SESSION", "driver-default")
    from pyspark.sql import SparkSession
    from graph_database_spark.session import driver_memory
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if session_kind == "tuned":
        from graph_database_spark.session import get_spark
        spark = get_spark("ab-gated-pins")
    else:
        spark = (SparkSession.builder.master(f"local[{cpus}]")
                 .appName("ab-gated-pins")
                 .config("spark.sql.session.timeZone", "UTC")
                 .config("spark.driver.memory", driver_memory())
                 .config("spark.ui.enabled", "false")
                 .getOrCreate())
        assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") \
            in ("10485760", "10485760b"), "session is not driver-default"
    spark.sparkContext.setLogLevel("ERROR")

    # import the package ONCE with the new (working-tree) modules live
    from graph_database_spark.registry import QUERIES

    import importlib
    new_mods = {n: importlib.import_module(f"graph_database_spark.graphs.{n}")
                for n in SWAPPED_MODULES}
    old_mods = _load_variant(old_ref, "old")

    names = [n for n in QUERIES_UNDER_TEST if n in QUERIES]
    # warm-up: parquet footers + codegen, new variant (discarded)
    for n in names:
        QUERIES[n](spark, sf_dir).write.format("noop").mode("overwrite").save()

    results: dict[str, dict[str, float]] = {
        n: {"old": float("inf"), "new": float("inf")} for n in names}
    for rnd in range(rounds):
        for tag, mods in (("old", old_mods), ("new", new_mods)):
            _install(mods)
            for n in names:
                spark.sparkContext.setJobDescription(f"ab:{tag}:{n}:r{rnd}")
                t0 = time.perf_counter()
                QUERIES[n](spark, sf_dir).write.format("noop") \
                    .mode("overwrite").save()
                dt = time.perf_counter() - t0
                results[n][tag] = min(results[n][tag], dt)
                print(f"  r{rnd} {tag:3s} {n:28s} {dt:7.2f}s",
                      file=sys.stderr, flush=True)
    _install(new_mods)

    out = {n: {"old_min": round(v["old"], 2), "new_min": round(v["new"], 2),
               "speedup_old_over_new": round(v["old"] / v["new"], 3)}
           for n, v in results.items()}
    tot_old = sum(v["old"] for v in results.values())
    tot_new = sum(v["new"] for v in results.values())
    print(json.dumps({"session": session_kind,
                      "sf_dir": sf_dir, "rounds": rounds,
                      "total_old": round(tot_old, 2),
                      "total_new": round(tot_new, 2),
                      "queries": out}, indent=1))


if __name__ == "__main__":
    main()
