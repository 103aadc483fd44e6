"""The offline batch workload: an analyst runs four registry jobs over the
whole generated graph, in a seeded order, and collects each result.

One operation is one pass over the job set. Its latency is the pass's
makespan; its cost is the program's CPU time over the pass (cpu.py),
which, unlike the makespan, a host shared with other tenants leaves
nearly unchanged. The first pass runs on a freshly started JVM, as an
analyst's batch run does; at the benchmark's run length a run holds one
pass.
"""

from __future__ import annotations

import time
from collections import defaultdict

import numpy as np

import check
import cpu
import gen
import sparkproc
import stats
from metrics import BATCH_JOBS
from tracing import Patches, duration, subtree_totals, wrap_program_functions

SHAPE = gen.RegistryShape()
TABLES = ("part", "customer", "orders", "lineitem")


def run(ctx) -> dict:
    tables = gen.registry_tables(SHAPE, ctx.seed)
    gen.write_parquet(tables, ctx.data_dir)
    order = [BATCH_JOBS[i] for i in
             np.random.default_rng([ctx.seed, 4]).permutation(len(BATCH_JOBS))]
    ctx.info["dataset"] = {"rows": {k: len(v) for k, v in tables.items()},
                           "content_sha256": gen.content_hash(tables),
                           "shape": SHAPE.__dict__, "job_order": order}
    tracer, patches = ctx.tracer, Patches()

    from graph_database_spark.registry import ORACLES, QUERIES
    from graph_database_spark.sources import load_tables

    t_setup, py_setup = time.perf_counter(), cpu.python_seconds()
    with tracer.span("session.start"):
        spark = sparkproc.start()
    pid = sparkproc.jvm_pid()
    try:
        if ctx.trace:
            tracer.spark_context = spark.sparkContext
            wrap_program_functions(tracer, patches)
        with tracer.span("sources.load"):
            for df in load_tables(spark, ctx.data_dir, TABLES).values():
                df.count()
        setup = {"cpu_s": cpu.jvm_seconds(pid) + cpu.python_seconds()
                 - py_setup, "wall_s": time.perf_counter() - t_setup}

        results, failures = [], {}
        last_rows = {}
        start = time.perf_counter()
        n_pass = 0
        while n_pass == 0 or time.perf_counter() - start < ctx.seconds:
            n_pass += 1
            pass_s = 0.0
            cpu_start = cpu.jvm_seconds(pid) + cpu.python_seconds()
            for i, job in enumerate(order):
                # traced runs execute each job twice, traced and not, in
                # alternating order; the difference is the tracing overhead
                sides = (((False, True) if i % 2 else (True, False))
                         if ctx.trace else (False,))
                for traced in sides:
                    tracer.enabled = traced
                    t = time.perf_counter()
                    try:
                        with tracer.op_scope(n_pass), \
                                tracer.span(f"queries.{job}", job=job):
                            df = QUERIES[job](spark, ctx.data_dir)
                            rows = df.collect()
                    except Exception as exc:  # a failed job fails the run
                        failures[(n_pass, job)] = \
                            f"{job}: {type(exc).__name__}: {exc}"
                        continue
                    results.append({"pass": n_pass, "job": job,
                                    "traced": traced, "rows": len(rows),
                                    "latency": time.perf_counter() - t})
                    pass_s += results[-1]["latency"]
                    last_rows[job] = (df.columns, rows)
            results.append({"pass": n_pass, "job": None, "traced": None,
                            "latency": pass_s,
                            "cpu": cpu.jvm_seconds(pid) + cpu.python_seconds()
                            - cpu_start,
                            "end": time.perf_counter() - start})
        tracer.enabled = True
        rss = sparkproc.peak_rss_mb()
        probes = sparkproc.host_probes(spark) if ctx.trace else {}
    finally:
        patches.undo()
        sparkproc.stop(spark)

    errors = list(failures.values())
    con = check.duckdb_views(ctx.data_dir, TABLES)
    try:
        for job in BATCH_JOBS:
            if job not in last_rows:
                continue
            cols, rows = last_rows[job]
            errors += check.check_oracle(job, cols, [r.asDict() for r in rows],
                                         con, ORACLES[job])
    finally:
        con.close()

    passes = [r for r in results if r["job"] is None]
    attempted = len(passes) * len(BATCH_JOBS)
    out = {"correct": not errors, "errors": errors,
           "attempted": attempted, "failed": len(failures)}
    ctx.info["failures"] = {"failed": len(failures), "attempted": attempted,
                            "fail_ratio": stats.ratio(len(failures),
                                                      attempted)}
    cpu_ms = [r["cpu"] * 1e3 for r in passes]
    ctx.info["latency"] = {"samples": len(passes),
                           "pass_ms": [r["latency"] * 1e3 for r in passes],
                           "pass_cpu_ms": cpu_ms,
                           "ops_per_s": len(passes) / passes[-1]["end"]}
    ctx.info["setup"] = setup
    ctx.info["memory"] = {"peak_rss_mb": rss}
    if not ctx.trace:
        out["metrics"] = {"setup_s": setup["cpu_s"],
                          "op_ms": stats.percentile(cpu_ms, 50)}
        return out
    out["metrics"] = {**probes, **_layers(ctx, results, len(passes))}
    return out


def _layers(ctx, results: list[dict], n_pass: int) -> dict:
    spans = ctx.finish_trace()
    jobs = subtree_totals(spans, "jobs")
    shuffle = subtree_totals(spans, "shuffle_bytes")
    out = {
        "session.start_s": sum(duration(s) for s in spans
                               if s["name"] == "session.start"),
        "sources.load_s": sum(duration(s) for s in spans
                              if s["name"] == "sources.load"),
        "session.jobs_per_op": sum(s.get("jobs", 0) for s in spans
                                   if s["op"] is not None) / n_pass,
        "graphs.pagerank_ms": 1e3 * sum(
            duration(s) for s in spans if s["name"] == "graphs.pagerank"
            and s["op"] is not None) / n_pass,
        "graphs.pagerank_jobs": sum(
            s.get("jobs", 0) for s in spans if s["name"] == "graphs.pagerank"
            and s["op"] is not None) / n_pass,
    }
    per_job = defaultdict(list)
    for s in spans:
        if s.get("job"):
            per_job[s["job"]].append(s)
    for job in BATCH_JOBS:
        ss = per_job[job]
        rows = [r["rows"] for r in results if r["job"] == job and r["traced"]]
        out[f"queries.{job}_s"] = stats.mean([duration(s) for s in ss])
        out[f"queries.{job}_jobs"] = stats.mean([jobs[s["id"]] for s in ss])
        out[f"queries.{job}_shuffle_mb"] = stats.mean(
            [shuffle[s["id"]] / 1e6 for s in ss])
        out[f"queries.{job}_rows"] = stats.mean(rows)
    pairs = defaultdict(dict)
    for r in results:
        if r["job"] is not None:
            pairs[(r["pass"], r["job"])][r["traced"]] = r["latency"]
    diffs = [p[True] - p[False] for p in pairs.values() if len(p) == 2]
    out["trace.overhead_ms"] = stats.percentile(diffs, 50) * 1e3
    return out
