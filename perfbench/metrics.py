"""Names and units of every metric the benchmark prints.

BENCHMARK.json lists the same names; test_perfbench checks the two agree.
Every workload prints every end-to-end metric with `--trace 0` and every
per-layer metric with `--trace 1` (0 where the workload never reaches the
layer). README.md maps each per-layer metric to the end-to-end metric it
should move.
"""

from __future__ import annotations

WORKLOADS = ("recs_dispatch", "customer_recs", "batch_registry")

# `pagerank_fixed20` is left out: it made a pass about 30 % longer, and on a
# slow host that broke the run budget of two workloads; `ppr_fixed20_batch`
# runs the same fixed-superstep loop for every customer at once.
BATCH_JOBS = ("recommend_batch", "ppr_fixed20_batch",
              "similarity_jaccard_topk", "cooccurrence_pairs")

RECS_STRATEGIES = ("co_occurrence", "similarity", "pagerank")

# On a host shared with other tenants, wall time swings with their load,
# so both times are taken in a form that load leaves nearly unchanged:
# - setup_s: CPU seconds of set-up (cpu.py).
# - op_ms: per operation; on the serving workloads the mean request
#   latency rescaled by host probes timed between requests
#   (stats.host_normalized), on batch_registry the CPU time of a pass.
# Raw wall latency, makespan and rate are printed on '#' lines, and so is
# the driver's peak resident memory: with the heap capped, it follows how
# much of the heap G1 happens to touch, and spread up to 0.24 over ten
# seeds of one code.
END_TO_END = {
    "setup_s": "s",
    "op_ms": "ms",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.jobs_per_op": "count",
    "session.empty_job_ms": "ms",
    "session.cpu_probe_s": "s",
    "sources.load_s": "s",
    "recommend.service_build_s": "s",
    "recommend.engine_build_s": "s",
    "recommend.http_ms": "ms",
    **{f"recommend.recs.{s}_ms": "ms" for s in RECS_STRATEGIES},
    "recommend.customer_call_ms": "ms",
    "recommend.customer_collect_ms": "ms",
    "recommend.fallback_ratio": "ratio",
    "graphs.global_pagerank_s": "s",
    "graphs.pagerank_ms": "ms",
    "graphs.pagerank_jobs": "count",
    **{f"queries.{j}_{k}": u for j in BATCH_JOBS
       for k, u in (("s", "s"), ("jobs", "count"), ("shuffle_mb", "MB"),
                    ("rows", "count"))},
    "trace.overhead_ms": "ms",
}
