"""The two serving workloads: one closed-loop client sends one request at a
time over loopback HTTP to the `recommend.http` shim.

- recs_dispatch: tp2 `GET /recs?strategy=…&customer_id=…&limit=…`.
- customer_recs: tp1 `GET /customers/{id}/recommendations?top_n=…`.
"""

from __future__ import annotations

import itertools
import json
import time
import urllib.error
import urllib.request
import collections
from collections import defaultdict
from urllib.parse import urlencode

import numpy as np

import check
import cpu
import gen
import sparkproc
import stats
from metrics import RECS_STRATEGIES
from tracing import (OP_HEADER, Patches, duration, wrap_program_functions,
                   wrap_serving)

SHAPES = {
    # heavier baskets: the uncached co-occurrence self-join does real work
    "recs_dispatch": gen.ReferenceShape(n_orders=3000, basket_mean=4.0),
    "customer_recs": gen.ReferenceShape(),
}

# The traffic shares, limit and top_n ranges below are assumptions, not
# measurements of real traffic; README.md lists each one.
# Request kinds come in a fixed cycle that realizes the traffic shares
# exactly, so every timed window of every seed sees the same mix (a random
# mix would move the median with the draw); the seed picks the customers,
# limits and top_n values.
# /recs: (strategy, with customer_id); shares 0.3 / 0.2 / 0.3 / 0.2
RECS_CYCLE = (("co_occurrence", False), ("similarity", True),
              ("pagerank", False), ("similarity", False),
              ("co_occurrence", False), ("similarity", True),
              ("co_occurrence", False), ("similarity", False),
              ("similarity", True), ("pagerank", False))
RECS_LIMITS = (1, 25)            # seeded limit, inclusive bounds
# /customers: customer roles; shares 0.8 buyer, 0.1 event-only, 0.05
# no-history (global-PageRank fallback), 0.05 unknown (404)
ROLE_CYCLE = (("buyer",) * 3 + ("event_only",) + ("buyer",) * 5
              + ("no_history",) + ("buyer",) * 3 + ("event_only",)
              + ("buyer",) * 5 + ("unknown",))
# sent after the timed window so every run checks the fallback and 404
CHECK_ROLES = ("no_history", "unknown")
TOP_N_RANGE = (0, 12)            # includes values the route must clamp
# the JVM's CPU per request levels off after about 60 /recs requests
WARMUP_RECS_CYCLES = 3
WARMUP_CUSTOMERS = 1
WARMUP_PROBES = 3                # the probe's first runs are slow
REQUEST_TIMEOUT_S = 120.0


def _customer_weights(tables, shape: gen.ReferenceShape):
    """Buyers weighted by their order count (the Zipf skew the generator
    put there); other roles uniform."""
    n_buy, n_evo, _ = gen.customer_roles(shape)
    ids = tables["customers"]["id"].tolist()
    counts = tables["orders"]["customer_id"].value_counts()
    buyers = ids[:n_buy]
    w = np.array([counts.get(c, 0) for c in buyers], dtype=np.float64) + 1e-12
    return {"buyer": (buyers, w / w.sum()),
            "event_only": (ids[n_buy:n_buy + n_evo], None),
            "no_history": (ids[n_buy + n_evo:], None)}


def recs_ops(tables, shape: gen.ReferenceShape, rng: np.random.Generator):
    """Endless seeded /recs request stream over RECS_CYCLE."""
    pools = _customer_weights(tables, shape)
    buyers, bw = pools["buyer"]
    known = buyers + pools["event_only"][0]
    for strategy, with_cust in itertools.cycle(RECS_CYCLE):
        limit = int(rng.integers(RECS_LIMITS[0], RECS_LIMITS[1] + 1))
        params = {"strategy": strategy, "limit": limit}
        cid = None
        if with_cust:
            cid = str(known[rng.integers(len(known))]) if rng.random() < 0.2 \
                else str(buyers[rng.choice(len(buyers), p=bw)])
            params["customer_id"] = cid
        yield {"kind": strategy, "strategy": strategy, "customer_id": cid,
               "limit": limit, "path": "/recs?" + urlencode(params)}


def customer_ops(tables, shape: gen.ReferenceShape, rng: np.random.Generator,
                 roles=None):
    """Seeded /customers/{id}/recommendations requests, one per role of
    `roles` (default: ROLE_CYCLE, endlessly). Buyers are drawn by order
    count, other known roles uniformly; unknown ids are never customers."""
    pools = _customer_weights(tables, shape)
    n_unknown = 0
    for role in itertools.cycle(ROLE_CYCLE) if roles is None else roles:
        if role == "unknown":
            n_unknown += 1
            cid = f"X{n_unknown:05d}"
        else:
            ids, w = pools[role]
            cid = str(ids[rng.choice(len(ids), p=w)])
        top_n = int(rng.integers(TOP_N_RANGE[0], TOP_N_RANGE[1] + 1))
        yield {"kind": "customer", "role": role, "customer_id": cid,
               "top_n": top_n,
               "path": f"/customers/{cid}/recommendations?top_n={top_n}"}


class Client:
    """Closed-loop HTTP client; proxies bypassed, loopback only."""

    def __init__(self, base: str):
        self.base = base
        self.opener = urllib.request.build_opener(
            urllib.request.ProxyHandler({}))

    def get(self, path: str, op_id: int) -> tuple[int | None, dict, float]:
        req = urllib.request.Request(self.base + path,
                                     headers={OP_HEADER: str(op_id)})
        t0 = time.perf_counter()
        try:
            with self.opener.open(req, timeout=REQUEST_TIMEOUT_S) as resp:
                status, data = resp.status, resp.read()
        except urllib.error.HTTPError as exc:
            status, data = exc.code, exc.read()
        except (urllib.error.URLError, TimeoutError, OSError):
            status, data = None, b"{}"
        latency = time.perf_counter() - t0
        try:
            body = json.loads(data)
        except ValueError:
            body = {}
        return status, body, latency


def _load_tables(spark, data_dir: str):
    """The six reference tables with their FIXTURES.md §1 schemas."""
    from graph_database_spark.sources import toy
    schemas = {"customers": toy.CUSTOMERS_SCHEMA,
               "categories": toy.CATEGORIES_SCHEMA,
               "products": toy.PRODUCTS_SCHEMA, "orders": toy.ORDERS_SCHEMA,
               "order_items": toy.ORDER_ITEMS_SCHEMA,
               "events": toy.EVENTS_SCHEMA}
    return {n: spark.read.schema(s).parquet(f"{data_dir}/{n}.parquet")
            for n, s in schemas.items()}


def run(ctx) -> dict:
    name = ctx.workload
    shape = SHAPES[name]
    tables = gen.reference_tables(shape, ctx.seed)
    gen.write_parquet(tables, ctx.data_dir)
    ctx.info["dataset"] = {
        "rows": {k: len(v) for k, v in tables.items()},
        "content_sha256": gen.content_hash(tables),
        "shape": shape.__dict__,
        "traffic": _traffic_info(name)}
    tracer, patches = ctx.tracer, Patches()
    make_ops = recs_ops if name == "recs_dispatch" else customer_ops

    from graph_database_spark.recommend.http import serve
    from graph_database_spark.recommend.service import RecommendationService
    from graph_database_spark.recommend.engine import SparkRecommendationEngine

    t_setup, py_setup = time.perf_counter(), cpu.python_seconds()
    with tracer.span("session.start"):
        spark = sparkproc.start()
    pid = sparkproc.jvm_pid()
    server = None
    try:
        if ctx.trace:
            tracer.spark_context = spark.sparkContext
            wrap_program_functions(tracer, patches)
        with tracer.span("sources.load"):
            frames = _load_tables(spark, ctx.data_dir)
        with tracer.span("recommend.service_build"):
            service = RecommendationService(spark, frames)
        engine = None
        if name == "customer_recs":
            with tracer.span("recommend.engine_build"):
                engine = SparkRecommendationEngine(
                    spark, frames, num_partitions=sparkproc.cpu_count())
        server = serve(service, engine)
        client = Client("http://127.0.0.1:%d" % server.server_address[1])
        if ctx.trace:
            wrap_serving(tracer, patches, server, service, engine)
        with tracer.span("warmup"):
            for op in _warmup_ops(name, make_ops(
                    tables, shape, np.random.default_rng([ctx.seed, 9]))):
                client.get(op["path"], 0)
            for _ in range(WARMUP_PROBES):
                sparkproc.probe_job_s(spark)
        setup = {"cpu_s": cpu.jvm_seconds(pid) + cpu.python_seconds()
                 - py_setup, "wall_s": time.perf_counter() - t_setup}

        results, probe_s = _measure(ctx, client, make_ops(
            tables, shape, np.random.default_rng([ctx.seed, 3])), spark,
            len(RECS_CYCLE) if name == "recs_dispatch" else 1)
        extra = []
        if name == "customer_recs":
            tracer.enabled = False
            for op in customer_ops(tables, shape,
                                   np.random.default_rng([ctx.seed, 5]),
                                   roles=CHECK_ROLES):
                status, body, _ = client.get(op["path"], 0)
                extra.append({"spec": op, "status": status, "body": body})
            tracer.enabled = True
        rss = sparkproc.peak_rss_mb()
        probes = sparkproc.host_probes(spark) if ctx.trace else {}
    finally:
        if server is not None:
            server.shutdown()
            server.server_close()
        patches.undo()
        sparkproc.stop(spark)

    errors = _check(name, ctx, tables, results + extra)
    return _report(ctx, setup, rss, results, probe_s, extra, errors, probes)


def _warmup_ops(name: str, ops) -> list[dict]:
    """Requests sent before timing, from a stream of their own:
    WARMUP_RECS_CYCLES whole /recs cycles, or WARMUP_CUSTOMERS full-path
    (buyer) customer requests. One customer request pays most of the
    one-time cost; later ones still get a little faster, but each costs
    seconds of set-up, which the run budget does not allow."""
    if name == "recs_dispatch":
        return list(itertools.islice(ops, WARMUP_RECS_CYCLES * len(RECS_CYCLE)))
    buyers = (op for op in ops if op["role"] == "buyer")
    return list(itertools.islice(buyers, WARMUP_CUSTOMERS))


def _traffic_info(name: str) -> dict:
    if name == "recs_dispatch":
        mix = collections.Counter(f"{st}{'+customer' if c else ''}"
                                  for st, c in RECS_CYCLE)
        return {"recs_mix": {k: v / len(RECS_CYCLE) for k, v in mix.items()},
                "limit_range": RECS_LIMITS}
    mix = collections.Counter(ROLE_CYCLE)
    return {"customer_mix": {k: v / len(ROLE_CYCLE) for k, v in mix.items()},
            "top_n_range": TOP_N_RANGE, "checked_after_window": CHECK_ROLES}


def _measure(ctx, client: Client, ops, spark,
             cycle: int) -> tuple[list[dict], list[float]]:
    """Closed loop for ctx.seconds, then on to the end of the current cycle
    of `cycle` ops, so the window holds whole cycles of the traffic mix.
    An untraced run times a host probe (sparkproc.probe_job_s) after every
    request; returns the results and the probe times. In a traced run
    every op is sent twice, once traced and once not, in alternating
    order, so the pair difference is the tracing overhead."""
    tracer = ctx.tracer
    results, probe_s = [], []
    start = time.perf_counter()
    op_id = 0
    while time.perf_counter() - start < ctx.seconds or op_id % cycle:
        op_id += 1
        op = next(ops)
        order = ((False, True) if op_id % 2 else (True, False)) \
            if ctx.trace else (False,)
        for traced in order:
            tracer.enabled = traced
            with tracer.op_scope(op_id), tracer.span("client.request",
                                                     kind=op["kind"]):
                status, body, latency = client.get(op["path"], op_id)
            results.append({"op": op_id, "traced": traced, "spec": op,
                            "status": status, "body": body,
                            "latency": latency,
                            "end": time.perf_counter() - start})
        if not ctx.trace:
            probe_s.append(sparkproc.probe_job_s(spark))
    tracer.enabled = True
    return results, probe_s


def _failed(res: dict) -> bool:
    return res["status"] is None or res["status"] >= 500


def _check(name: str, ctx, tables, results: list[dict]) -> list[str]:
    """Mismatches of every response; an exception, 5xx or timeout is one
    too, so a run with any failed request is not correct."""
    errors = [f"{r['spec']['path']}: failed, status {r['status']}"
              for r in results if _failed(r)]
    ok = [r for r in results if not _failed(r)]
    if name == "recs_dispatch":
        con = check.duckdb_views(ctx.data_dir, tables)
        try:
            for r in ok:
                s = r["spec"]
                if r["status"] != 200:
                    errors.append(f"{s['path']}: status {r['status']}")
                    continue
                errors += check.check_recs(con, s["strategy"],
                                           s["customer_id"], s["limit"],
                                           r["body"])
        finally:
            con.close()
    else:
        ref = check.Q1Reference(tables)
        for r in ok:
            s = r["spec"]
            errors += check.check_customer(ref, s["customer_id"], s["top_n"],
                                           r["status"], r["body"])
    return errors


def _report(ctx, setup: dict, rss: float, results: list[dict],
            probe_s: list[float], extra: list[dict], errors: list[str],
            probes: dict) -> dict:
    """`extra` are the untimed requests sent after the window for checking;
    they count as attempted but carry no latency."""
    ops = {r["op"] for r in results}
    failed_ops = {r["op"] for r in results if _failed(r)}
    out = {"correct": not errors, "errors": errors,
           "attempted": len(ops) + len(extra),
           "failed": len(failed_ops) + sum(map(_failed, extra))}
    ctx.info["failures"] = {
        "failed": out["failed"], "attempted": out["attempted"],
        "fail_ratio": stats.ratio(out["failed"], out["attempted"])}
    plain = [r for r in results if not r["traced"]]
    lat_ms = [r["latency"] * 1e3 for r in plain]
    q = stats.supported_percentile(len(lat_ms))
    ctx.info["latency"] = {
        "samples": len(lat_ms), "p50_ms": stats.percentile(lat_ms, 50),
        "highest_supported_percentile": q,
        "value_ms": stats.percentile(lat_ms, q) if q else None,
        "p90_ms": stats.percentile(lat_ms, 90),
        "mean_ms": stats.mean(lat_ms),
        # closed-loop rate, the host probes between requests left out
        "ops_per_s": len(plain) / sum(r["latency"] for r in plain),
        "all_ms": [round(x, 1) for x in lat_ms]}
    ctx.info["setup"] = setup
    ctx.info["memory"] = {"peak_rss_mb": rss}
    if not ctx.trace:
        ctx.info["host_probe_ms"] = [round(p * 1e3, 2) for p in probe_s]
        out["metrics"] = {
            "setup_s": setup["cpu_s"],
            "op_ms": stats.host_normalized(lat_ms, probe_s)}
        return out
    out["metrics"] = {**probes, **_layers(ctx, results, extra)}
    return out


def _layers(ctx, results: list[dict], extra: list[dict]) -> dict:
    spans = ctx.finish_trace()
    by_name = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)

    def setup(name):
        return sum(duration(s) for s in by_name[name] if s["op"] is None)

    build = {s["id"] for s in by_name["recommend.engine_build"]}
    traced = [r for r in results if r["traced"]]
    per_op: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s["op"] is None or s["op"] == 0:
            continue
        acc = per_op[s["op"]]
        acc["jobs"] += s.get("jobs", 0)
        acc[s["name"]] += duration(s)
        if s["name"] == "graphs.pagerank":
            acc["pagerank_jobs"] += s.get("jobs", 0)

    def mean_over(rs, fn):
        return stats.mean([fn(per_op[r["op"]], r) for r in rs])

    layer_names = ("recommend.service.recs", "recommend.engine.customer_call",
                   "recommend.http.collect")
    out = {
        "session.start_s": setup("session.start"),
        "sources.load_s": setup("sources.load"),
        "recommend.service_build_s": setup("recommend.service_build"),
        "recommend.engine_build_s": setup("recommend.engine_build"),
        "graphs.global_pagerank_s": sum(
            duration(s) for s in by_name["graphs.pagerank"]
            if s["parent"] in build),
        "session.jobs_per_op": mean_over(traced, lambda a, r: a["jobs"]),
        "recommend.http_ms": mean_over(traced, lambda a, r: 1e3 * (
            r["latency"] - sum(a[n] for n in layer_names))),
        "graphs.pagerank_ms": mean_over(
            traced, lambda a, r: 1e3 * a["graphs.pagerank"]),
        "graphs.pagerank_jobs": mean_over(
            traced, lambda a, r: a["pagerank_jobs"]),
    }
    for strat in RECS_STRATEGIES:
        rs = [r for r in traced if r["spec"]["kind"] == strat]
        out[f"recommend.recs.{strat}_ms"] = mean_over(rs, lambda a, r: 1e3 * (
            a["recommend.service.recs"] + a["recommend.http.collect"]))
    cust = [r for r in traced if r["spec"]["kind"] == "customer"]
    out["recommend.customer_call_ms"] = mean_over(
        cust, lambda a, r: 1e3 * a["recommend.engine.customer_call"])
    out["recommend.customer_collect_ms"] = mean_over(
        cust, lambda a, r: 1e3 * a["recommend.http.collect"])
    # over every customer request of the run, the checks after the window
    # included: a short window reaches only the first roles of ROLE_CYCLE
    sent = [r for r in results + extra
            if r["spec"]["kind"] == "customer" and not r.get("traced")]
    fallback = [r for r in sent if r["status"] == 200 and any(
        row.get("global_pagerank") is not None
        for row in r["body"].get("recommendations", []))]
    out["recommend.fallback_ratio"] = stats.ratio(len(fallback), len(sent))
    pairs = defaultdict(dict)
    for r in results:
        pairs[r["op"]][r["traced"]] = r["latency"]
    diffs = [p[True] - p[False] for p in pairs.values() if len(p) == 2]
    out["trace.overhead_ms"] = stats.percentile(diffs, 50) * 1e3 \
        if diffs else 0.0
    return out
