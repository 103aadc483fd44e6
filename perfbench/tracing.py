"""Spans around the benchmark's calls into each layer.

A span records (id, name, start, end, parent, op) and is kept in memory
until the run writes them all out at the end. While a span is open, the
Spark job group of the calling thread names the span, so the Spark event
log (enabled only in traced runs) attributes every job, and every byte it
shuffles, to exactly one span: nested spans set their own group and
restore their parent's when they close.

Spark job-group properties are per Python thread, so spans are opened on
the thread that calls into the layer: the shim's request-handler thread
for serving (by wrapping the handler and the service / engine methods its
route closures call), the main thread for batch jobs.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict

OP_HEADER = "X-Perfbench-Op"
_GROUP_PROP = "spark.jobGroup.id"


class Tracer:
    """In-memory span recorder. `enabled=False` makes every span a no-op,
    so one code path serves the traced and the untraced executions."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = True
        self.spark_context = None
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def op_scope(self, op):
        """Attribute spans opened on this thread to operation `op`."""
        prev = getattr(self._local, "op", None)
        self._local.op = op
        try:
            yield
        finally:
            self._local.op = prev

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {"id": next(self._ids), "name": name,
               "parent": parent["id"] if parent else None,
               "op": getattr(self._local, "op", None), **attrs}
        sc = self.spark_context
        prev_group = None
        if sc is not None:
            rec["group"] = f"perfbench-span-{rec['id']}"
            prev_group = sc.getLocalProperty(_GROUP_PROP)
            sc.setLocalProperty(_GROUP_PROP, rec["group"])
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if sc is not None:
                sc.setLocalProperty(_GROUP_PROP, prev_group)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, fn, name: str, attr_fn=None):
        """fn wrapped in a span; attr_fn(*args, **kwargs) adds attributes."""
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            attrs = attr_fn(*args, **kwargs) if attr_fn else {}
            with self.span(name, **attrs):
                return fn(*args, **kwargs)
        return wrapper

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                f.write(json.dumps(rec) + "\n")


class Patches:
    """setattr with undo, for wrapping program functions and methods."""

    def __init__(self) -> None:
        self._saved: list[tuple[object, str, object, bool]] = []

    def set(self, obj, name: str, value) -> None:
        had = name in vars(obj)
        self._saved.append((obj, name, vars(obj).get(name), had))
        setattr(obj, name, value)

    def undo(self) -> None:
        for obj, name, old, had in reversed(self._saved):
            if had:
                setattr(obj, name, old)
            else:
                delattr(obj, name)
        self._saved.clear()


def wrap_program_functions(tracer: Tracer, patches: Patches) -> None:
    """Module-level call points: the PageRank loops (`pagerank`, bound by
    name in the engine and service modules as well as its own, and
    `pagerank_batch`, which the registry jobs import at call time), both
    as `graphs.pagerank` spans, and the shim's collect."""
    from graph_database_spark.graphs import pagerank as pr_mod
    from graph_database_spark.recommend import engine as engine_mod
    from graph_database_spark.recommend import http as http_mod
    from graph_database_spark.recommend import service as service_mod

    pagerank = tracer.wrap(pr_mod.pagerank, "graphs.pagerank")
    for mod in (pr_mod, engine_mod, service_mod):
        patches.set(mod, "pagerank", pagerank)
    patches.set(pr_mod, "pagerank_batch",
                tracer.wrap(pr_mod.pagerank_batch, "graphs.pagerank"))
    patches.set(http_mod, "_rows",
                tracer.wrap(http_mod._rows, "recommend.http.collect"))


def wrap_serving(tracer: Tracer, patches: Patches, server, service,
                 engine) -> None:
    """Instance-level call points the shim's route closures reach, plus the
    request handler, which reads the op id the client sent."""
    if service is not None:
        patches.set(service, "recs", tracer.wrap(
            service.recs, "recommend.service.recs",
            lambda strategy, *a, **k: {"strategy": strategy}))
    if engine is not None:
        patches.set(engine, "recommend_for_customer", tracer.wrap(
            engine.recommend_for_customer, "recommend.engine.customer_call"))
    handler_cls = server.RequestHandlerClass
    do_get = handler_cls.do_GET

    @functools.wraps(do_get)
    def traced_do_get(handler):
        op = handler.headers.get(OP_HEADER)
        with tracer.op_scope(int(op) if op is not None else None):
            with tracer.span("recommend.http.handle"):
                return do_get(handler)

    patches.set(handler_cls, "do_GET", traced_do_get)


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """{job group: {"jobs": n, "shuffle_bytes": b}} from the Spark event
    log in log_dir. A stage belongs to the first job that lists it."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {len(paths)}")
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"jobs": 0, "shuffle_bytes": 0})
    stage_group: dict[int, str] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(_GROUP_PROP)
                if group is None:
                    continue
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                metrics = ev.get("Task Metrics") or {}
                written = (metrics.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                if group is not None:
                    out[group]["shuffle_bytes"] += written
    return dict(out)


def attach_event_counts(spans: list[dict],
                        groups: dict[str, dict[str, float]]) -> None:
    """Copy each span's own job count and shuffle bytes onto it."""
    for rec in spans:
        got = groups.get(rec.get("group"), {})
        rec["jobs"] = got.get("jobs", 0)
        rec["shuffle_bytes"] = got.get("shuffle_bytes", 0)


def subtree_totals(spans: list[dict], key: str) -> dict[int, float]:
    """span id → key summed over the span and all its descendants. A child
    span always ends before its parent, so one pass in end order suffices."""
    tot: dict[int, float] = defaultdict(float)
    for rec in sorted(spans, key=lambda r: r["end"]):
        tot[rec["id"]] += rec.get(key, 0)
        if rec["parent"] is not None:
            tot[rec["parent"]] += tot[rec["id"]]
    return dict(tot)


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]
