"""HTTP serving shim over the recommendation service layer.

The reference serves two FastAPI apps (ref: tp1/knoledge_graphs/api.py:54-96,
ref: tp2/app/main.py:37-89); this module reproduces their ROUTES — paths,
query params, status codes, response shapes — on the standard library's
`http.server`, since FastAPI is not available in this container. The
route handlers are thin JSON adapters: every decision (strategy dispatch,
400/404 mapping, top_n clamping, 6-dp rounding) already lives in
`recommend/service.py` / `recommend/engine.py`, so swapping this shim for
a real FastAPI app is a mechanical re-decoration.

`/recs` is answered from the service's one index: the cached incidence
and the order lines, collected once at build in the program's one
bounded collect (`graphs.superstep.local_tables`), up to
`superstep.LOCAL_EDGE_ROWS` rows together. The answers that depend
only on `limit` (`co_occurrence`, `similarity` without a customer, the
`pagerank` stub) slice rankings counted at build, and per-customer `similarity` runs a
numpy kernel over the incidence codes, so none of these requests runs a
Spark job; `pagerank_exact` runs PageRank once, on first use, and slices
the kept ranking, with or without the index. All reflect the tables as
of service build. The one fallback for the other strategies, when the
collect is over the bound or has a null or non-string key, is a Spark
plan per request. Both `/customers` routes still run
Spark plans per request: a demo/test surface, not the 100 TB path, where
serving would precompute `recommend_batch` into a key-value store. The
shim exists so a user of the reference can port their curl calls
unchanged.
"""

from __future__ import annotations

import json
import logging
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame, Row

from .service import (
    RecommendationService, UnknownCustomerError, UnknownStrategyError,
    clamp_top_n, customer_recommendations,
)


def _rows(rows: DataFrame | list[Row]) -> list[dict]:
    """JSON-ready dicts of a DataFrame's rows or of already-collected rows."""
    if isinstance(rows, DataFrame):
        rows = rows.collect()
    return [r.asDict(recursive=True) for r in rows]


def _routes(service: RecommendationService, engine) -> dict:
    """Route table: (method, pattern) handlers returning (status, body)."""

    def health(_params):
        # tp2 main.py:37-48 reports backend connectivity; the Spark
        # session is in-process, so liveness == an answering trivial job
        ok = service.spark.range(1).count() == 1
        return 200, {"ok": ok, "engine": "spark" if ok else "unavailable"}

    def root(_params):
        # tp2 main.py:51-59
        return 200, {
            "message": "E-Commerce Graph Recommendations API",
            "endpoints": {"health": "/health", "recommendations": "/recs"},
        }

    def recs(params):
        # tp2 main.py:62-89: dispatch, unknown strategy → 400
        strategy = params.get("strategy", ["co_occurrence"])[0]
        customer_id = params.get("customer_id", [None])[0]
        limit = int(params.get("limit", ["10"])[0])
        try:
            out = service.recs(strategy, customer_id=customer_id,
                               limit=limit)
        except UnknownStrategyError as exc:
            return 400, {"detail": str(exc)}
        return 200, {"strategy": strategy, "customer_id": customer_id,
                     "recommendations": _rows(out)}

    def cust_recs(customer_id, params):
        # tp1 api.py:65-76: clamp top_n, unknown customer → 404
        top_n = int(params.get("top_n", ["3"])[0])
        try:
            out = customer_recommendations(engine, customer_id, top_n)
        except UnknownCustomerError as exc:
            return 404, {"detail": str(exc)}
        return 200, {"customer_id": customer_id,
                     "recommendations": _rows(out)}

    def cust_strategies(customer_id, params):
        # tp1 api.py:78-96; same Query(3, ge=1, le=10) bound as the
        # recommendations route
        top_n = clamp_top_n(int(params.get("top_n", ["3"])[0]))
        try:
            breakdown = engine.strategy_breakdown(customer_id, top_n)
        except ValueError as exc:
            return 404, {"detail": str(exc)}
        return 200, {"customer_id": customer_id,
                     "strategies": {k: _rows(v)
                                    for k, v in breakdown.items()}}

    return {"health": health, "root": root, "recs": recs,
            "cust_recs": cust_recs, "cust_strategies": cust_strategies}


def make_handler(service: RecommendationService, engine):
    routes = _routes(service, engine)

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # silence per-request stderr noise
            pass

        def do_GET(self):
            url = urlparse(self.path)
            params = parse_qs(url.query)
            parts = [p for p in url.path.split("/") if p]
            try:
                if not parts:
                    status, body = routes["root"](params)
                elif parts == ["health"]:
                    status, body = routes["health"](params)
                elif parts == ["recs"]:
                    status, body = routes["recs"](params)
                elif (len(parts) == 3 and parts[0] == "customers"
                        and parts[2] == "recommendations"):
                    status, body = routes["cust_recs"](parts[1], params)
                elif (len(parts) == 3 and parts[0] == "customers"
                        and parts[2] == "strategies"):
                    status, body = routes["cust_strategies"](parts[1],
                                                             params)
                else:
                    status, body = 404, {"detail": "Not Found"}
            except (ValueError, KeyError) as exc:
                status, body = 422, {"detail": f"bad request: {exc}"}
            except Exception as exc:  # Spark/Py4J failures → clean 500
                # log server-side only: str(exc) can carry Py4J stack
                # detail (paths, internal class names) that must not
                # reach HTTP clients (ADVICE r5)
                logging.getLogger(__name__).exception(
                    "unhandled error serving %s: %s", self.path, exc)
                status, body = 500, {"detail": "internal error"}
            payload = json.dumps(body).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

    return Handler


def serve(service: RecommendationService, engine, host: str = "127.0.0.1",
          port: int = 0) -> ThreadingHTTPServer:
    """Start the shim on a background thread; returns the server (its
    .server_address carries the bound port when port=0). Call
    .shutdown() to stop."""
    server = ThreadingHTTPServer((host, port), make_handler(service, engine))
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server
