"""End-to-end HTTP shim tests: the reference's curl calls, served by the
stdlib shim over the Spark service/engine layer (recommend/http.py)."""

from __future__ import annotations

import contextlib
import json
import random
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import urlencode

import pytest
from pyspark.sql import functions as F

from graph_database_spark.graphs import superstep
from graph_database_spark.recommend import service as service_mod
from graph_database_spark.recommend.engine import SparkRecommendationEngine
from graph_database_spark.recommend.http import serve
from graph_database_spark.recommend.service import (
    VALID_STRATEGIES, RecommendationService,
)


@pytest.fixture(scope="module")
def server(spark, toy):
    service = RecommendationService(spark, toy)
    engine = SparkRecommendationEngine(spark, toy, num_partitions=4)
    srv = serve(service, engine)
    yield f"http://{srv.server_address[0]}:{srv.server_address[1]}"
    srv.shutdown()


def _get(url):
    try:
        with urllib.request.urlopen(url, timeout=120) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as exc:
        return exc.code, json.loads(exc.read())


def test_health_and_root(server):
    status, body = _get(f"{server}/health")
    assert status == 200 and body["ok"] is True
    status, body = _get(f"{server}/")
    assert status == 200 and "endpoints" in body


def test_recs_strategies_and_400(server):
    status, body = _get(f"{server}/recs?strategy=co_occurrence&limit=10")
    assert status == 200
    got = {(r["product_id"], r["co_count"])
           for r in body["recommendations"]}
    assert got == {("P2", 2), ("P1", 1), ("P4", 1)}
    status, body = _get(f"{server}/recs?strategy=bogus")
    assert status == 400 and "bogus" in body["detail"]


def test_customer_recommendations_and_404(server):
    # C1 touched every product -> excluded to [] (the tp1 golden); C2 has
    # real recommendations
    status, body = _get(f"{server}/customers/C1/recommendations?top_n=3")
    assert status == 200 and body["customer_id"] == "C1"
    assert body["recommendations"] == []
    status, body = _get(f"{server}/customers/C2/recommendations?top_n=3")
    assert status == 200
    assert body["recommendations"]
    assert all("product_id" in r and "score" in r
               for r in body["recommendations"])
    status, body = _get(f"{server}/customers/NOPE/recommendations")
    assert status == 404


def test_customer_strategies(server):
    status, body = _get(f"{server}/customers/C2/strategies?top_n=3")
    assert status == 200
    assert set(body["strategies"]) >= {"co_occurrence", "similarity"}
    for entries in body["strategies"].values():
        assert all("product_id" in e for e in entries)


def test_unknown_route_404(server):
    status, _ = _get(f"{server}/definitely/not/a/route")
    assert status == 404


def test_strategies_top_n_clamped(server):
    """tp1 bounds top_n with Query(3, ge=1, le=10) on BOTH customer
    routes (api.py:66,82); out-of-range values clamp instead of leaking
    through to the engine."""
    status, body = _get(f"{server}/customers/C2/strategies?top_n=100")
    assert status == 200
    for entries in body["strategies"].values():
        assert len(entries) <= 10
    status, body = _get(f"{server}/customers/C2/strategies?top_n=-1")
    assert status == 200  # clamps to 1, not an engine error


def test_internal_errors_are_well_formed_500(server, monkeypatch):
    """Non-ValueError failures from the Spark-backed handlers must come
    back as a well-formed HTTP 500 JSON body, not a dropped response."""
    import graph_database_spark.recommend.http as http_mod

    def boom(df):
        raise RuntimeError("spark exploded")

    monkeypatch.setattr(http_mod, "_rows", boom)
    status, body = _get(f"{server}/recs?strategy=co_occurrence")
    assert status == 500
    # generic body only: exception text (Py4J stacks, paths) must never
    # reach the client (ADVICE r5)
    assert body["detail"] == "internal error"
    assert "spark exploded" not in str(body)


@contextlib.contextmanager
def _shim(service, engine):
    """Serve on a free port; yields the base URL."""
    srv = serve(service, engine)
    try:
        yield f"http://{srv.server_address[0]}:{srv.server_address[1]}"
    finally:
        srv.shutdown()
        srv.server_close()


def _service(spark, tables, local_rows):
    """A service built while `superstep.LOCAL_EDGE_ROWS` is `local_rows`;
    the bound is restored before any request, so `pagerank_exact` keeps
    its regime."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(superstep, "LOCAL_EDGE_ROWS", local_rows)
        return RecommendationService(spark, tables)


@pytest.fixture(scope="module")
def spark_path_server(spark, toy):
    """A shim whose service was built with the collect bound below the
    toy tables, so it has no index and every /recs request but
    `pagerank_exact` runs the Spark plan."""
    with _shim(_service(spark, toy, 0), None) as url:
        yield url


def _concurrent_recs_match_answers_sent_alone(base):
    """8 client threads share the service (its index, or its Spark path)
    through the threaded shim; every body equals the same request's body
    sent alone."""
    rng = random.Random(20261017)
    pool = [(strategy, customer, limit)
            for strategy in ("co_occurrence", "similarity", "pagerank")
            for customer in (None, "C1", "C2")
            for limit in (0, 1, 2, 3, 4)]
    # pagerank_exact runs a whole PageRank loop on its first request, on
    # either path, and slices the kept ranking after that; the seeded mix
    # sends it twice, beside the cheaper strategies
    mix = ([("pagerank_exact", None, 3), ("pagerank_exact", "C2", 2)]
           + rng.sample(pool, 30))
    # every strategy with and without a customer, and every limit
    assert {(s, c is None) for s, c, _ in mix} == {
        (s, c) for s in VALID_STRATEGIES for c in (True, False)}
    assert {n for _, _, n in mix} == {0, 1, 2, 3, 4}

    def path(req):
        strategy, customer, limit = req
        params = {"strategy": strategy, "limit": limit}
        if customer is not None:
            params["customer_id"] = customer
        return f"{base}/recs?{urlencode(params)}"

    alone = {req: _get(path(req)) for req in set(mix)}
    assert all(status == 200 for status, _ in alone.values())
    with ThreadPoolExecutor(max_workers=8) as pool_exec:
        together = list(pool_exec.map(lambda r: _get(path(r)), mix))
    for req, got in zip(mix, together):
        assert got == alone[req], req


def test_concurrent_recs_match_answers_sent_alone(server):
    _concurrent_recs_match_answers_sent_alone(server)


def test_concurrent_recs_match_answers_sent_alone_on_spark_path(
        spark_path_server):
    _concurrent_recs_match_answers_sent_alone(spark_path_server)


def test_malformed_limit_is_422_and_unknown_strategy_400(server):
    status, body = _get(f"{server}/recs?strategy=co_occurrence&limit=abc")
    assert status == 422 and "detail" in body
    status, body = _get(f"{server}/recs?strategy=bogus&limit=3")
    assert status == 400 and "bogus" in body["detail"]


def test_spark_failure_is_500_and_next_request_succeeds(spark_path_server,
                                                       monkeypatch):
    """A Spark job that fails mid-request (the per-customer operator's plan
    raises inside an executor task) returns the generic 500; the shim,
    its session and the service serve the next request normally. The
    shim's index bound is forced below the toy tables, so the
    per-customer request runs that Spark plan."""
    server = spark_path_server
    url = f"{server}/recs?strategy=similarity&customer_id=C2&limit=5"
    status, want = _get(url)
    assert status == 200 and want["recommendations"]

    def failing_plan(incidence, customer_id):
        return incidence.select(
            "product_id",
            F.raise_error(F.lit("injected failure")).cast("long")
            .alias("cf_count"))

    monkeypatch.setattr(service_mod, "user_cf_scores", failing_plan)
    status, body = _get(url)
    assert status == 500 and body == {"detail": "internal error"}
    monkeypatch.undo()
    assert _get(url) == (200, want)
    status, body = _get(f"{server}/recs?strategy=co_occurrence&limit=10")
    assert status == 200 and {(r["product_id"], r["co_count"])
                              for r in body["recommendations"]} == {
        ("P2", 2), ("P1", 1), ("P4", 1)}


@pytest.fixture(scope="module")
def roles_server(spark, toy_roles):
    """A shim with an engine (and no /recs service) over the toy tables
    plus a no-history customer. PageRank stops after 5 supersteps: the
    test compares answers under concurrency, not with the goldens."""
    engine = SparkRecommendationEngine(spark, toy_roles, max_iterations=5,
                                       num_partitions=4)
    with _shim(None, engine) as url:
        yield url


def test_concurrent_customer_routes_match_answers_sent_alone(roles_server):
    """4 client threads send seeded /customers requests for every customer
    role (buyer, event-only, no-history, unknown) to both routes; every
    body equals the same request's body sent alone, and an unknown id
    stays a 404."""
    roles = {"C2": 200, "C3": 200, "C4": 200, "X1": 404}
    rng = random.Random(20261018)
    # every role on both routes with a seeded top_n (0 and 11 clamp), in
    # a seeded order
    mix = [f"/customers/{cid}/{route}?top_n={rng.choice((0, 2, 11))}"
           for cid in roles for route in ("recommendations", "strategies")]
    rng.shuffle(mix)
    alone = {p: _get(roles_server + p) for p in mix}
    for p, (status, body) in alone.items():
        assert status == roles[p.split("/")[2]], (p, body)
    # the no-history customer falls back to global PageRank
    assert any("global_pagerank" in body.get("strategies", {})
               for p, (_, body) in alone.items() if "/C4/" in p)
    with ThreadPoolExecutor(max_workers=4) as pool_exec:
        together = list(pool_exec.map(lambda p: _get(roles_server + p), mix))
    for p, got in zip(mix, together):
        assert got == alone[p], p


def test_customer_routes_fault_injection(roles_server, monkeypatch):
    """On both /customers routes: a malformed top_n is a 422; a Spark job
    that fails inside an executor task (the engine's similarity scores
    replaced by a raise_error plan) is the generic 500, and the next
    request is a 200 with the earlier body; an unknown id stays a 404."""
    routes = ("recommendations", "strategies")
    for route in routes:
        status, body = _get(f"{roles_server}/customers/C2/{route}?top_n=abc")
        assert status == 422 and "detail" in body, route
    want = {r: _get(f"{roles_server}/customers/C2/{r}?top_n=3")
            for r in routes}
    assert all(status == 200 for status, _ in want.values())

    def failing_scores(self, seeds):
        # every product, so rows survive the routes' seed exclusion
        return self.products.select(
            F.col("id").alias("product_id"),
            F.raise_error(F.lit("injected failure")).cast("double")
            .alias("score"))

    monkeypatch.setattr(SparkRecommendationEngine, "_similarity_scores",
                        failing_scores)
    for route in routes:
        status, body = _get(f"{roles_server}/customers/C2/{route}?top_n=3")
        assert (status, body) == (500, {"detail": "internal error"}), route
        assert _get(f"{roles_server}/customers/X1/{route}")[0] == 404
    monkeypatch.undo()
    for route in routes:
        assert _get(f"{roles_server}/customers/C2/{route}?top_n=3") \
            == want[route], route
        assert _get(f"{roles_server}/customers/X1/{route}")[0] == 404
