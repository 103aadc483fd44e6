"""Serving-surface parity tests: dispatch, validation, clamping — plus the
tp2 Cypher-strategy goldens from FIXTURES.md §3."""

from __future__ import annotations

import contextlib
import datetime as dt
import itertools
import random
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from graph_database_spark.graphs import superstep
from graph_database_spark.graphs.pagerank import pagerank
from graph_database_spark.operators.cooccurrence import (
    cooccurrence_top_partners,
)
from graph_database_spark.operators.popularity import (
    distinct_reach, order_frequency,
)
from graph_database_spark.operators.similarity import user_cf_scores
from graph_database_spark.plans.sql_runner import run_sql, run_sql_script
from graph_database_spark.recommend import service as service_mod
from graph_database_spark.recommend.service import (
    VALID_STRATEGIES, RecommendationService, UnknownStrategyError,
    clamp_top_n,
)


@pytest.fixture(scope="module")
def service(spark, toy_roles):
    return RecommendationService(spark, toy_roles)


@pytest.fixture(scope="module")
def spark_path_service(spark, toy_roles):
    """A service built with the collect bound below the toy incidence,
    so it has no index and per-customer similarity runs the Spark plan;
    the bound is restored before any request."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(superstep, "LOCAL_EDGE_ROWS", 3)
        return RecommendationService(spark, toy_roles)


def test_co_occurrence_golden(service):
    # FIXTURES §3: ordered pairs global → P2:2, P1:1, P4:1 (tie unordered)
    got = {(r["product_id"], r["co_count"])
           for r in service.recs("co_occurrence", limit=10)}
    assert got == {("P2", 2), ("P1", 1), ("P4", 1)}


def test_similarity_no_customer_golden(service):
    # reach fallback → all products tied at 2 except P1 (C1, C3)
    got = {(r["product_id"], r["reach"])
           for r in service.recs("similarity", limit=10)}
    assert got == {("P1", 2), ("P2", 2), ("P3", 2), ("P4", 2)}


def test_similarity_with_customer_golden(service):
    # tp2 J3 on seed data: every pair of customers shares a product via
    # orders∪events incidence; C1 example hand-checked
    got = service.recs("similarity", customer_id="C1", limit=10)
    assert all(r["cf_count"] >= 1 for r in got)


def test_pagerank_stub_golden(service):
    got = {(r["product_id"], r["order_count"])
           for r in service.recs("pagerank", limit=10)}
    assert got == {("P2", 2), ("P1", 1), ("P3", 1), ("P4", 1)}


def test_pagerank_exact_golden(service):
    got = {r["product_id"]: r["rank"]
           for r in service.recs("pagerank_exact", limit=10)}
    assert got["P2"] == pytest.approx(0.463293, abs=1e-4)
    assert got["P3"] == pytest.approx(0.047619, abs=1e-4)


def test_unknown_strategy_raises(service):
    with pytest.raises(UnknownStrategyError):
        service.recs("nope")


def test_clamp():
    assert clamp_top_n(0) == 1
    assert clamp_top_n(99) == 10
    assert clamp_top_n(3) == 3


def test_limit_applied(service):
    assert len(service.recs("co_occurrence", limit=2)) == 2


def test_sql_runner(spark, toy):
    toy["products"].createOrReplaceTempView("svc_products")
    df = run_sql(spark, "SELECT COUNT(*) AS n FROM svc_products WHERE price > :p",
                 {"p": 30.0})
    assert df.first()["n"] == 3
    # script: second CREATE VIEW is tolerated (already exists)
    results = run_sql_script(spark, """
        CREATE TEMPORARY VIEW svc_v AS SELECT * FROM svc_products;
        CREATE TEMPORARY VIEW svc_v AS SELECT * FROM svc_products;
        SELECT COUNT(*) AS n FROM svc_v
    """)
    assert results[-1].first()["n"] == 4


def test_recs_limit_above_ten_not_clamped(spark, service):
    """tp2's `limit: int = 10` has no upper bound (tp2/app/main.py:66) —
    the [1,10] clamp belongs only to tp1's top_n."""
    out = service.recs("pagerank", limit=15)
    # toy catalog has < 15 products; the point is no silent truncation at
    # 10 — row count equals min(catalog, 15), and asking for 12 ≠ 10 works
    assert len(out) == min(15, service.tables["products"].count())


_groups = itertools.count()


@contextlib.contextmanager
def _job_group(spark):
    """Run the block under a fresh job group; yields a callable returning
    the ids of the Spark jobs the block started."""
    sc = spark.sparkContext
    group = f"svc-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        yield lambda: sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _spark_path(svc, strategy, n):
    """Each limit-only strategy's plan as a per-request ORDER BY … LIMIT."""
    if strategy == "co_occurrence":
        return cooccurrence_top_partners(svc.items, n)
    if strategy == "similarity":
        return (distinct_reach(svc.incidence)
                .orderBy(F.desc("reach"), F.asc("product_id")).limit(n))
    return (order_frequency(svc.items)
            .orderBy(F.desc("order_count"), F.asc("product_id")).limit(n))


LIMIT_ONLY = ("co_occurrence", "similarity", "pagerank")


def _fields_and_values(rows):
    return [(list(r.__fields__), tuple(r)) for r in rows]


def _assert_index_equals_spark_path(spark, svc):
    """Every limit 0..|products|+1 of every limit-only strategy returns the
    Spark path's rows (values, column names and order), with no job."""
    assert svc._index is not None
    for strategy in LIMIT_ONLY:
        for n in range(len(svc._index.products) + 2):
            want = _spark_path(svc, strategy, n).collect()
            with _job_group(spark) as jobs:
                got = svc.recs(strategy, limit=n)
                ran = jobs()
            assert got == want, (strategy, n)
            assert _fields_and_values(got) == _fields_and_values(want)
            assert ran == [], (strategy, n, ran)


def test_index_equals_spark_path_on_ties(spark, service):
    """The toy data ties P1/P4 at co_count 1 and every product at reach 2,
    so the product_id tie-break is what each ranking must reproduce."""
    _assert_index_equals_spark_path(spark, service)


def _random_tables(spark, toy):
    """Seeded tables whose order lines repeat, reach an order missing from
    `orders` and hold a single-item basket, with a product seen only in
    events; every limit-only answer has tied counts."""
    rng = random.Random(20261019)
    ts = dt.datetime(2024, 4, 1)
    orders = [(f"O{i:02d}", f"c{rng.randrange(8)}", ts) for i in range(20)]
    lines = [(rng.choice([o for o, _, _ in orders[:19]] + ["O99"]),
              f"p{int(9 * rng.random() ** 2)}", 1) for _ in range(50)]
    lines += lines[:8] + [("O19", "p_solo", 1)]
    events = [(f"E{i}", f"c{rng.randrange(10)}",
               f"p{int(9 * rng.random() ** 2)}", "view", ts)
              for i in range(30)] + [("E99", "c3", "p_event", "view", ts)]
    return {**toy,
            "orders": spark.createDataFrame(orders, toy["orders"].schema),
            "order_items": spark.createDataFrame(
                lines, toy["order_items"].schema),
            "events": spark.createDataFrame(events, toy["events"].schema)}


def test_index_equals_spark_path_on_random_tables(spark, toy):
    svc = RecommendationService(spark, _random_tables(spark, toy))
    assert "p_event" in svc._index.products
    answers = {s: svc.recs(s, limit=100) for s in LIMIT_ONLY}
    # p_solo's only order holds nothing else: a co_count of 0, absent
    assert "p_solo" not in {r["product_id"] for r in answers["co_occurrence"]}
    assert "p_solo" in {r["product_id"] for r in answers["pagerank"]}
    for rows in answers.values():
        counts = [r[1] for r in rows]
        assert len(set(counts)) < len(counts) and len(set(counts)) > 1
    _assert_index_equals_spark_path(spark, svc)


def _nullable(schema):
    return StructType([StructField(f.name, f.dataType, True)
                       for f in schema.fields])


@pytest.mark.parametrize("case", ["null_order_id", "null_product_id",
                                  "long_order_id"])
def test_order_lines_without_index_answer_on_spark_path(spark, toy, case):
    """An order_items key that is null or not a string leaves no index;
    every request then runs the Spark plan, with the same answers."""
    tables = dict(toy)
    if case == "long_order_id":  # "O3" → 3, in orders.id as well
        def number(col):
            return F.substring(col, 2, 9).cast("long").alias(col)
        tables["orders"] = toy["orders"].select(
            number("id"), "customer_id", "ts")
        tables["order_items"] = toy["order_items"].select(
            number("order_id"), "product_id", "quantity")
    else:
        extra = ((None, "P3", 1) if case == "null_order_id"
                 else ("O1", None, 1))
        tables["order_items"] = toy["order_items"].unionByName(
            spark.createDataFrame([extra],
                                  _nullable(toy["order_items"].schema)))
    svc = RecommendationService(spark, tables)
    assert svc._index is None
    for strategy in LIMIT_ONLY:
        for n in (0, 3):
            want = _spark_path(svc, strategy, n).collect()
            with _job_group(spark) as jobs:
                got = svc.recs(strategy, limit=n)
                ran = jobs()
            assert _fields_and_values(got) == _fields_and_values(want)
            if n > 0:  # Spark folds LIMIT 0 away without a job
                assert ran, (case, strategy, n)


def test_request_starts_no_spark_job(spark, service, spark_path_service):
    for strategy in LIMIT_ONLY:
        with _job_group(spark) as jobs:
            got = service.recs(strategy, customer_id=None, limit=50)
            assert jobs() == [], strategy
        assert got == _spark_path(service, strategy, 50).collect()
    with _job_group(spark) as jobs:
        service.recs("co_occurrence", customer_id="C1", limit=3)
        service.recs("pagerank", customer_id="C1", limit=3)
        assert jobs() == []
    # per-customer similarity is answered from the incidence index...
    with _job_group(spark) as jobs:
        got = service.recs("similarity", customer_id="C1", limit=3)
        assert jobs() == []
    # ...and runs the Spark plan when the incidence is over the bound
    with _job_group(spark) as jobs:
        assert spark_path_service.recs("similarity", customer_id="C1",
                                       limit=3) == got
        assert jobs()


#: Jobs of a cold RecommendationService build on toy_roles: the one
#: collect of the incidence and the order lines together
#: (`superstep.local_tables`), whose stages also materialise the cached
#: incidence. Each frame had a collect of its own until they shared the
#: bound, and a cold build ran 6 + 1 = 7; with the row snapshot's three
#: build plans, since deleted, it ran 19.
BUILD_JOBS = 6


def test_build_and_request_job_counts(spark, service, toy_roles):
    """A later build plan, or a request kind that starts a job on the
    index, fails here."""
    # a cold build: drop the cached incidence these tables share with
    # the module's service (the next build caches it again)
    RecommendationService(spark, toy_roles).incidence.unpersist()
    with _job_group(spark) as jobs:
        RecommendationService(spark, toy_roles)
        assert len(jobs()) == BUILD_JOBS
    service.recs("pagerank_exact", limit=1)  # first use runs PageRank
    with _job_group(spark) as jobs:
        for strategy in VALID_STRATEGIES:
            for customer in (None, "C1", "C4"):
                service.recs(strategy, customer_id=customer, limit=3)
        assert jobs() == []


@pytest.mark.parametrize("incidence_rows", [None, 0],
                         ids=["index", "no_index"])
def test_pagerank_exact_runs_once_then_slices(spark, toy_roles,
                                              monkeypatch, incidence_rows):
    """4 threads that send the first pagerank_exact request together run
    one PageRank; every later request slices its kept ranking. The same
    holds for a service without an index (built with the collect bound
    forced to 0)."""
    with pytest.MonkeyPatch.context() as mp:
        if incidence_rows is not None:
            mp.setattr(superstep, "LOCAL_EDGE_ROWS", incidence_rows)
        svc = RecommendationService(spark, toy_roles)
    assert (svc._index is None) == (incidence_rows is not None)
    calls = []

    def counted(*args, **kwargs):
        calls.append(1)
        return pagerank(*args, **kwargs)

    monkeypatch.setattr(service_mod, "pagerank", counted)
    start = threading.Barrier(4)

    def first(_):
        start.wait(timeout=60)
        return svc.recs("pagerank_exact", limit=4)

    with ThreadPoolExecutor(max_workers=4) as pool:
        got = list(pool.map(first, range(4)))
    assert len(calls) == 1
    assert got[1:] == got[:1] * 3
    ranks = {r["product_id"]: r["rank"] for r in got[0]}
    assert ranks["P2"] == pytest.approx(0.463293, abs=1e-4)
    with _job_group(spark) as jobs:
        assert svc.recs("pagerank_exact", limit=2) == got[0][:2]
        assert jobs() == []
    assert len(calls) == 1


# buyers, event-only, no-history and an id that is no customer at all
CF_CUSTOMERS = ("C1", "C2", "C3", "C4", "NOPE")


def _cf_spark_path(incidence, customer_id, n):
    return (user_cf_scores(incidence, customer_id)
            .orderBy(F.desc("cf_count"), F.asc("product_id"))
            .limit(n).collect())


def test_index_equals_spark_path_for_every_customer(
        spark, service, spark_path_service):
    """For every toy customer role and every limit 0..|products|+1, the
    index and the forced Spark path both return the rows (values, column
    names, order) of user_cf_scores ordered by (cf_count desc,
    product_id asc); only the Spark path starts jobs."""
    assert service._index is not None
    assert spark_path_service._index is None
    n_products = service.tables["products"].count()
    want = {(c, n): _cf_spark_path(service.incidence, c, n)
            for c in CF_CUSTOMERS for n in range(n_products + 2)}
    assert want[("C1", n_products + 1)] and not want[("C4", 5)]
    for svc, on_index in ((service, True), (spark_path_service, False)):
        for (c, n), rows in want.items():
            with _job_group(spark) as jobs:
                got = svc.recs("similarity", customer_id=c, limit=n)
                ran = jobs()
            assert got == rows, (on_index, c, n)
            assert [r.asDict() for r in got] == [r.asDict() for r in rows]
            if on_index:
                assert ran == [], (c, n)
            elif n > 0:  # Spark folds LIMIT 0 away without a job
                assert ran, (c, n)


def test_index_equals_spark_path_on_random_incidence(spark):
    """A seeded incidence whose cf counts differ and tie, so the count
    order, the product_id tie-break and the per-path `p1 <> p2` rule all
    decide the answer."""
    rng = random.Random(20261018)
    pairs = {(f"c{rng.randrange(40):02d}",
              f"p{int(12 * rng.random() ** 2):02d}") for _ in range(160)}
    inc = spark.createDataFrame(sorted(pairs),
                                "customer_id string, product_id string")
    index = service_mod.incidence_index(
        inc, inc.select(F.col("customer_id").alias("order_id"),
                        "product_id"))
    counts = set()
    for c in ("c00", "c07", "c13", "c21", "c39"):
        want = _cf_spark_path(inc, c, 13)
        assert index.user_cf(c, 13) == want, c
        assert index.user_cf(c, 4) == want[:4], c
        counts.update(r["cf_count"] for r in want)
    assert len(counts) > 2, counts


def test_index_bound_is_inclusive(spark, service, monkeypatch):
    """The shared collect bound caps the incidence and the order lines
    together: an index at |incidence| + |lines| rows, none at one row
    fewer."""
    for inc, items in ((service.incidence, service.items.limit(2)),
                       (service.incidence.limit(2), service.items)):
        n = inc.count() + items.count()
        monkeypatch.setattr(superstep, "LOCAL_EDGE_ROWS", n)
        assert service_mod.incidence_index(inc, items) is not None
        monkeypatch.setattr(superstep, "LOCAL_EDGE_ROWS", n - 1)
        assert service_mod.incidence_index(inc, items) is None


def test_non_string_key_incidence_has_no_index(spark, toy):
    inc = spark.createDataFrame([(1, 2)], "customer_id long, product_id long")
    assert service_mod.incidence_index(inc, toy["order_items"]) is None


def test_null_key_incidence_routes_to_spark_path(spark, toy):
    schema = _nullable(toy["events"].schema)
    null_event = spark.createDataFrame(
        [("E6", None, "P1", "view", dt.datetime(2024, 4, 4))], schema)
    tables = {**toy, "events": toy["events"].unionByName(null_event)}
    svc = RecommendationService(spark, tables)
    assert svc._index is None
    for c in ("C1", "C3"):
        with _job_group(spark) as jobs:
            got = svc.recs("similarity", customer_id=c, limit=5)
            assert jobs()
        assert got == _cf_spark_path(svc.incidence, c, 5)
