"""Serving-surface parity tests: dispatch, validation, clamping — plus the
tp2 Cypher-strategy goldens from FIXTURES.md §3."""

from __future__ import annotations

import contextlib
import datetime as dt
import itertools
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

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
    RecommendationService, UnknownStrategyError, clamp_top_n,
)


@pytest.fixture(scope="module")
def service(spark, toy_roles):
    return RecommendationService(spark, toy_roles)


@pytest.fixture(scope="module")
def spark_path_service(spark, toy_roles):
    """A service whose incidence bound is below the toy incidence, so
    per-customer similarity runs the Spark plan."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(service_mod, "INCIDENCE_ROWS", 3)
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
    group = f"svc-snapshot-{next(_groups)}"
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


def test_snapshot_equals_spark_path_on_ties(spark, toy, monkeypatch):
    """With the snapshot cut to K = 2 rows, every limit 0..K+1 of every
    snapshot strategy returns the Spark path's ordered rows. The toy data
    ties P1/P4 at co_count 1 and every product at reach 2, so the
    product_id tie-break is what the slice must reproduce. limit <= K is
    served from the snapshot with no Spark job; K+1 falls through."""
    k = 2
    monkeypatch.setattr(service_mod, "SNAPSHOT_ROWS", k)
    svc = RecommendationService(spark, toy)
    for strategy in service_mod.SNAPSHOT_STRATEGIES:
        for n in range(k + 2):
            want = _spark_path(svc, strategy, n).collect()
            with _job_group(spark) as jobs:
                got = svc.recs(strategy, limit=n)
                ran = jobs()
            assert got == want, (strategy, n)
            assert [r.asDict() for r in got] == [r.asDict() for r in want]
            assert (ran == []) == (n <= k), (strategy, n, ran)


def test_snapshot_request_starts_no_spark_job(spark, service,
                                             spark_path_service):
    # the toy catalog is far below SNAPSHOT_ROWS, so any limit is a slice
    for strategy in service_mod.SNAPSHOT_STRATEGIES:
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
    index = service_mod.incidence_index(inc)
    counts = set()
    for c in ("c00", "c07", "c13", "c21", "c39"):
        want = _cf_spark_path(inc, c, 13)
        assert index.user_cf(c, 13) == want, c
        assert index.user_cf(c, 4) == want[:4], c
        counts.update(r["cf_count"] for r in want)
    assert len(counts) > 2, counts


def test_index_bound_is_inclusive(spark, service, monkeypatch):
    n = service.incidence.count()
    monkeypatch.setattr(service_mod, "INCIDENCE_ROWS", n)
    assert service_mod.incidence_index(service.incidence) is not None
    monkeypatch.setattr(service_mod, "INCIDENCE_ROWS", n - 1)
    assert service_mod.incidence_index(service.incidence) is None


def test_non_string_key_incidence_has_no_index(spark):
    inc = spark.createDataFrame([(1, 2)], "customer_id long, product_id long")
    assert service_mod.incidence_index(inc) is None


def test_null_key_incidence_routes_to_spark_path(spark, toy):
    schema = StructType([StructField(f.name, f.dataType, True)
                         for f in toy["events"].schema.fields])
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
