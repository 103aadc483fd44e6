"""Serving-surface parity tests: dispatch, validation, clamping — plus the
tp2 Cypher-strategy goldens from FIXTURES.md §3."""

from __future__ import annotations

import contextlib
import itertools

import pytest
from pyspark.sql import functions as F

from graph_database_spark.operators.cooccurrence import (
    cooccurrence_top_partners,
)
from graph_database_spark.operators.popularity import (
    distinct_reach, order_frequency,
)
from graph_database_spark.plans.sql_runner import run_sql, run_sql_script
from graph_database_spark.recommend import service as service_mod
from graph_database_spark.recommend.service import (
    RecommendationService, UnknownStrategyError, clamp_top_n,
)


@pytest.fixture(scope="module")
def service(spark, toy):
    return RecommendationService(spark, toy)


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


def test_snapshot_request_starts_no_spark_job(spark, service):
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
    # per-customer similarity stays on the Spark path
    with _job_group(spark) as jobs:
        service.recs("similarity", customer_id="C1", limit=3)
        assert jobs()
