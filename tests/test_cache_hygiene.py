"""Cache hygiene of the iterative graph loops and the registry's batch
recommendation jobs.

After a loop's result is collected, the session must hold no new cached
plan, and every RDD the run left persisted must be a `localCheckpoint`
(a lineage cut) — never a pinned edge or personalization cache the loop
forgot to release. Each entry point runs at the default pin bound and
again with `_EDGE_PIN_ROWS` forced to -1 in every module that imports
it, which puts every loop on its pinned-cache branch (the test checks
that something was pinned there). The registry jobs outside `graphs/`
run once each on the smoke testdata.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_database_spark.graphs import anf, hits, traversal
from graph_database_spark.graphs import pagerank as pr
from graph_database_spark.registry import QUERIES

_PIN_MODULES = (pr, traversal, hits, anf)


def _ppr(n_keys):
    def run(spark, v, e, landmarks):
        pers = spark.createDataFrame(
            [(k, k % 12, 1.0) for k in range(n_keys)],
            "key long, id long, p double")
        return pr.pagerank_batch(v, e, pers, max_iter=6).collect()
    return run


ENTRIES = {
    "pagerank": lambda spark, v, e, lm: pr.pagerank(
        v, e, max_iter=6).collect(),
    "pagerank_batch_1": _ppr(1),
    "pagerank_batch_3": _ppr(3),
    "pagerank_batch_65": _ppr(65),
    "bipartite_hits": lambda spark, v, e, lm: hits.bipartite_hits(
        e.select("src", "dst"), max_iter=4).collect(),
    "shortest_paths": lambda spark, v, e, lm: traversal.shortest_paths(
        e.select("src", "dst"), lm, max_hops=4).collect(),
    "weighted_shortest_paths": lambda spark, v, e, lm:
        traversal.weighted_shortest_paths(e, lm, rounds=3).collect(),
    "connected_components": lambda spark, v, e, lm:
        traversal.connected_components(
            v, e.select("src", "dst"), max_iter=5).collect(),
    "label_propagation": lambda spark, v, e, lm:
        traversal.label_propagation(
            v, e.select("src", "dst"), max_iter=3).collect(),
    "hyperanf_curve": lambda spark, v, e, lm: anf.hyperanf_curve(
        v, e.select("src", "dst"), iters=2).collect(),
    "effective_diameter": lambda spark, v, e, lm: anf.effective_diameter(
        v, e.select("src", "dst"), max_iters=3),
}


@pytest.fixture(scope="module")
def graph(spark):
    """12 vertices: a cycle over 0..9 with chords, 10 and 11 sinks;
    weights row-normalized per src."""
    pairs = ([(i, (i + 1) % 10) for i in range(10)]
             + [(i, (i + 4) % 10) for i in range(0, 10, 3)]
             + [(2, 10), (7, 11)])
    df = spark.createDataFrame(pairs, "src long, dst long")
    deg = df.groupBy("src").agg(F.count(F.lit(1)).alias("__d"))
    edges = df.join(deg, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("__d")).alias("weight")
    ).localCheckpoint()
    landmarks = spark.createDataFrame([(0,), (5,)], "id long")
    return spark.range(12).select("id"), edges, landmarks


@pytest.mark.parametrize("forced_pin", [False, True],
                         ids=["default", "pinned"])
@pytest.mark.parametrize("entry", sorted(ENTRIES))
def test_iterative_loop_leaves_no_cache(spark, monkeypatch, graph, entry,
                                        forced_pin):
    pins = []
    for mod in _PIN_MODULES:
        if forced_pin:
            monkeypatch.setattr(mod, "_EDGE_PIN_ROWS", -1)

        def counted(*a, _pin=mod._pin_for_iteration):
            pins.append(a[0])
            return _pin(*a)
        monkeypatch.setattr(mod, "_pin_for_iteration", counted)
    v, e, landmarks = graph
    _assert_leaves_no_cache(spark,
                            lambda: ENTRIES[entry](spark, v, e, landmarks))
    if forced_pin:
        assert pins, "the forced regime pinned nothing"


REGISTRY_JOBS = ("recommend_batch", "similarity_jaccard_topk",
                 "cooccurrence_pairs", "customer_cf")


@pytest.mark.parametrize("name", REGISTRY_JOBS)
def test_registry_job_leaves_no_cache(spark, sf_smoke, name):
    _assert_leaves_no_cache(
        spark, lambda: QUERIES[name](spark, sf_smoke).collect())


def _assert_leaves_no_cache(spark, run) -> None:
    """`run()` adds no cacheManager entry and leaves only
    `localCheckpoint` RDDs newly persisted."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    jsc = spark.sparkContext._jsc
    cached_before = cache.numCachedEntries()
    rdds_before = set(jsc.getPersistentRDDs().keySet().toArray())

    run()

    assert cache.numCachedEntries() == cached_before
    persisted = jsc.getPersistentRDDs()
    leaked = [persisted.get(i).rdd().toDebugString()
              for i in persisted.keySet().toArray()
              if i not in rdds_before
              and not persisted.get(i).rdd().isLocallyCheckpointed()]
    assert not leaked, leaked
