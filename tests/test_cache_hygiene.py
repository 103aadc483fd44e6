"""Cache hygiene, answers and plans of the iterative graph loops in both
regimes, and cache hygiene of the registry's batch recommendation jobs.

After a loop's result is collected, the session must hold no new cached
plan, and every RDD the run left persisted must be a `localCheckpoint`
(a lineage cut) — never a pinned edge or personalization cache the loop
forgot to release. Each entry point runs at the default pin bound, where
only label propagation pins (its measured exception to the gate), and,
in the `pinned` case, then again with `superstep._EDGE_PIN_ROWS` forced
to -1, which puts every loop on its pinned-cache branch. The regime
changes how the static frames are stored, never the arithmetic: both
runs collect the same answer, and each run starts exactly the Spark jobs
recorded in JOBS. The registry jobs outside `graphs/` run once each on
the smoke testdata.
"""

from __future__ import annotations

import itertools
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from graph_database_spark.graphs import anf, hits, superstep, traversal
from graph_database_spark.graphs import pagerank as pr
from graph_database_spark.registry import QUERIES


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

# Spark jobs per run, (default regime, forced pin), on the `graph`
# fixture. A changed count is a changed physical plan.
JOBS = {
    "pagerank": (63, 63),
    "pagerank_batch_1": (66, 66),
    "pagerank_batch_3": (68, 68),
    "pagerank_batch_65": (129, 129),
    "bipartite_hits": (76, 104),
    "shortest_paths": (39, 41),
    "weighted_shortest_paths": (19, 21),
    "connected_components": (39, 36),
    "label_propagation": (25, 25),
    "hyperanf_curve": (22, 20),
    "effective_diameter": (30, 26),
}
# bipartite_hits' count moves between runs of the same code: AQE runs
# one of its stages either as a job of its own or inside the next job,
# by timing (ten runs of each regime read 75-78 and 102-105)
JOB_SLACK = {"bipartite_hits": 2}


@pytest.fixture(scope="module")
def graph(spark):
    """12 vertices: a cycle over 0..9 with chords, 10 and 11 sinks;
    weights row-normalized per src. Partition counts are fixed, so the
    job counts do not depend on the session's parallelism."""
    pairs = ([(i, (i + 1) % 10) for i in range(10)]
             + [(i, (i + 4) % 10) for i in range(0, 10, 3)]
             + [(2, 10), (7, 11)])
    df = spark.createDataFrame(pairs, "src long, dst long")
    deg = df.groupBy("src").agg(F.count(F.lit(1)).alias("__d"))
    edges = df.join(deg, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("__d")).alias("weight")
    ).repartition(4).localCheckpoint()
    landmarks = spark.createDataFrame([(0,), (5,)], "id long")
    return spark.range(0, 12, 1, 4).select("id"), edges, landmarks


@pytest.mark.parametrize("forced_pin", [False, True],
                         ids=["default", "pinned"])
@pytest.mark.parametrize("entry", sorted(ENTRIES))
def test_iterative_loop_leaves_no_cache(spark, monkeypatch, graph, entry,
                                        forced_pin):
    pins = []

    def counted(*a, _pin=superstep._pin_for_iteration):
        pins.append(a[0])
        return _pin(*a)
    monkeypatch.setattr(superstep, "_pin_for_iteration", counted)
    v, e, landmarks = graph

    def run(regime: int):
        pins.clear()
        with _job_group(spark) as jobs:
            answer = _assert_leaves_no_cache(
                spark, lambda: ENTRIES[entry](spark, v, e, landmarks))
            n_jobs = len(jobs())
        want, slack = JOBS[entry][regime], JOB_SLACK.get(entry, 0)
        assert abs(n_jobs - want) <= slack, (regime, n_jobs, want)
        return answer

    default = run(0)
    assert bool(pins) == (entry == "label_propagation"), pins
    if forced_pin:
        monkeypatch.setattr(superstep, "_EDGE_PIN_ROWS", -1)
        forced = run(1)
        assert pins, "the forced regime pinned nothing"
        _assert_same_answer(_canonical(default), _canonical(forced))


REGISTRY_JOBS = ("recommend_batch", "similarity_jaccard_topk",
                 "cooccurrence_pairs", "customer_cf")


@pytest.mark.parametrize("name", REGISTRY_JOBS)
def test_registry_job_leaves_no_cache(spark, sf_smoke, name):
    _assert_leaves_no_cache(
        spark, lambda: QUERIES[name](spark, sf_smoke).collect())


def _assert_leaves_no_cache(spark, run):
    """`run()` adds no cacheManager entry and leaves only
    `localCheckpoint` RDDs newly persisted; returns what it returned."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    jsc = spark.sparkContext._jsc
    cached_before = cache.numCachedEntries()
    rdds_before = set(jsc.getPersistentRDDs().keySet().toArray())

    result = run()

    assert cache.numCachedEntries() == cached_before
    persisted = jsc.getPersistentRDDs()
    leaked = [persisted.get(i).rdd().toDebugString()
              for i in persisted.keySet().toArray()
              if i not in rdds_before
              and not persisted.get(i).rdd().isLocallyCheckpointed()]
    assert not leaked, leaked
    return result


_groups = itertools.count()


@contextmanager
def _job_group(spark):
    """Run the block under a fresh job group; yields a callable returning
    the ids of the Spark jobs the block started."""
    sc = spark.sparkContext
    group = f"hygiene-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        yield lambda: sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _canonical(answer):
    """Collected rows as tuples in a fixed order (no loop promises a row
    order); effective_diameter's (diameter, curve) stays as it is."""
    if isinstance(answer, tuple):
        return answer
    return sorted((tuple(r) for r in answer), key=lambda t: tuple(
        round(x, 9) if isinstance(x, float) else x for x in t))


def _assert_same_answer(a, b) -> None:
    """Equal, with floats allowed to differ by 1e-12."""
    if isinstance(a, float) and isinstance(b, float):
        assert b == pytest.approx(a, abs=1e-12, rel=0)
    elif isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        assert len(a) == len(b), (a, b)
        for x, y in zip(a, b):
            _assert_same_answer(x, y)
    else:
        assert a == b
