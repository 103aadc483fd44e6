"""Cache hygiene, answers and plans of the iterative graph loops in both
regimes, and cache hygiene of the registry's batch recommendation jobs.

After a loop's result is collected, the session must hold no new cached
plan, and every RDD the run left persisted must be a `localCheckpoint`
(a lineage cut) — never a pinned edge or personalization cache the loop
forgot to release. Each entry point runs at the default bounds, where
only label propagation pins (its measured exception to the gate) and
PageRank runs on the driver (its local regime); in the `default` case a
PageRank entry then runs again with `superstep.LOCAL_EDGE_ROWS` forced to
-1, which puts it on the Spark loop's checkpoint branch, and in the
`pinned` case every entry runs again with `superstep._EDGE_PIN_ROWS`
(and the local bound) forced to -1, which puts every loop on its
pinned-cache branch. The regime changes how the frames are stored and
where the arithmetic runs, never its result: the runs collect the same
answer, and each run starts exactly the Spark jobs recorded in JOBS and
SPARK_JOBS. The registry jobs outside `graphs/` run once each on the
smoke testdata.
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


def _counted(answer):
    """A loop's (frame, superstep count) as (canonical rows, count), so
    the regimes must agree on both."""
    frame, n = answer
    return _canonical(frame.collect()), n


def _undirected(e):
    """Both directions of every edge, once each (k-core reads degrees
    off the src side)."""
    pairs = e.select("src", "dst")
    return pairs.unionByName(pairs.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()


ENTRIES = {
    "pagerank": lambda spark, v, e, lm: pr.pagerank(
        v, e, max_iter=6).collect(),
    "pagerank_batch_1": _ppr(1),
    "pagerank_batch_3": _ppr(3),
    "pagerank_batch_65": _ppr(65),
    "bipartite_hits": lambda spark, v, e, lm: hits.bipartite_hits(
        e.select("src", "dst"), max_iter=4).collect(),
    "bipartite_hits_tol": lambda spark, v, e, lm: _counted(
        hits.bipartite_hits(e.select("src", "dst"), max_iter=30, tol=1e-3,
                            with_iterations=True)),
    "shortest_paths": lambda spark, v, e, lm: traversal.shortest_paths(
        e.select("src", "dst"), lm, max_hops=4).collect(),
    "weighted_shortest_paths": lambda spark, v, e, lm:
        traversal.weighted_shortest_paths(e, lm, rounds=3).collect(),
    "weighted_shortest_paths_stable": lambda spark, v, e, lm: _counted(
        traversal.weighted_shortest_paths(e, lm, rounds=12,
                                          until_stable=True,
                                          with_rounds=True)),
    "connected_components": lambda spark, v, e, lm:
        traversal.connected_components(
            v, e.select("src", "dst"), max_iter=5).collect(),
    "connected_components_star": lambda spark, v, e, lm:
        traversal.connected_components_star(
            v, e.select("src", "dst")).collect(),
    "kcore_peel_stable": lambda spark, v, e, lm: _counted(
        traversal.kcore_peel(_undirected(e), k=2, rounds=8,
                             until_stable=True, with_rounds=True)),
    "label_propagation": lambda spark, v, e, lm:
        traversal.label_propagation(
            v, e.select("src", "dst"), max_iter=3).collect(),
    # cold LPA oscillates on this graph; this warm start settles in 5
    "label_propagation_stable": lambda spark, v, e, lm: _counted(
        traversal.label_propagation(
            v, e.select("src", "dst"), max_iter=8,
            init_labels=v.select("id", F.when(F.col("id") < 5, 0)
                                 .otherwise(5).cast("long")
                                 .alias("community")),
            stop_when_stable=True, with_iterations=True)),
    "hyperanf_curve": lambda spark, v, e, lm: anf.hyperanf_curve(
        v, e.select("src", "dst"), iters=2).collect(),
    "effective_diameter": lambda spark, v, e, lm: anf.effective_diameter(
        v, e.select("src", "dst"), max_iters=3),
}

# Spark jobs per run, (default regime, forced pin), on the `graph`
# fixture; None where a loop has no pinned regime. A changed count is a
# changed physical plan. At the default bounds PageRank runs locally: one
# Arrow collect of all its inputs (their own stages aside: here a range
# and a checkpoint have none), and no job for its answer. Every other
# loop but star-CC observes its stop test inside its superstep's
# checkpoint job (`superstep.checkpoint`); with a probe job per superstep
# instead, the counts read: shortest_paths 39/41, connected_components
# 39/36, label_propagation_stable 46/46, bipartite_hits_tol 206-209 /
# 266-269, weighted_shortest_paths_stable 63/65, kcore_peel_stable 26.
JOBS = {
    "pagerank": (1, 63),
    "pagerank_batch_1": (1, 66),
    "pagerank_batch_3": (1, 68),
    "pagerank_batch_65": (1, 129),
    "bipartite_hits": (76, 104),
    "shortest_paths": (35, 37),
    "weighted_shortest_paths": (19, 21),
    "connected_components": (29, 26),
    "label_propagation": (25, 25),
    "label_propagation_stable": (36, 36),
    "bipartite_hits_tol": (167, 227),
    "weighted_shortest_paths_stable": (31, 33),
    "kcore_peel_stable": (14, None),
    "connected_components_star": (46, None),
    "hyperanf_curve": (22, 20),
    "effective_diameter": (30, 26),
}
# bipartite_hits' count moves between runs of the same code: AQE runs
# one of its stages either as a job of its own or inside the next job,
# by timing (ten runs of each regime read 75-78 and 102-105; with `tol`,
# eight runs read 165-170 and 227-229)
JOB_SLACK = {"bipartite_hits": 2, "bipartite_hits_tol": 4}
# Spark jobs of a PageRank run with the local bound forced to -1: the
# Spark loop on its checkpoint branch
SPARK_JOBS = {"pagerank": 63, "pagerank_batch_1": 66,
              "pagerank_batch_3": 68, "pagerank_batch_65": 129}


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


@pytest.mark.parametrize("entry, forced_pin", [
    pytest.param(entry, forced_pin,
                 id=f"{entry}-{'pinned' if forced_pin else 'default'}")
    for entry in sorted(ENTRIES) for forced_pin in (False, True)
    # a loop with no static frame has no pinned regime
    if not forced_pin or JOBS[entry][1] is not None])
def test_iterative_loop_leaves_no_cache(spark, monkeypatch, graph, entry,
                                        forced_pin):
    pins = []

    def counted(*a, _pin=superstep._pin_for_iteration):
        pins.append(a[0])
        return _pin(*a)
    monkeypatch.setattr(superstep, "_pin_for_iteration", counted)
    v, e, landmarks = graph

    def run(want: int):
        pins.clear()
        with _job_group(spark) as jobs:
            answer = _assert_leaves_no_cache(
                spark, lambda: ENTRIES[entry](spark, v, e, landmarks))
            n_jobs = len(jobs())
        slack = JOB_SLACK.get(entry, 0)
        assert abs(n_jobs - want) <= slack, (n_jobs, want)
        return answer

    default = run(JOBS[entry][0])
    assert bool(pins) == entry.startswith("label_propagation"), pins
    monkeypatch.setattr(superstep, "LOCAL_EDGE_ROWS", -1)
    if forced_pin:
        monkeypatch.setattr(superstep, "_EDGE_PIN_ROWS", -1)
        forced = run(JOBS[entry][1])
        assert pins, "the forced regime pinned nothing"
        _assert_same_answer(_canonical(default), _canonical(forced))
    elif entry in SPARK_JOBS:
        spark_loop = run(SPARK_JOBS[entry])
        assert not pins
        _assert_same_answer(_canonical(default), _canonical(spark_loop))


def test_pagerank_local_regime_matches_spark_loop(spark, monkeypatch):
    """PageRank's driver-local kernel against the Spark loop (the local
    bound forced to -1) on string ids with every case the kernel encodes:
    sinks, a vertex whose only out-edge leaves the vertex set (no sink),
    an edge from a non-vertex, a duplicated edge; 65 keys (two Spark
    tiles) with an all-zero key, a key whose only id is no vertex and an
    id listed twice; init_ranks that miss vertices and list a non-vertex.
    Answers, answer schemas and iteration counts agree (floats within
    1e-12); the `long` keys hold 32-bit values, which the Spark loop's
    key literal alone would type `int`. A local call starts one Spark
    job, the collect of all its inputs. A null in
    an edge column, or inputs one row over the bound, run the Spark loop;
    the bound is inclusive."""
    ids = [f"v{i:02d}" for i in range(12)]
    verts = spark.createDataFrame([(i,) for i in ids], "id string")
    pairs = ([(i, (i + 1) % 10) for i in range(10)]
             + [(i, (i * 3 + 2) % 10) for i in range(0, 10, 2)]
             + [(2, 11), (7, 11)])
    edges = spark.createDataFrame(
        [(ids[a], ids[b], (a + b) % 4 / 4 + 0.1) for a, b in pairs]
        + [(ids[10], "x99", 1.0), ("y00", ids[5], 1.0),
           (ids[1], ids[2], 0.3)],
        "src string, dst string, weight double")
    pers = spark.createDataFrame(
        [(k, ids[k % 12], 1.0) for k in range(62)]
        + [(k, ids[k * 5 % 12], 0.5) for k in range(1, 62, 2)]
        + [(62, "z00", 1.0), (63, ids[3], 2.0), (63, ids[3], 0.7),
           (63, ids[4], 1.0), (64, ids[0], 0.0)],
        "key long, id string, p double")
    init = spark.createDataFrame(
        [(ids[i], 0.05 + i / 100) for i in range(0, 12, 2)]
        + [("w00", 0.5)], "id string, rank double")
    seeds = pers.filter("key = 63").select("id", "p")
    calls = []

    def counted(*a, _loop=pr._pagerank_batch_blocked, **kw):
        calls.append(a[4])
        return _loop(*a, **kw)
    monkeypatch.setattr(pr, "_pagerank_batch_blocked", counted)

    def run(want_jobs: int | None):
        with _job_group(spark) as jobs:
            batch = _assert_leaves_no_cache(spark, batch_run)
            assert want_jobs is None or len(jobs()) == want_jobs
        with _job_group(spark) as jobs:
            single = _assert_leaves_no_cache(spark, single_run)
            assert want_jobs is None or len(jobs()) == want_jobs
        return batch, single

    def batch_run():
        ranks = pr.pagerank_batch(verts, edges, pers, tol=1e-4, max_iter=9)
        return ranks.schema, _canonical(ranks.collect())

    def single_run():
        ranks, iters = pr.pagerank(verts, edges, personalization=seeds,
                                   init_ranks=init, tol=1e-6,
                                   with_iterations=True)
        return ranks.schema, _canonical(ranks.collect()), iters

    local = run(1)
    assert calls == []
    monkeypatch.setattr(superstep, "LOCAL_EDGE_ROWS", -1)
    spark_loop = run(None)
    assert [len(keys) for keys in calls] == [64, 1, 1]
    assert len(local[0][1]) == 65 * 12
    # the answers are equal, and so are the schemas' column names and
    # types (a literal key column is non-nullable in the Spark loop)
    schemas = [(batch[0].simpleString(), single[0].simpleString())
               for batch, single in (local, spark_loop)]
    assert schemas == [("struct<key:bigint,id:string,rank:double>",
                        "struct<id:string,rank:double>")] * 2
    _assert_same_answer([r[1:] for r in local], [r[1:] for r in spark_loop])

    def regime(edge_frame, bound: int) -> str:
        calls.clear()
        monkeypatch.setattr(superstep, "LOCAL_EDGE_ROWS", bound)
        pr.pagerank(verts, edge_frame, max_iter=1).collect()
        return "spark" if calls else "local"

    # 20 edges and 12 vertices; the answer has 12 rows
    assert regime(edges, 32) == "local"
    assert regime(edges, 31) == "spark"
    with_null = edges.unionByName(spark.createDataFrame(
        [(ids[0], None, 1.0)], "src string, dst string, weight double"))
    assert regime(with_null, 100) == "spark"


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
