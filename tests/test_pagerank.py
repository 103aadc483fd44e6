"""Golden-output tests for PageRank against the values captured from the
reference tp1 engine (FIXTURES.md §3).

Every PageRank test runs both regimes in turn (`_regimes`): the
driver-local kernel the toy graphs take at the default bound, then the
Spark superstep loop with `superstep.LOCAL_EDGE_ROWS` forced to -1."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_database_spark.operators.cooccurrence import (
    cooccurrence_unordered, symmetrize, row_normalized_adjacency,
)
from graph_database_spark.graphs import superstep
from graph_database_spark.graphs.pagerank import pagerank, pagerank_batch

GOLDEN_GLOBAL = {"P1": 0.244544, "P2": 0.463293, "P3": 0.047619, "P4": 0.244544}
# strategy_breakdown C3 personalized (seeds={P1}) raw ranks normalized by max
# aren't the raw ranks; raw PPR ranks appear via recommend tests instead.


def _regimes(monkeypatch):
    """Put each PageRank regime in force in turn and yield its name: the
    driver-local kernel at the default bound, then the Spark superstep
    loop with the local bound forced to -1."""
    yield "local"
    monkeypatch.setattr(superstep, "LOCAL_EDGE_ROWS", -1)
    yield "spark"


@pytest.fixture(scope="module")
def toy_graph(spark, toy):
    items = toy["order_items"]
    pairs = symmetrize(cooccurrence_unordered(items))
    adj = row_normalized_adjacency(pairs)
    vertices = toy["products"].select("id")
    return vertices, adj


def test_toy_adjacency(toy_graph):
    _, adj = toy_graph
    got = {(r["src"], r["dst"]): round(r["weight"], 6) for r in adj.collect()}
    assert got == {
        ("P1", "P2"): 1.0,
        ("P2", "P1"): 0.5,
        ("P2", "P4"): 0.5,
        ("P4", "P2"): 1.0,
    }


def test_global_pagerank_golden(toy_graph, monkeypatch):
    vertices, adj = toy_graph
    for regime in _regimes(monkeypatch):
        ranks = pagerank(vertices, adj, num_partitions=4)
        got = {r["id"]: r["rank"] for r in ranks.collect()}
        assert set(got) == set(GOLDEN_GLOBAL)
        for k, v in GOLDEN_GLOBAL.items():
            assert got[k] == pytest.approx(v, abs=1e-4), (regime, k)


def _numpy_pagerank(n, edges, p_vec, damping=0.85, iters=30):
    """Independent dense power iteration (SURVEY §4.3 cross-check):
    r' = (1-d)·p + d·(Mᵀr + sink_mass/n), identical semantics to
    graphs/pagerank.pagerank — uniform dangling redistribution, L1 state."""
    import numpy as np
    M = np.zeros((n, n))
    for s, d, w in edges:
        M[s, d] = w
    sinks = np.where(M.sum(axis=1) == 0)[0]
    r = np.full(n, 1.0 / n)
    p = np.asarray(p_vec, dtype=float)
    for _ in range(iters):
        sink_mass = r[sinks].sum()
        r = (1 - damping) * p + damping * (M.T @ r + sink_mass / n)
    return r


@pytest.mark.parametrize("case", ["sink", "personalized", "two_components"])
def test_pagerank_matches_numpy_power_iteration(spark, monkeypatch, case):
    """GraphFrames-independent cross-check on 5-node graphs with sinks and
    personalization: both regimes at fixed 30 iterations must agree with
    a dense numpy power iteration to 1e-8."""
    n = 5
    ids = list(range(n))
    # row-stochastic weighted edges (src, dst, weight); node 4 is a sink
    edges = [(0, 1, 0.5), (0, 2, 0.5), (1, 2, 1.0),
             (2, 3, 0.7), (2, 4, 0.3), (3, 0, 1.0)]
    if case == "two_components":
        # 0-1 cycle, 2→3→4(sink): disconnected + dangling in one graph
        edges = [(0, 1, 1.0), (1, 0, 1.0), (2, 3, 1.0), (3, 4, 1.0)]
    if case == "personalized":
        p_vec = [0.6, 0.0, 0.4, 0.0, 0.0]
        pers = spark.createDataFrame(
            [(0, 0.6), (2, 0.4)], ["id", "p"])
    else:
        p_vec = [1.0 / n] * n
        pers = None
    want = _numpy_pagerank(n, edges, p_vec)
    vertices = spark.createDataFrame([(i,) for i in ids], ["id"])
    edf = spark.createDataFrame(edges, ["src", "dst", "weight"])
    for regime in _regimes(monkeypatch):
        got = {r["id"]: r["rank"] for r in
               pagerank(vertices, edf, personalization=pers,
                        tol=-1.0, max_iter=30, num_partitions=4).collect()}
        for i in ids:
            assert got[i] == pytest.approx(want[i], abs=1e-8), \
                (regime, case, i)


def test_bipartite_hits_matches_numpy(spark):
    """Independent dense cross-check of graphs/hits.bipartite_hits:
    a ← normalize₁(Aᵀh), h ← normalize₁(Aa), 10 iterations."""
    import numpy as np
    from graph_database_spark.graphs.hits import bipartite_hits

    # 3 hubs × 4 authorities; hub 0 buys everything, authority 3 rare
    pairs = [(0, 0), (0, 1), (0, 2), (0, 3), (1, 0), (1, 1), (2, 1)]
    A = np.zeros((3, 4))
    for u, v in pairs:
        A[u, v] = 1.0
    h = np.ones(3)
    for _ in range(10):
        a = A.T @ h
        a /= a.sum()
        h = A @ a
        h /= h.sum()
    a = A.T @ h
    a /= a.sum()

    edf = spark.createDataFrame(pairs, ["src", "dst"])
    got = {(r["side"], r["id"]): r["score"]
           for r in bipartite_hits(edf, max_iter=10,
                                   num_partitions=4).collect()}
    for u in range(3):
        assert got[("hub", u)] == pytest.approx(h[u], abs=1e-6), u
    for v in range(4):
        assert got[("authority", v)] == pytest.approx(a[v], abs=1e-6), v
    # the all-basket hub dominates; the widely-bought authorities beat
    # the rare one
    assert got[("hub", 0)] > got[("hub", 1)] > got[("hub", 2)]
    assert got[("authority", 1)] > got[("authority", 3)]


def test_pagerank_batch_matches_single(spark, toy_graph, monkeypatch):
    vertices, adj = toy_graph
    # personalized on seeds {P1} (customer C3's seed set)
    pers = spark.createDataFrame([("c", "P1", 1.0)], ["key", "id", "p"])
    for regime in _regimes(monkeypatch):
        single = pagerank(
            vertices, adj,
            personalization=spark.createDataFrame([("P1", 1.0)],
                                                  ["id", "p"]),
            num_partitions=4)
        batch = pagerank_batch(vertices, adj, pers, num_partitions=4)
        s = {r["id"]: r["rank"] for r in single.collect()}
        b = {r["id"]: r["rank"]
             for r in batch.filter(F.col("key") == "c").collect()}
        assert set(s) == set(b)
        for k in s:
            assert b[k] == pytest.approx(s[k], abs=1e-9), (regime, k)


def test_pagerank_warm_start(spark, monkeypatch):
    """Incremental PageRank: after a small edge append, warm-starting from
    yesterday's ranks must (a) reach the SAME fixed point (unique for the
    damped contraction — any init converges to it) and (b) spend
    materially fewer iterations. The saving is the log-distance ratio
    ln(warm start distance)/ln(cold start distance), so on this
    hub-skewed graph (uniform init far from r*, leaf-edge append close)
    warm lands around half the cold count; from the exact fixed point it
    hits the DELTA_EVERY=3 probe minimum."""
    n = 300
    # hub-and-chain: ranks concentrate on the 7 hubs, so uniform init is
    # far from r*; the appended edge leaves a low-rank leaf, so the new
    # fixed point is close to the old one
    base = ([(i, i - 1) for i in range(1, n)]
            + [(i, i % 7) for i in range(7, n)])
    extra = [(299, 150)]

    def norm_edges(pairs):
        df = spark.createDataFrame(pairs, ["src", "dst"])
        deg = df.groupBy("src").agg(F.count(F.lit(1)).alias("__d"))
        return df.join(deg, "src").select(
            "src", "dst", (F.lit(1.0) / F.col("__d")).alias("weight"))

    verts = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    e_old, e_new = norm_edges(base), norm_edges(base + extra)
    for regime in _regimes(monkeypatch):
        prev, _ = pagerank(verts, e_old, tol=1e-6, max_iter=300,
                           with_iterations=True)
        prev = prev.localCheckpoint()
        cold, it_cold = pagerank(verts, e_new, tol=1e-6, max_iter=300,
                                 with_iterations=True)
        warm, it_warm = pagerank(verts, e_new, tol=1e-6, max_iter=300,
                                 init_ranks=prev, with_iterations=True)
        assert it_warm <= 0.6 * it_cold, (regime, it_warm, it_cold)
        c = {r["id"]: r["rank"] for r in cold.collect()}
        w = {r["id"]: r["rank"] for r in warm.collect()}
        assert max(abs(c[i] - w[i]) for i in c) < 1e-6
        # warm-starting from the exact fixed point stops at the first
        # convergence probe — the floor of the iteration loop
        _, it_fp = pagerank(verts, e_new, tol=1e-6, max_iter=300,
                            init_ranks=cold.localCheckpoint(),
                            with_iterations=True)
        assert it_fp == 3, regime


def test_pagerank_zero_iterations(spark, monkeypatch):
    """max_iter=0 with with_iterations=True returns (uniform init, 0)
    instead of raising on an unbound loop variable."""
    verts = spark.createDataFrame([(0,), (1,)], ["id"])
    edges = spark.createDataFrame([(0, 1, 1.0)], ["src", "dst", "weight"])
    for regime in _regimes(monkeypatch):
        out, iters = pagerank(verts, edges, max_iter=0, with_iterations=True)
        assert iters == 0, regime
        ranks = {r["id"]: r["rank"] for r in out.collect()}
        assert ranks == pytest.approx({0: 0.5, 1: 0.5}), regime


def test_hits_warm_start(spark):
    """Incremental HITS (VERDICT r4 #7, mirroring test_pagerank_warm_start):
    after a ~1% edge append, warm-starting from yesterday's hub scores
    must reach the same fixed point in materially fewer iterations. The
    graph is two near-decoupled complete bipartite blocks (close top
    singular values → slow power-iteration convergence), so the cold
    count is large enough for the saving to be visible. The append is a
    NEW low-degree hub on a minor authority — the HITS analog of the
    pagerank test's leaf-edge append: it leaves the fixed point close
    to yesterday's, while the uniform cold init stays far from it."""
    from graph_database_spark.graphs.hits import bipartite_hits

    block_a = [(u, v) for u in range(6) for v in range(6)]
    block_b = [(u, v) for u in range(10, 15) for v in range(10, 15)]
    base = block_a + block_b + [(0, 10)]
    extra = [(20, 14)]  # one appended interaction by a brand-new hub

    e_old = spark.createDataFrame(base, ["src", "dst"])
    e_new = spark.createDataFrame(base + extra, ["src", "dst"])
    # tol=1e-6: the saving is log(init distance/tol)-proportional, so a
    # tighter tol dilutes it (numpy simulation: ratio 0.54 at 1e-6 vs
    # 0.70 at 1e-9 for this graph) — 1e-6 matches the 6-dp output anyway
    prev, _ = bipartite_hits(e_old, max_iter=100, tol=1e-6,
                             with_iterations=True)
    prev_hubs = prev.filter("side = 'hub'").select("id", "score") \
        .localCheckpoint()
    cold, it_cold = bipartite_hits(e_new, max_iter=100, tol=1e-6,
                                   with_iterations=True)
    warm, it_warm = bipartite_hits(e_new, max_iter=100, tol=1e-6,
                                   init_hubs=prev_hubs,
                                   with_iterations=True)
    assert it_warm <= 0.65 * it_cold, (it_warm, it_cold)
    c = {(r["side"], r["id"]): r["score"] for r in cold.collect()}
    w = {(r["side"], r["id"]): r["score"] for r in warm.collect()}
    assert set(c) == set(w)
    assert max(abs(c[k] - w[k]) for k in c) < 1e-4


def test_hits_zero_iterations(spark):
    """max_iter=0 with with_iterations=True returns the (normalized)
    init instead of raising on an unbound loop variable."""
    from graph_database_spark.graphs.hits import bipartite_hits
    e = spark.createDataFrame([(0, 1), (2, 1)], ["src", "dst"])
    out, iters = bipartite_hits(e, max_iter=0, with_iterations=True)
    assert iters == 0
    got = {(r["side"], r["id"]): r["score"] for r in out.collect()}
    assert got[("hub", 0)] == pytest.approx(1.0)
    assert got[("authority", 1)] == pytest.approx(1.0)


def test_pinned_edge_cache_joins_without_edge_exchange_or_sort(spark):
    """_pin_for_iteration's contract — the mechanism the pinned regime of
    every superstep loop rests on. (The regime gate itself,
    `superstep.pinned_regime`, is tested below.)

    (a) Small state: a checkpointed state frame carries size stats, so
        Catalyst broadcasts it into the pinned edge cache on its own —
        no SortMergeJoin, no edge movement.
    (b) Big-state regime (forced by disabling auto-broadcast): the join
        becomes a sort-merge join whose EDGE side is the bare
        InMemoryTableScan — the cache's hash partitioning and sort order
        are reused, so the per-iteration Exchange+Sort pair lands ONLY
        on the vertex-sized state side. A repartitioned localCheckpoint
        in place of the cache re-shuffles and re-sorts the edge table
        under every superstep (LogicalRDD drops partitioning in Spark
        4.1 — measured, the r11 rewrite's motivating defect)."""
    import re

    from pyspark.sql import functions as F

    from graph_database_spark.graphs.superstep import _pin_for_iteration

    edges = spark.createDataFrame(
        [(i % 97, i % 53, 1.0) for i in range(4000)],
        "src long, dst long, weight double")
    pinned = _pin_for_iteration(edges, 4, "src")
    pinned.count()
    state = (spark.range(97).select(F.col("id"), F.lit(1.0).alias("rank"))
             .localCheckpoint())

    def plan_of(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))

    join = pinned.join(state, state["id"] == pinned["src"])
    small = plan_of(join)
    assert "InMemoryTableScan" in small
    assert "SortMergeJoin" not in small  # stats-driven broadcast, no hint

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        big = plan_of(pinned.join(state, state["id"] == pinned["src"]))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in big
    assert "InMemoryTableScan" in big
    # the cached edge side is the join's FIRST child (printed first):
    # between the SMJ node and its InMemoryTableScan there must be no
    # Sort and no Exchange — the cache's hash partitioning and sort
    # order are reused as-is (their one-time copies live INSIDE the
    # InMemoryRelation's cached plan, printed further down)
    m = re.search(r"SortMergeJoin[\s\S]*?InMemoryTableScan", big)
    assert m, big
    edge_side = m.group(0)
    assert "Sort (" not in edge_side.split("\n", 1)[1], big
    assert "Exchange (" not in edge_side, big
    pinned.unpersist()


def test_converged_iteration_count_is_pinned_k9(spark, monkeypatch):
    """pagerank_converged_check's oracle unrolls exactly k*=9 steps — a
    constant of the driver's deterministic sf0.01 corpus, in both
    regimes. If testdata ever changes vintage, THIS test fails locally
    before the external hash does, naming the re-measure step."""
    from pyspark.sql import functions as F

    from graph_database_spark.graphs.pagerank import pagerank
    from graph_database_spark.operators.cooccurrence import (
        cooccurrence_ordered, row_normalized_adjacency,
    )
    from graph_database_spark.queries._shared import _items
    from graph_database_spark.sources.testdata import load_table

    sf = "/root/testdata/sf0.01"
    adj = row_normalized_adjacency(cooccurrence_ordered(_items(spark, sf)),
                                   broadcast_row_sums=True)
    verts = load_table(spark, sf, "part").select(
        F.col("p_partkey").alias("id"))
    for regime in _regimes(monkeypatch):
        _ranks, k = pagerank(verts, adj, tol=1e-6, max_iter=50,
                             with_iterations=True)
        assert k == 9, (
            f"{regime}: converged at {k} iterations, oracle unrolls 9 — "
            "re-measure k* and update _pagerank_unrolled_sql/"
            "_ppr_unrolled_sql call sites")


def test_pagerank_submodule_not_shadowed():
    """r10 verdict defect #3: `graphs.pagerank` must resolve to the
    SUBMODULE (both import forms work); the function is re-exported
    package-level as `pagerank_scores`."""
    import importlib
    import types

    import graph_database_spark.graphs as g
    import graph_database_spark.graphs.pagerank as pr_mod
    from graph_database_spark.graphs.pagerank import pagerank as pr_fn

    assert isinstance(g.pagerank, types.ModuleType)
    assert g.pagerank is pr_mod
    assert importlib.import_module(
        "graph_database_spark.graphs.pagerank") is pr_mod
    assert g.pagerank_scores is pr_fn and callable(pr_fn)


def test_edge_pin_row_bound_gates_even_in_broadcast_regime(spark):
    """_EDGE_PIN_ROWS (the r12 sf1 A/B refinement of rule 3): while the
    state side broadcasts, the superstep's streamed edge side is a
    row-format checkpoint ONLY under the measured row bound — past it
    (7.7M-edge sf1: pin 1.2-1.33x faster) the loop pins the sorted
    columnar cache even though the state still broadcasts; and the
    big-state regime pins regardless. Both bounds are inclusive."""
    from graph_database_spark.graphs import superstep as ss

    edges = spark.createDataFrame(
        [(i % 7, (i + 1) % 7, 1.0) for i in range(30)],
        "src long, dst long, weight double").localCheckpoint()

    pinned = ss.pinned_regime(30, 30)
    assert not pinned
    with ss.iteration_frames(pinned, 2, (edges, "src")) as (small,):
        assert not small.storageLevel.useMemory  # checkpoint, not a cache

    pinned2 = ss.pinned_regime(30, ss._EDGE_PIN_ROWS + 1)
    assert pinned2
    with ss.iteration_frames(pinned2, 2, (edges, "src")) as (big,):
        assert big.storageLevel.useMemory  # the sorted persisted cache
    assert not big.storageLevel.useMemory  # released when the loop ends

    pinned3 = ss.pinned_regime(ss._BROADCAST_STATE_ROWS + 1, 30)
    assert pinned3
    assert not ss.pinned_regime(ss._BROADCAST_STATE_ROWS, ss._EDGE_PIN_ROWS)


def test_iteration_frames_share_a_checkpoint_and_release_pins(spark):
    """The checkpoint regime prepares a frame given twice once (HITS's two
    edge directions); the pinned regime pins each pair on its own key and
    unpersists every pin when the block raises. A checkpoint already at
    the loop's partition count is kept as it is."""
    from graph_database_spark.graphs import superstep as ss

    edges = spark.createDataFrame(
        [(i % 7, (i + 1) % 7) for i in range(30)],
        "src long, dst long").repartition(3).localCheckpoint()

    with ss.iteration_frames(False, 2, (edges, "src"),
                             (edges, "dst")) as (e_src, e_dst):
        assert e_src is e_dst
        assert e_src.rdd.getNumPartitions() == 2
    with ss.iteration_frames(False, 3, (edges, "src")) as (kept,):
        assert kept is edges

    with pytest.raises(RuntimeError):
        with ss.iteration_frames(True, 2, (edges, "src"),
                                 (edges, "dst")) as (p_src, p_dst):
            assert p_src.storageLevel.useMemory
            assert p_dst.storageLevel.useMemory
            raise RuntimeError("superstep failed")
    assert not p_src.storageLevel.useMemory
    assert not p_dst.storageLevel.useMemory


def test_edge_pin_row_bound_does_not_change_pagerank_results(
        spark, monkeypatch):
    """Forcing the row bound to 0 flips the tiny test graph onto the
    pinned-edge branch while the state still broadcasts — the mixed
    shape must produce bit-identical ranks for pagerank and
    pagerank_batch (the prep is semantics-free: same arithmetic,
    different physical plan). The local regime pins nothing at either
    bound."""
    import pytest as _pytest

    from graph_database_spark.graphs import pagerank as pr
    from graph_database_spark.graphs import superstep as ss

    verts = spark.range(6).select("id")
    edges = spark.createDataFrame(
        [(i, (i + 1) % 6, 0.5) for i in range(6)]
        + [(i, (i + 2) % 6, 0.5) for i in range(6)],
        "src long, dst long, weight double")
    pers = spark.createDataFrame(
        [("a", 0, 1.0), ("b", 3, 1.0), ("b", 4, 2.0)],
        "key string, id long, p double")

    def run():
        single = {r["id"]: r["rank"]
                  for r in pr.pagerank(verts, edges, tol=-1.0,
                                       max_iter=5).collect()}
        batch = {(r["key"], r["id"]): r["rank"]
                 for r in pr.pagerank_batch(verts, edges, pers, tol=-1.0,
                                            max_iter=5).collect()}
        return single, batch

    pins = []

    def counted(*a, _pin=ss._pin_for_iteration):
        pins.append(a[2:])
        return _pin(*a)
    monkeypatch.setattr(ss, "_pin_for_iteration", counted)

    edge_pin_rows = ss._EDGE_PIN_ROWS
    for regime in _regimes(monkeypatch):
        pins.clear()
        monkeypatch.setattr(ss, "_EDGE_PIN_ROWS", edge_pin_rows)
        base, base_batch = run()
        assert pins == []
        monkeypatch.setattr(ss, "_EDGE_PIN_ROWS", 0)
        forced, forced_batch = run()
        # the Spark loop pins edges on src and p on id, for each of the
        # two runs
        assert pins == ([] if regime == "local"
                        else [("src",), ("id",)] * 2), regime
        assert forced == _pytest.approx(base, abs=0.0)  # bit-identical
        assert forced_batch == base_batch


def _numpy_ppr_probed(n, edges, p_vec, tol, max_iter, damping=0.85):
    """_numpy_pagerank with the loop's stop rule: an L1 delta probe on
    every 3rd iteration, stopping once it is under tol (tol < 0: never);
    an all-zero p falls back to uniform."""
    import numpy as np
    M = np.zeros((n, n))
    for s, d, w in edges:
        M[s, d] += w  # parallel edges add up, as in the edge join
    sinks = np.where(M.sum(axis=1) == 0)[0]
    p = np.asarray(p_vec, dtype=float)
    p = p / p.sum() if p.sum() > 0 else np.full(n, 1.0 / n)
    r = np.full(n, 1.0 / n)
    for it in range(max_iter):
        new = (1 - damping) * p + damping * (M.T @ r + r[sinks].sum() / n)
        delta, r = np.abs(new - r).sum(), new
        if tol >= 0 and it % 3 == 2 and delta < tol:
            break
    return r


@pytest.mark.parametrize("tol,max_iter", [(-1.0, 4), (1e-4, 50)],
                         ids=["fixed", "converged"])
def test_pagerank_batch_tiles_match_per_key_pagerank(spark, monkeypatch, tol,
                                                     max_iter):
    """65 keys run as two blocked tiles (64 + 1) on a graph with sinks:
    every key's ranks must equal its own single-key answer to 1e-12 —
    tile membership, the per-key freeze points and the union change
    nothing. Keys 0 and 63 (both ends of the first tile) and 64 (all-zero p, the
    uniform fallback, alone in the second tile) are checked against
    pagerank(personalization=...); all 65 against a dense power
    iteration with the same probe-and-freeze rule. Both regimes."""
    n = 10
    # vertices 8 and 9 are sinks (in-edges, no out-edges)
    pairs = ([(i, (i + 1) % 8) for i in range(8)]
             + [(i, (i * 3 + 1) % 8) for i in range(8) if i % 3]
             + [(0, 8), (5, 9), (6, 9)])
    deg = {s: sum(1 for a, _ in pairs if a == s) for s, _ in pairs}
    edge_rows = [(s, d, 1.0 / deg[s]) for s, d in pairs]
    verts = spark.range(n).select("id")
    edges = spark.createDataFrame(
        edge_rows, "src long, dst long, weight double").localCheckpoint()
    rows = [(k, k % n, 1.0) for k in range(64)] \
        + [(k, (k * 7) % n, 0.5) for k in range(64) if k % 2] \
        + [(64, 3, 0.0)]
    pers = spark.createDataFrame(rows, "key long, id long, p double")
    for regime in _regimes(monkeypatch):
        batch = {(r["key"], r["id"]): r["rank"]
                 for r in pagerank_batch(verts, edges, pers, tol=tol,
                                         max_iter=max_iter).collect()}
        assert len(batch) == 65 * n
        for key in range(65):
            p_vec = [0.0] * n
            for k, i, p in rows:
                if k == key:
                    p_vec[i] += p
            want = _numpy_ppr_probed(n, edge_rows, p_vec, tol, max_iter)
            for i in range(n):
                assert batch[(key, i)] == pytest.approx(want[i], abs=1e-12), \
                    (regime, key, i)
        for key in (0, 63, 64):
            single = pagerank(
                verts, edges, tol=tol, max_iter=max_iter,
                personalization=pers.filter(F.col("key") == key)
                .select("id", "p"))
            for r in single.collect():
                assert batch[(key, r["id"])] == pytest.approx(
                    r["rank"], abs=1e-12), (regime, key, r["id"])
