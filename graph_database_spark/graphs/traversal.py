"""Iterative graph traversal: BFS shortest paths and connected components.

The reference's Neo4j backend gives its users Cypher path queries for
free; its own code only ships fixed 2-3 hop patterns (SURVEY §2.3). These
operators restore general traversal capability Spark-first: driver-side
loops over DataFrames, one equi-join shuffle per superstep, lineage
truncated with localCheckpoint — the same Pregel-on-DataFrames shape as
graphs.pagerank.

Scale notes: each superstep shuffles the frontier (BFS) or the full label
set (CC) against the edge table, which `graphs.superstep` prepares by
regime, so per-superstep movement is state-sized. Keyed frontiers carry
the state-side hint and every per-superstep aggregate is merge-pinned
(see superstep._pin_for_iteration for the measured policy). BFS work is
proportional to the expanding frontier; CC label propagation converges
in O(diameter) supersteps (the driver testdata co-occurrence graphs have
tiny diameters; for pathological chains `connected_components_star`
below is the O(log n)-round alternative).

Each loop states its stop test as one aggregate over the frame its
superstep already builds (a reached vertex, a lowered label, a changed
community, a new or shorter distance, a degree below k), observed inside
that superstep's own checkpoint job (`superstep.checkpoint`): no loop
runs a probe job after its checkpoint, except `connected_components_star`,
whose set-equality test needs the star set's exact count.
"""

from __future__ import annotations

from contextlib import nullcontext

from pyspark.sql import DataFrame, functions as F

from .superstep import (
    _iter_partitions, checkpoint, hint_state, iteration_frames,
    pinned_regime,
)


def _landmark_edges(edges: DataFrame, cells: int, m: int, n_parts: int):
    """`superstep.iteration_frames` for the landmark pair's edges, except
    that the checkpoint regime streams the up-front checkpoint as it is:
    with the one-time repartition the other loops do, both queries ran
    0.84-1.03× old-over-new in sf0.01 A/Bs, below the noise markers on
    the tuned session, and each run started two more jobs."""
    if pinned_regime(cells, m):
        return iteration_frames(True, n_parts, (edges, "src"))
    return nullcontext([edges])


def shortest_paths(edges: DataFrame, landmarks: DataFrame,
                   max_hops: int = 20,
                   num_partitions: int | None = None,
                   dedupe: bool = True) -> DataFrame:
    """(id, landmark, dist): unweighted BFS distance from every reachable
    vertex to each landmark. edges: (src, dst) directed — pass a
    symmetric edge list for undirected semantics. landmarks: (id).

    dedupe=False skips the defensive distinct (a full edge shuffle) when
    the caller guarantees unique (src, dst) rows — e.g. a symmetrized
    aggregated pair table; duplicates would not change BFS results, only
    waste expansion work, so this is a pure planning hint."""
    edges = edges.select("src", "dst")
    if dedupe:
        edges = edges.distinct()
    edges = edges.localCheckpoint()
    m = edges.count()
    # KEYED (id, landmark) state — the class where the measured gated
    # hint beats stats-driven planning (superstep._BROADCAST_STATE_ROWS),
    # so the gate counts (vertex, landmark) cells
    n_landmarks = landmarks.count()
    nv = (edges.select(F.col("src").alias("v"))
          .unionByName(edges.select(F.col("dst").alias("v")))
          .distinct().count())
    cells = nv * max(1, n_landmarks)
    # per-hop join emits up to |E|·|landmarks| expansion rows out of
    # the edge frame's partitions — size by that work product
    n_parts = num_partitions or _iter_partitions(
        edges.sparkSession.sparkContext, m * max(1, n_landmarks), m)

    dist = landmarks.select(
        F.col("id"), F.col("id").alias("landmark"),
        F.lit(0).alias("dist")).localCheckpoint()
    frontier = dist

    with _landmark_edges(edges, cells, m, n_parts) as (edges,):
        for hop in range(1, max_hops + 1):
            # expand: neighbors of the frontier not yet seen for that
            # landmark
            expanded = (
                edges.join(hint_state(frontier, cells),
                           frontier["id"] == edges["src"])
                .select(F.col("dst").alias("id"), "landmark",
                        F.lit(hop).alias("dist"))
                .distinct()
            )
            new_frontier, reached = checkpoint(
                expanded.join(dist.select("id", "landmark"),
                              ["id", "landmark"], "left_anti"),
                F.max(F.lit(True)))
            if not reached:
                break
            dist = dist.unionByName(new_frontier).localCheckpoint()
            frontier = new_frontier
    return dist


def connected_components(vertices: DataFrame, edges: DataFrame,
                         max_iter: int = 50,
                         num_partitions: int | None = None,
                         dedupe: bool = True,
                         init_labels: DataFrame | None = None) -> DataFrame:
    """(id, component): undirected connected components by min-label
    propagation — component = smallest vertex id reachable. vertices: (id);
    edges: (src, dst), treated as undirected.

    dedupe=False skips the distinct over the symmetrized list (a full
    edge shuffle) when the input rows are unique with src<dst or src≠dst
    pairs — the mirror halves are then disjoint by construction and
    duplicates can't exist. Min-propagation is idempotent over
    duplicates, so this is a planning hint, never a correctness risk.

    `init_labels` ((id, component)) warm-starts from a PREVIOUS run's
    labels after edges were appended — the incremental path: appends only
    ever MERGE components, so each old label is a vertex id inside the
    vertex's new component and an upper bound on its new label, and
    min-propagation from those labels reaches the same fixpoint as a
    cold start (min over reachable init labels = the new component min).
    The saving: components UNTOUCHED by the append are already at their
    fixpoint (zero propagation work — and on a typical incremental batch
    that is almost all of them, including the high-diameter ones that
    dominate cold-start superstep counts); only components actually
    merged by new edges pay propagation, bounded by THEIR diameter.
    Vertices absent from init_labels (new arrivals) start at their own
    id. Edge DELETIONS can split components and break the upper-bound
    invariant — recompute cold for those."""
    sym = (edges.select("src", "dst")
           .unionByName(edges.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst"))))
    if dedupe:
        sym = sym.distinct()
    sym = sym.localCheckpoint()
    m = sym.count()
    # labels / neighbor_min are |V|-sized — state sizing and the regime
    # gate use the vertex count; the symmetrized edge count enters at the
    # looser edge weight
    nv = vertices.count()
    n_parts = num_partitions or _iter_partitions(
        edges.sparkSession.sparkContext, nv, m)

    if init_labels is None:
        labels = vertices.select("id", F.col("id").alias("component")) \
            .localCheckpoint()
    else:
        prev = init_labels.select("id", F.col("component").alias("__c0"))
        labels = (vertices.select("id").join(prev, "id", "left")
                  .select("id", F.coalesce(F.col("__c0"), F.col("id"))
                          .alias("component"))
                  .localCheckpoint())

    with iteration_frames(pinned_regime(nv, m), n_parts,
                          (sym, "src")) as (sym,):
        for _ in range(max_iter):
            neighbor_min = (
                sym.join(labels, labels["id"] == sym["src"])
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("component").alias("n_comp"))
            )
            # merge-pin the aggregate side: see the hint policy in
            # superstep._pin_for_iteration. Labels only ever decrease, so
            # the labels changed iff some neighbor min undercuts its label
            labels, changed = checkpoint(
                labels.join(neighbor_min.hint("merge"), "id", "left"),
                F.max(F.col("n_comp") < F.col("component")),
                "id", F.least("component", "n_comp").alias("component"))
            if not changed:
                break
    return labels


def weighted_shortest_paths(edges: DataFrame, landmarks: DataFrame,
                            rounds: int = 8,
                            num_partitions: int | None = None,
                            init_dists: DataFrame | None = None,
                            until_stable: bool = False,
                            with_rounds: bool = False,
                            ) -> DataFrame | tuple[DataFrame, int]:
    """(id, landmark, dist): Bellman-Ford relaxation — min-cost paths
    under non-negative edge weights, the weighted upgrade of
    `shortest_paths` (which counts hops). edges: (src, dst, weight)
    directed; pass a symmetric list for undirected semantics.

    FIXED round count: after r rounds `dist` is exact over all paths of
    ≤ r edges — pinning r makes the whole fixed point replayable by a
    recursive-CTE oracle (the same contract as pagerank_fixed20), and on
    a real workload r is the graph's effective weighted diameter. Each
    round is one edge-join shuffle + one (id, landmark) min-aggregate —
    float-parity-safe across engines because the only arithmetic is
    binary IEEE adds along each path (identical association order) and
    exact MIN comparisons.

    `init_dists` ((id, landmark, dist) from a PREVIOUS run) warm-starts
    the relaxation after edges were APPENDED — the incremental pattern
    shared with pagerank(init_ranks=...) and CC(init_labels=...):
    appends only ever shorten paths, so each old distance is a
    realizable path length in the new graph and an UPPER bound on the
    new distance, and min-relaxation from upper bounds reaches the exact
    fixpoint (it can never undershoot; landmark self-rows are re-seeded
    at 0). Only vertices actually improved by the new edges pay
    propagation rounds. Edge DELETIONS can lengthen paths and break the
    upper-bound invariant — recompute cold for those.

    `until_stable=True` stops as soon as a round neither reaches a new
    (id, landmark) pair nor improves a distance (`rounds` then acts as
    the superstep budget): one flag beside the round's min-aggregate,
    observed in its checkpoint job — no probe job, no extra shuffle.
    Leave False for the fixed-round oracle contract.
    `with_rounds=True` additionally returns the executed round count.
    """
    edges = edges.select("src", "dst", "weight").localCheckpoint()
    m = edges.count()
    # same keyed state and sizing as shortest_paths: the gate counts
    # (vertex, landmark) cells, partitions follow the |E|·|landmarks|
    # relax work product
    n_landmarks = landmarks.count()
    nv = (edges.select(F.col("src").alias("v"))
          .unionByName(edges.select(F.col("dst").alias("v")))
          .distinct().count())
    cells = nv * max(1, n_landmarks)
    n_parts = num_partitions or _iter_partitions(
        edges.sparkSession.sparkContext, m * max(1, n_landmarks), m)

    zero = landmarks.select(
        F.col("id"), F.col("id").alias("landmark"),
        F.lit(0.0).alias("dist"))
    if init_dists is None:
        dist = zero.localCheckpoint()
    else:
        # seed with prior distances (upper bounds after appends); min
        # with the landmark zero rows so a stale/missing self-row can
        # never displace the exact 0
        dist = (init_dists
                .select("id", "landmark", F.col("dist").cast("double"))
                .unionByName(zero)
                .groupBy("id", "landmark").agg(F.min("dist").alias("dist"))
                .localCheckpoint())

    done = 0
    with _landmark_edges(edges, cells, m, n_parts) as (edges,):
        for done in range(1, rounds + 1):
            relaxed = (
                edges.join(hint_state(dist, cells),
                           dist["id"] == edges["src"])
                .select(F.col("dst").alias("id"), "landmark",
                        (F.col("dist") + F.col("weight")).alias("dist"))
            )
            # a pair improved iff it had no distance before (a new pair)
            # or its min undercuts the old one
            dist, improved = checkpoint(
                dist.withColumn("__was", F.col("dist"))
                .unionByName(relaxed, allowMissingColumns=True)
                .groupBy("id", "landmark")
                .agg(F.min("dist").alias("dist"),
                     F.min("__was").alias("__was")),
                F.max(F.col("__was").isNull()
                      | (F.col("dist") < F.col("__was"))),
                "id", "landmark", "dist")
            if until_stable and not improved:
                break
    if with_rounds:
        return dist, done
    return dist


def connected_components_star(vertices: DataFrame, edges: DataFrame,
                              max_rounds: int = 30,
                              num_partitions: int | None = None,
                              dedupe: bool = True) -> DataFrame:
    """(id, component) by alternating large-star/small-star contraction —
    the O(log n)-round connected components of Kiveris et al.,
    "Connected Components in MapReduce and Beyond" (SoCC'14).

    Same answer as `connected_components` (component = min reachable id,
    any orderable id type), different convergence regime: min-label
    propagation needs O(diameter) supersteps, which on a 100 TB graph
    with a long-chain component (web graphs, transaction chains) means
    hundreds of shuffles; star contraction HALVES tree heights every
    alternation, so a 10⁹-vertex path closes in ~30 rounds and typical
    graphs in <10. Prefer the propagation variant on known-low-diameter
    graphs (co-occurrence, social) — fewer jobs per round; prefer this
    one when the diameter is unknown or large.

    Per round: large-star connects every neighbor v>u to min(Γ(u)∪{u})
    (one min-aggregate + one edge join), small-star re-parents every
    smaller neighbor to the group min (same shape on the big→small
    orientation). Both are edge-shuffle-bounded with map-side-combining
    min aggregates; edges shrink toward one star edge per non-root
    vertex, so late rounds are |V|-cheap. Convergence = the canonical
    (big→small) edge set reaches a fixed point — an exact anti-join probe
    on the (small, shrinking) star set, checked every round. This loop
    keeps its count and probe jobs: an equal count is half of its test,
    and a count observed inside the checkpoint job could be doubled by a
    task retry (see `superstep.checkpoint`).
    """
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    if dedupe:
        e = e.distinct()
    e = e.localCheckpoint()
    m = e.count()
    n_parts = num_partitions or _iter_partitions(
        edges.sparkSession.sparkContext, m)

    prev = None
    converged = False
    for _ in range(max_rounds):
        # full neighborhoods: both directions of the current edge set
        sym = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        # large-star: m(u) = min(min_neighbor(u), u); emit (v, m) for
        # every neighbor v > u, plus (u, m) to keep u attached
        mins = (sym.groupBy("src").agg(F.min("dst").alias("__mn"))
                .select("src", F.least("__mn", "src").alias("m")))
        large = (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("a"), F.col("m").alias("b"))
            .unionByName(mins.select(F.col("src").alias("a"),
                                     F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )  # oriented big→small by construction
        # small-star on the big→small orientation: per hub a, re-parent
        # every small neighbor (and a itself) to the group min
        mins2 = large.groupBy("a").agg(F.min("b").alias("m"))
        small = (
            mins2.select("a", F.col("m").alias("b"))
            .unionByName(
                large.join(mins2, "a")
                .filter(F.col("b") != F.col("m"))
                .select(F.col("b").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .repartition(n_parts, "a")
            .localCheckpoint()
        )
        e = small.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        n_small = small.count()  # cheap: small is checkpointed
        if prev is not None:
            # equal-size pre-check skips both anti-join probes on every
            # still-contracting round (sizes differ); when sizes match,
            # equal cardinality + one empty anti-join ⟹ set equality, so
            # the second-direction probe is never needed at all
            changed = (n_small != n_prev
                       or small.join(prev, ["a", "b"], "left_anti")
                       .limit(1).count() > 0)
            if not changed:
                converged = True
                break
        prev, n_prev = small, n_small

    if not converged:
        # max_rounds exhausted before the star fixed point: each vertex's
        # min DIRECT star neighbor would be a silently wrong label here.
        # Finish exactly with min-label propagation over the CONTRACTED
        # star set — star rounds preserve connectivity and only ever
        # re-parent toward smaller ids, and the contracted forest is both
        # far smaller and far shallower than the input, so the bounded
        # propagation pass is cheap and closes in ≤ remaining tree height.
        contracted_vs = (e.select(F.col("src").alias("id"))
                         .unionByName(e.select(F.col("dst").alias("id")))
                         .distinct())
        labels = connected_components(contracted_vs, e,
                                      num_partitions=n_parts,
                                      dedupe=True)
        return (vertices.select("id").distinct()
                .join(labels.withColumnRenamed("component", "__c"),
                      "id", "left")
                .select("id", F.coalesce(F.col("__c"), F.col("id"))
                        .alias("component")))

    # at the fixed point every non-root has exactly one star edge to its
    # component min
    roots = e.groupBy(F.col("src").alias("id")) \
        .agg(F.min("dst").alias("__c"))
    return (vertices.select("id").distinct()
            .join(roots, "id", "left")
            .select("id", F.coalesce(F.col("__c"), F.col("id"))
                     .alias("component")))


def label_propagation(vertices: DataFrame, edges: DataFrame,
                      max_iter: int = 10,
                      num_partitions: int | None = None,
                      dedupe: bool = True,
                      init_labels: DataFrame | None = None,
                      stop_when_stable: bool = False,
                      with_iterations: bool = False) -> DataFrame | tuple[DataFrame, int]:
    """(id, community) via synchronous label propagation with a
    deterministic tie-break: each superstep every vertex adopts the
    label most frequent among its neighbors, ties broken by the SMALLEST
    label (so runs are reproducible — asynchronous/random-order LPA is
    not). Isolated vertices keep their own id. Undirected: pass src<dst
    pairs; the symmetrized list is built here.

    Same Pregel-on-DataFrames shape as connected_components: per
    superstep one edge⋈labels join, a (dst, label) count aggregate, and
    an argmax-by-(count desc, label asc) window over neighbor label
    histograms — all shuffle-bounded by the edge count. LPA on huge
    graphs typically runs a FIXED small iteration budget (it may
    oscillate rather than converge), which is the default contract here:
    no convergence probe, exactly max_iter supersteps.

    `init_labels` ((id, community)) warm-starts from a PREVIOUS run —
    the incremental-graph pattern shared with pagerank(init_ranks=...)
    and connected_components(init_labels=...): after a small edge
    append, yesterday's communities are near the new argmax fixpoint, so
    with `stop_when_stable=True` (a changed-vertex flag observed inside
    each superstep's checkpoint job, no probe job) the loop exits after
    a fraction of the cold budget. Vertices absent
    from init_labels (new arrivals) start at their own id.
    `with_iterations=True` additionally returns the superstep count.
    """
    from pyspark.sql import Window

    sym = (edges.select("src", "dst")
           .unionByName(edges.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst"))))
    if dedupe:
        sym = sym.distinct()
    sym = sym.localCheckpoint()
    m = sym.count()
    # labels / per-vertex argmax frames are |V|-sized — state sizing by
    # vertices, symmetrized edges at the looser edge weight
    nv = vertices.count()
    n_parts = num_partitions or _iter_partitions(
        edges.sparkSession.sparkContext, nv, m)
    if init_labels is None:
        labels = vertices.select("id", F.col("id").alias("community"))
    else:
        prev = init_labels.select("id", F.col("community").alias("__c0"))
        labels = (vertices.select("id").join(prev, "id", "left")
                  .select("id", F.coalesce(F.col("__c0"), F.col("id"))
                           .alias("community")))
    labels = labels.localCheckpoint()

    w = (Window.partitionBy("id")
         .orderBy(F.desc("cnt"), F.asc("community")))
    it = -1  # max_iter <= 0 never enters the loop → superstep count 0
    # LPA keeps the UNCONDITIONAL pin — measured exception to the regime
    # gate (r12 A/B: gated 0.86×, consistent across rounds, while CC
    # gated measured 1.08×): the symmetrized 2-col long edge list decodes
    # trivially from the columnar cache, so rule 3's per-scan decode
    # premium doesn't materialize, and LPA's FIXED 10 supersteps rescan
    # the list enough times that scan cost dominates the setup sort the
    # checkpoint saves; CC converges in ~diameter (2-4) supersteps on the
    # co-occurrence graphs, so its setup dominates and the gate wins.
    with iteration_frames(True, n_parts, (sym, "src")) as (sym,):
        for it in range(max_iter):
            hist = (
                sym.join(labels, labels["id"] == sym["src"])
                .groupBy(F.col("dst").alias("id"), "community")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
            winner = (hist
                      .withColumn("__rn", F.row_number().over(w))
                      .filter("__rn = 1")
                      .select("id", F.col("community").alias("n_comm")))
            # merge-pin the argmax side: see the hint policy in
            # superstep._pin_for_iteration
            labels, changed = checkpoint(
                labels.join(winner.hint("merge"), "id", "left"),
                F.max(F.col("n_comm") != F.col("community")),
                "id", F.coalesce(F.col("n_comm"), F.col("community"))
                .alias("community"))
            if stop_when_stable and not changed:
                break
    if with_iterations:
        return labels, it + 1
    return labels


def kcore_peel(edges: DataFrame, k: int, rounds: int = 3,
               init_candidates: DataFrame | None = None,
               until_stable: bool = False,
               with_rounds: bool = False,
               ) -> DataFrame | tuple[DataFrame, int]:
    """(id, degree): vertices surviving `rounds` synchronized peels of the
    k-core iteration, with their degree in the surviving subgraph.

    Each round removes every vertex whose current degree is below k and
    restricts the edge set to survivors — the synchronous form of k-core
    decomposition (fixed round count, so an external engine can replay it
    exactly; run more rounds for the fixpoint core). edges must hold both
    directions of each undirected pair, so per-src counts ARE degrees.

    Scale shape: per round, one degree aggregate plus two src/dst
    semi-joins, all keyed on vertex id; localCheckpoint truncates lineage
    so the plan stays flat across rounds (same Pregel discipline as CC).
    The input is checkpointed ONCE up front: round 1 otherwise computes
    the incoming edge lineage twice (once under the degree aggregate,
    once under the restricted-edge checkpoint) — measurable when the
    input is an expensive expansion like the co-occurrence pair join.

    `init_candidates` ((id) survivors of a PREVIOUS run) warm-starts the
    peel after edges were DELETED/expired (sliding-window graphs): the
    k-core only ever SHRINKS under deletions, so the old survivor set is
    a superset of the new core, and peeling restricted to any superset
    of the core reaches the exact same fixpoint (core members keep
    degree ≥ k inside the core; dropping non-candidates only peels
    non-core vertices faster). The saving: rounds scale with the old
    CORE's peel depth, not the whole graph's. Edge APPENDS can grow the
    core past the old survivors — recompute cold for those (the mirror
    of CC/SSSP warm starts, which are append-only).

    `until_stable=True` stops when a round peels nothing (`rounds` is
    then the budget; the survivor set at that point IS the k-core
    fixpoint): the minimum degree against k, observed inside the round's
    degree checkpoint, so that round ends before its edge restriction
    (with both directions present it would keep every edge).
    `with_rounds=True` additionally returns the round count.
    """
    e = edges.select("src", "dst").localCheckpoint()
    if init_candidates is not None:
        cand = (init_candidates.select(F.col("id").alias("src"))
                .distinct().localCheckpoint())
        e = (e.join(cand, "src", "leftsemi")
             .join(cand.withColumnRenamed("src", "dst"), "dst", "leftsemi")
             .localCheckpoint())
    done = 0
    for done in range(1, rounds + 1):
        degree, peels = checkpoint(
            e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")),
            F.min("deg") < k)
        if until_stable and not peels:
            break  # both directions held: this round would keep every edge
        keep = degree.filter(F.col("deg") >= k).select("src")
        e = (e.join(keep, "src", "leftsemi")
             .join(keep.withColumnRenamed("src", "dst"), "dst", "leftsemi")
             .localCheckpoint())
    out = (e.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
           .select(F.col("src").alias("id"), "degree"))
    if with_rounds:
        return out, done
    return out


def local_clustering(edges: DataFrame) -> DataFrame:
    """(id, degree, triangles, clustering): per-vertex local clustering
    coefficient 2·tri(v) / (deg(v)·(deg(v)−1)) — the standard
    neighborhood-density metric (Watts–Strogatz) behind community and
    spam/bot screens. edges: oriented src<dst, distinct.

    Scale shape: triangles come from ONE wedge join + closing-edge check
    on the oriented edge list (each triangle a<b<c found exactly once),
    then each triangle credits its three corners — a union + count
    keyed on vertex id. Degree is a count over the symmetrized list. No
    explicit broadcast hint: on thresholded similarity graphs AQE
    converts the join to broadcast from the measured size; on a full
    social graph the same plan shuffles on the join keys (a forced
    broadcast would OOM there) and the orientation trick still bounds
    wedge fan-out by the smaller-id endpoint's degree."""
    e = edges.select("src", "dst").localCheckpoint()
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = (sym.groupBy(F.col("src").alias("id"))
           .agg(F.count(F.lit(1)).alias("degree")))
    ab, bc, ac = e.alias("ab"), e.alias("bc"), e.alias("ac")
    tri = (ab.join(bc, F.col("ab.dst") == F.col("bc.src"))
           .join(ac, (F.col("ac.src") == F.col("ab.src"))
                 & (F.col("ac.dst") == F.col("bc.dst")))
           .select(F.col("ab.src").alias("a"), F.col("ab.dst").alias("b"),
                   F.col("bc.dst").alias("c")))
    per_v = (tri.select(F.col("a").alias("id"))
             .unionByName(tri.select(F.col("b").alias("id")))
             .unionByName(tri.select(F.col("c").alias("id")))
             .groupBy("id").agg(F.count(F.lit(1)).alias("__t")))
    return (deg.join(per_v, "id", "left")
            .select("id", "degree",
                    F.coalesce(F.col("__t"), F.lit(0)).alias("triangles"),
                    F.when(F.col("degree") >= 2,
                           F.round(2.0 * F.coalesce(F.col("__t"), F.lit(0))
                                   / (F.col("degree")
                                      * (F.col("degree") - 1)), 6))
                     .otherwise(F.lit(0.0)).alias("clustering")))


def neighbor_mean_agg(edges: DataFrame, features: DataFrame,
                      feature_col: str, out_col: str) -> DataFrame:
    """(id, degree, <out_col>): 1-layer mean message passing
    (GraphSAGE-mean shape) — every vertex aggregates its neighbors'
    feature. ONE edge⋈feature join + one hash aggregate per layer; the
    feature table is vertex-sized, the join shuffles on the edge key.
    Stack calls for deeper receptive fields (output of layer k is the
    feature table of layer k+1)."""
    return (edges.join(features.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.count(F.lit(1)).alias("degree"),
                 F.round(F.sum(feature_col) / F.count(F.lit(1)), 6)
                  .alias(out_col)))
