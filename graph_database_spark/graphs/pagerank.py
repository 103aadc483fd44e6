"""PageRank with the reference tp1's exact semantics (SURVEY §4.3).

Source: tp1/knoledge_graphs/recommendation.py:150-188 —

- init: rank(v) = 1/N (`:153`).
- personalization normalized to sum 1; uniform 1/N if all-zero (`:181-188`).
- per iteration (`:156-174`):
    new(v) = (1-d)·p(v)
           + d·Σ_{u→v} rank(u)·w(u,v)          (w row-normalized)
           + d·(Σ_{s sink} rank(s)) / N        (UNIFORM redistribution —
                                                not via p; differs from
                                                GraphX/GDS, so this is our
                                                own loop, not an import)
- converge on L1 delta < tol (1e-6) or max_iter (50); d = 0.85 (`:33-39`).

One superstep loop serves every caller (`_pagerank_batch_blocked`): k
personalization vectors ride as the COLUMNS of one |V|-row state frame,
so each power step is a blocked SpMV — the edge table joins the state
once and the dst aggregate sums k weighted products per edge.
`pagerank()` runs that loop with one column; `pagerank_batch()` runs it
over tiles of at most `_BLOCKED_KEYS_MAX` keys.

Spark-first execution: a driver-side loop over DataFrames, with the edge
side prepared by REGIME (measured — SCALING.md pinned-cache appendix):
while the state fits the broadcast gate, each iteration's state⋈edges
join is a broadcast-hash join whose edge side merely streams, so edges
stay a row-format `localCheckpoint` (a sorted columnar cache would pay a
columnar→row decode per scan for partitioning a BHJ never uses — the r11
unconditional pin regressed the driver bench 1.19–1.45× exactly here).
Past the gate, edges are hash-partitioned, sorted, and CACHED once
(`_pin_for_iteration`); the per-superstep sort-merge join then reads the
cache with no Exchange and no Sort on the edge side — only the
vertex-sized state shuffles per superstep. Sink mass and the convergence
delta ride along as 1-row broadcast DataFrames / scalars; `localCheckpoint`
truncates state lineage so plans don't grow with iteration count. This is
the standard Pregel-on-DataFrames shape and survives 1000-executor scale:
per-iteration cost is bounded by the vertex-state shuffle plus a cached
edge scan, which AQE skew-splits for hot vertices.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

# Partition sizing for the per-iteration frames: every superstep pays one
# task per partition per stage, so a 2k-row rank frame on 32 partitions is
# ~30 near-empty tasks × 3 stages × 50 iterations of pure overhead. Target
# a healthy rows-per-partition and cap at the cluster's parallelism — on a
# 1000-executor cluster with billions of edges the cap binds and behavior
# is unchanged; pass num_partitions explicitly to override.
#
# STATE rows drive the count ~20× harder than edge rows: every iteration
# shuffles/sorts only state-sized frames, while edges are sorted ONCE at
# pin time and then merely scanned — so edges tolerate much fuller
# partitions. Measured at sf0.1 (2.39M edges / 20k vertices, local[32]):
# sizing by max(state, edges)/50k gives n_parts=32 and 0.67–0.87 s per
# iteration; state-driven sizing gives n_parts=2–3 and 0.36–0.48 s —
# near-empty state tasks were pure scheduler overhead.
_ROWS_PER_PARTITION = 50_000
_EDGE_ROWS_PER_PARTITION = 1_000_000

# Hint-broadcast gate for WIDE or keyed state (the blocked PageRank
# state, traversal frontiers): state cells (rows × value columns) at or
# below this get F.broadcast hints in the loop. A 65-column 20k-row
# PageRank state is ~10.4 MB and falls just past Catalyst's 10 MB
# auto-broadcast into per-iteration Exchange+Sort of the wide frame —
# measured 20.3 s (hinted) vs 27–32 s (hint-free) for ppr_fixed20_batch
# at sf0.1. 5M cells ≈ 40 MB broadcast at the gate's edge; above it the
# pinned-cache shuffle shape takes over.
_BROADCAST_STATE_ROWS = 5_000_000


def _iter_partitions(spark_ctx, state_rows: int = 0,
                     edge_rows: int = 0) -> int:
    """Partition count for a superstep loop: state rows at
    _ROWS_PER_PARTITION, edge rows at the much looser
    _EDGE_ROWS_PER_PARTITION (edges are sorted once and scanned
    thereafter), capped at the cluster parallelism."""
    want = max(2,
               -(-state_rows // _ROWS_PER_PARTITION),
               -(-edge_rows // _EDGE_ROWS_PER_PARTITION))
    return min(spark_ctx.defaultParallelism, want)


def _pin_for_iteration(df: DataFrame, n_parts: int, *keys: str) -> DataFrame:
    """Hash-partition, sort, and CACHE a frame that is joined on `keys`
    every superstep (the edge table; the static personalization frame).

    persist — not localCheckpoint — because an InMemoryTableScan REPORTS
    the cached plan's outputPartitioning and outputOrdering to the
    optimizer, so every iteration's sort-merge join reuses the cache with
    zero Exchange and zero Sort on this side. A checkpointed LogicalRDD
    does NOT carry partitioning in Spark 4.1 (measured): the old
    repartition+localCheckpoint shape silently re-shuffled and re-sorted
    the full edge table under every superstep's join.

    Hint policy for the loops built on this (measured, see the SCALING.md
    r11 appendix): the STATE side of each superstep join carries a
    size-gated F.broadcast hint, and every per-iteration AGGREGATE
    (contrib / argmax / half-step) is pinned with .hint("merge") so that
    no session autoBroadcastJoinThreshold can move an aggregation subplan
    onto a driver-blocking broadcast side — hinted-broadcast aggregates
    serialized each iteration into sequential broadcast sub-jobs,
    measured 2–6× slower per iteration depending on host load.

    MEMORY_AND_DISK (persist's default): at cluster scale a 100 TB edge
    cache spills per-executor and is still far cheaper than one edge
    shuffle per superstep.
    """
    return (df.repartition(n_parts, *keys)
              .sortWithinPartitions(*keys)
              .persist())


# Upper bound (rows) for the broadcast-regime ROW-FORMAT checkpoint on a
# frame that streams through every superstep's broadcast-hash join. Rule 3
# ("checkpoint beats the sorted columnar cache under a BHJ, ~15%") held at
# every scale it was measured — all sf0.1 loop frames, i.e. up to the
# 2.39M-row co-occurrence adjacency, on both session classes — but
# INVERTED at sf1: pagerank_fixed20 (23.9M-row adjacency) and hits_fixed10
# (7.7M-row purchase bipartite) ran 1.10–1.33× faster with the pinned
# cache on BOTH session classes (driver-default 0.75/0.83 old-over-new
# with markers at 0.92–0.97; tuned 0.87/0.91 with markers at 0.93–0.95;
# interleaved min-of-3 — bench_results/ab/, 2026-08-18). Mechanism: the
# BHJ streams the big side either way, but a checkpoint pays a per-row
# deserialization that grows linearly with row count, while the cache's
# columnar decode amortizes over vectorized batches — a fixed per-scan
# cost that dominates only on SMALL frames. Boundary = the geometric
# midpoint of the measured bracket (checkpoint wins ≤ 2.39M, pin wins
# ≥ 7.7M). Above it, pin even in the broadcast regime; at 100 TB
# everything pins regardless (the state gate is false). Since r13 the
# bound applies to EVERY loop including the wide batch-PPR state (the
# r12 contradiction there was resolved in the pin's favor by a
# quieter-host sf1 re-run — see _pagerank_batch_blocked).
_EDGE_PIN_ROWS = 4_000_000


def _prep_iter_edges(edges: DataFrame, n_parts: int, bcast_state: bool,
                     n_rows: int, *keys: str) -> tuple[DataFrame, bool]:
    """(frame, pinned): regime-gated prep of a static frame (edges) that
    is re-joined every superstep.

    Row-format checkpoint while BOTH gates hold — the state side
    broadcasts (so this side merely streams through a BHJ) AND the frame
    is small enough that per-scan row deserialization stays under the
    cache's columnar-decode cost (`_EDGE_PIN_ROWS`, measured). Otherwise
    the hash-partitioned sorted cache (`_pin_for_iteration`), whose
    reported partitioning/ordering the merge joins reuse."""
    if bcast_state and n_rows <= _EDGE_PIN_ROWS:
        return _repartition_checkpoint(edges, n_parts), False
    return _pin_for_iteration(edges, n_parts, *keys), True


def _repartition_checkpoint(df: DataFrame, n_parts: int) -> DataFrame:
    """Broadcast-regime edge/static-frame prep: a ROW-FORMAT checkpoint
    at the loop's partition count. The first checkpoint inherits
    whatever partitioning the caller's ETL ended on — under AQE's
    advisory sizes that is often a handful of partitions, which would
    cap every superstep's streaming scan at that parallelism; and a
    too-high count (the session shuffle default) pays near-empty-task
    scheduler overhead per iteration instead. One round-robin shuffle at
    setup fixes the count for all max_iter scans while staying
    row-format (measured rule 3: under a broadcast-hash join a
    checkpoint streams ~15% faster than the sorted columnar cache, whose
    partitioning the BHJ never uses)."""
    if df.rdd.getNumPartitions() == n_parts:
        return df
    return df.repartition(n_parts).localCheckpoint()


def pagerank(vertices: DataFrame, edges: DataFrame,
             personalization: DataFrame | None = None,
             damping: float = 0.85, tol: float = 1e-6,
             max_iter: int = 50,
             num_partitions: int | None = None,
             init_ranks: DataFrame | None = None,
             with_iterations: bool = False) -> DataFrame | tuple[DataFrame, int]:
    """vertices: (id); edges: (src, dst, weight) row-stochastic per src.

    Returns (id, rank) — or ((id, rank), iterations_run) when
    `with_iterations=True`. Semantics identical to tp1 `_run_pagerank`;
    runs the blocked loop with one column.

    `init_ranks` ((id, rank)) warm-starts the iteration — the 100 TB
    answer to "1% of edges were appended, don't recompute from 1/N":
    the damped iteration is a contraction with a UNIQUE fixed point, so
    ANY starting vector converges to the same ranks; starting from
    yesterday's ranks just starts geometrically closer. Vertices absent
    from init_ranks (newly appeared) start at 1/N; initial mass need not
    sum to 1 — the (1−d) restart term re-normalizes it geometrically.
    """
    verts = vertices.select("id").distinct()
    n = verts.count()
    if n == 0:
        out, iters = verts.withColumn("rank", F.lit(0.0)), 0
    else:
        if personalization is None:
            personalization = verts.select("id", F.lit(1.0).alias("p"))
        out, iters = _pagerank_batch_blocked(
            verts, n, edges,
            personalization.select(F.lit(0).alias("key"), "id", "p"), [0],
            damping, tol, max_iter, num_partitions, init_ranks)
        out = out.select("id", "rank")
    return (out, iters) if with_iterations else out


# Up to this many personalization vectors ride as COLUMNS of one |V|-row
# state frame (see _pagerank_batch_blocked); pagerank_batch runs a larger
# batch as ceil(k/64) tiles of the same loop.
_BLOCKED_KEYS_MAX = 64


def pagerank_batch(vertices: DataFrame, edges: DataFrame,
                   personalization: DataFrame,
                   damping: float = 0.85, tol: float = 1e-6,
                   max_iter: int = 50,
                   num_partitions: int | None = None) -> DataFrame:
    """Personalized PageRank for MANY personalization vectors at once.

    personalization: (key, id, p). Returns (key, id, rank). This is the
    100 TB-idiomatic form of the reference's per-request personalized
    PageRank (tp1 recommendation.py:135-142): every customer's PPR runs
    in the same shuffles instead of one driver loop per customer.
    Convergence is tracked PER KEY — a key whose L1 delta drops below tol
    is frozen (its ranks stop updating), matching the reference's early
    termination per run.

    Keys run in sorted tiles of at most _BLOCKED_KEYS_MAX through the
    blocked loop; the tiles' results are unioned.
    """
    verts = vertices.select("id").distinct()
    n = verts.count()
    key_list = [r["key"] for r in
                personalization.select("key").distinct().orderBy("key")
                .collect()]
    if n == 0 or not key_list:
        return personalization.select("key").limit(0) \
            .withColumn("id", F.lit(None).cast("long")) \
            .withColumn("rank", F.lit(0.0))
    tiles = [
        _pagerank_batch_blocked(
            verts, n, edges, personalization,
            key_list[i:i + _BLOCKED_KEYS_MAX],
            damping, tol, max_iter, num_partitions)[0]
        for i in range(0, len(key_list), _BLOCKED_KEYS_MAX)]
    return reduce(DataFrame.unionByName, tiles)


def _pagerank_batch_blocked(verts: DataFrame, n: int, edges: DataFrame,
                            personalization: DataFrame, key_list: list,
                            damping: float, tol: float, max_iter: int,
                            num_partitions: int | None,
                            init_ranks: DataFrame | None = None
                            ) -> tuple[DataFrame, int]:
    """The PageRank superstep loop: ((key, id, rank), iterations_run)
    for the keys in `key_list` (at most _BLOCKED_KEYS_MAX).

    State is ONE |V|-row frame with a rank column per key — the k
    personalization vectors are columns of a dense |V|×k matrix and each
    power step is a blocked SpMV: edges join the state ONCE on src and
    the dst aggregation sums k weighted products per edge. Per key: p is
    normalized to sum 1 (uniform 1/n when a key's p sums to 0), sink
    mass is redistributed uniformly, and every DELTA_EVERY(=3)-th
    iteration an L1 delta probe freezes the keys under tol (a frozen
    key's column is snapshotted and drops out of the state).

    `init_ranks` ((id, rank)) starts every column; ids absent from it
    start at 1/n (pagerank()'s warm start).

    Scale: |V| rows × (k+1) doubles — for k ≤ 64 the state is ~0.5 KB a
    row. Convergence needs one driver sync per probe (a 1-row k-column
    aggregate).
    """
    k = len(key_list)
    spark_ctx = verts.sparkSession.sparkContext
    edges = edges.select("src", "dst", "weight").localCheckpoint()
    m = edges.count()
    n_parts = num_partitions or _iter_partitions(spark_ctx, n, m)

    # pivot personalization to one column per key (max: (key,id) unique,
    # max over the singleton; absent → 0)
    pers_w = personalization.groupBy("id").agg(
        *[F.max(F.when(F.col("key") == F.lit(kv), F.col("p")))
          .alias(f"__p{i}") for i, kv in enumerate(key_list)])
    full = verts.join(pers_w, "id", "left").select(
        "id", *[F.coalesce(F.col(f"__p{i}"), F.lit(0.0)).alias(f"__p{i}")
                for i in range(k)])
    totals = full.agg(*[F.sum(f"__p{i}").alias(f"__t{i}") for i in range(k)])
    # carry the sink flag INSIDE the personalization frame so each
    # iteration's sink mass comes out of a 1-row aggregate of the state
    # instead of its own semi-join
    sink_cols = verts.join(
        edges.select(F.col("src").alias("id")).distinct(), "id", "left_anti"
    ).select("id", F.lit(True).alias("__is_sink"))
    p_frame = (
        full.crossJoin(F.broadcast(totals))
        .join(sink_cols, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("__is_sink"), F.lit(False)).alias("__is_sink"),
            *[F.when(F.col(f"__t{i}") > 0,
                     F.col(f"__p{i}") / F.col(f"__t{i}"))
              .otherwise(F.lit(1.0 / n)).alias(f"__p{i}") for i in range(k)]))
    # WIDE state: the k+1-column frame sits past Catalyst's 10 MB
    # auto-broadcast long before |V| is big (see _BROADCAST_STATE_ROWS
    # note) — hint it under the cell gate, fall back to the pinned-cache
    # shuffle shape above it.
    bcast_state = n * (k + 1) <= _BROADCAST_STATE_ROWS
    # Regime gate (measured rule 3 + the _EDGE_PIN_ROWS row bound): under
    # both gates the per-iteration joins are broadcast-hash joins whose
    # p/edge sides STREAM — row-format checkpoints, not sorted columnar
    # caches (whose per-scan decode the r11 unconditional pin paid 20
    # times per run: the driver-bench 1.45× regression on
    # ppr_fixed20_batch). Past either gate p and edges pin together. The
    # row bound applies here since r13: the r12 sf1 A/B contradicted
    # across session classes on this loop (driver-default: pin 1.28×
    # faster; tuned: checkpoint 1.34× faster); the r13 re-run on a
    # quieter host (markers 0.925-1.008 on both classes) read tuned pin
    # 1.21× faster (past the band) and driver-default par (0.96, inside)
    # (bench_results/ab/ab_batchppr_sf1_r13.json).
    edges, pinned = _prep_iter_edges(edges, n_parts, bcast_state, m, "src")
    p = (_pin_for_iteration(p_frame, n_parts, "id") if pinned
         else p_frame.repartition(n_parts).localCheckpoint())

    def _b(df: DataFrame) -> DataFrame:
        # big regime: pin to a merge join so a generous session
        # autoBroadcastJoinThreshold can never move an aggregate subplan
        # onto a driver-blocking broadcast side (see _pin_for_iteration)
        return F.broadcast(df) if bcast_state else df.hint("merge")

    r = [f"__r{i}" for i in range(k)]
    check_delta = tol >= 0
    # A frozen key's column is SNAPSHOTTED out of the state (the ranks
    # frame carries live columns only) rather than carried forward via a
    # self-join of the state — a second same-iteration join of `ranks`
    # into the stepped chain triggers the measured Spark 4.1 local
    # exponential plan-degradation after ~13-16 iterations; with one
    # `ranks` reference per step (the contrib join) iteration cost stays
    # flat, and dropping frozen columns also skips their dead updates.
    live = list(range(k))
    frozen_snap: dict[int, DataFrame] = {}
    # The convergence probe is the only per-iteration driver sync; every
    # other scalar (sink mass) rides inside the plan as a broadcast 1-row
    # aggregate, so a no-probe iteration is ONE job (the checkpoint).
    # Probing every DELTA_EVERY-th iteration overshoots a key's exact
    # stop point by at most DELTA_EVERY-1 damped steps, each moving its
    # ranks by < tol in L1 — far inside the 1e-4 golden tolerance — while
    # the tol<0 fixed-iteration mode (the oracle-checked path) never
    # probes.
    DELTA_EVERY = 3
    it = -1  # max_iter <= 0 never enters the loop → iteration count 0
    try:
        has_sinks = p.filter("__is_sink").limit(1).count() > 0
        ranks = p.select("id", "__is_sink")
        init = F.lit(1.0 / n)
        if init_ranks is not None:
            ranks = ranks.join(
                init_ranks.select("id", F.col("rank").alias("__init")),
                "id", "left")
            init = F.coalesce(F.col("__init"), init)
        ranks = ranks.select(
            "id", "__is_sink", *[init.alias(rc) for rc in r]
        ).localCheckpoint()
        for it in range(max_iter):
            contrib = (
                edges.join(_b(ranks.select("id", *[r[i] for i in live])),
                           ranks["id"] == edges["src"])
                .groupBy(F.col("dst").alias("id"))
                .agg(*[F.sum(F.col(r[i]) * F.col("weight")).alias(f"__c{i}")
                       for i in live])
            )
            stepped = p.join(_b(contrib), "id", "left")
            if has_sinks:
                # a graph with no dangling vertices keeps sink mass
                # identically 0 — the aggregate + crossJoin drop out
                sink_mass = ranks.filter("__is_sink").agg(
                    *[F.coalesce(F.sum(r[i]), F.lit(0.0)).alias(f"__s{i}")
                      for i in live])
                stepped = stepped.crossJoin(F.broadcast(sink_mass))

            def _new(i: int):
                term = ((1.0 - damping) * F.col(f"__p{i}")
                        + damping * F.coalesce(F.col(f"__c{i}"), F.lit(0.0)))
                if has_sinks:
                    term = term + damping * F.col(f"__s{i}") / n
                return term

            new_ranks = stepped.select(
                "id", "__is_sink",
                *[_new(i).alias(r[i]) for i in live]).localCheckpoint()
            if check_delta and it % DELTA_EVERY == DELTA_EVERY - 1:
                # per-key L1 deltas as a join of the two checkpointed
                # frames (carrying a __prev column through the checkpoint
                # instead adds the same-iteration `ranks` reference the
                # snapshot note above warns about)
                deltas = new_ranks.join(
                    _b(ranks.select("id", *[F.col(r[i]).alias(f"__o{i}")
                                            for i in live])), "id"
                ).agg(*[F.sum(F.abs(F.col(r[i]) - F.col(f"__o{i}")))
                        .alias(f"__d{i}") for i in live]).first()
                done = [i for i in live if deltas[f"__d{i}"] < tol]
                for i in done:
                    # freeze at the key's own convergence point —
                    # checkpointed, so this reference stays valid and
                    # adds no lineage
                    frozen_snap[i] = new_ranks.select("id", r[i])
                live = [i for i in live if i not in done]
            ranks = new_ranks
            if check_delta and not live:
                break

        def _long(i: int, frame: DataFrame) -> DataFrame:
            return frame.select(
                F.lit(key_list[i]).alias("key"), "id",
                F.col(r[i]).alias("rank"))

        out = reduce(DataFrame.unionByName,
                     [_long(i, frozen_snap.get(i, ranks)) for i in range(k)])
        out = out.localCheckpoint()
    finally:
        # the output hangs off checkpointed state only — the pins can go;
        # finally-scoped so an aborted iteration (executor loss, interrupt
        # during the delta probe) cannot leak session-lifetime pins
        if pinned:
            edges.unpersist(False)
            p.unpersist(False)
    return out, it + 1
