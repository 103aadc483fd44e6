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

The static frames (edges, the personalization frame) are prepared by
the regime gate in `graphs.superstep`; sink mass and the convergence
delta ride along as 1-row broadcast DataFrames / scalars, and
`localCheckpoint` truncates state lineage so plans don't grow with
iteration count.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from .superstep import (
    _iter_partitions, hint_state, iteration_frames, pinned_regime,
)


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
    # auto-broadcast long before |V| is big, so the state gate counts
    # cells, not rows (superstep._BROADCAST_STATE_ROWS)
    cells = n * (k + 1)
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
    with iteration_frames(pinned_regime(cells, m), n_parts,
                          (edges, "src"), (p_frame, "id")) as (edges, p):
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
            state = ranks.select("id", *[r[i] for i in live])
            contrib = (
                edges.join(hint_state(state, cells),
                           state["id"] == edges["src"])
                .groupBy(F.col("dst").alias("id"))
                .agg(*[F.sum(F.col(r[i]) * F.col("weight")).alias(f"__c{i}")
                       for i in live])
            )
            stepped = p.join(hint_state(contrib, cells), "id", "left")
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
                    hint_state(ranks.select(
                        "id", *[F.col(r[i]).alias(f"__o{i}") for i in live]),
                        cells), "id"
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
    return out, it + 1
