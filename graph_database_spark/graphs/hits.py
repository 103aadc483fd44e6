"""HITS (hubs & authorities) on a bipartite interaction graph.

Beyond-reference graph algorithm in the same family as the reference's
PageRank (tp1/knoledge_graphs/recommendation.py:135-188 is the model for
the loop discipline): on the customer→product purchase graph, authority
ranks products by how much hub-weight buys them, hub ranks customers by
how authoritative their baskets are — the classic bipartite
reinforcement (Kleinberg, JACM 1999).

Execution mirrors graphs.pagerank: a driver loop over DataFrames with
the edge table prepared by the regime gate in `graphs.superstep`. In the
pinned regime the edges are pinned TWICE, on src for the authority
half-step and on dst for the hub half-step, so neither half-step
re-shuffles or re-sorts edges; in the checkpoint regime both share one
checkpoint. L1 normalization rides along as a 1-row broadcast aggregate
(no driver sync); lineage is truncated per iteration with
localCheckpoint. Fixed iteration count (no stop test) keeps the
whole fixed point replayable by an external engine — the same contract
as `pagerank(tol=-1)`, giving the DuckDB oracle a value-level check.
With `tol`, the stop test is the hubs' L1 delta, summed inside each
iteration's own checkpoint job (`superstep.checkpoint`), not by a probe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .superstep import (
    _iter_partitions, checkpoint, hint_state, iteration_frames,
    pinned_regime,
)


def bipartite_hits(edges: DataFrame, max_iter: int = 10,
                   num_partitions: int | None = None,
                   init_hubs: DataFrame | None = None,
                   tol: float | None = None,
                   with_iterations: bool = False) -> DataFrame | tuple[DataFrame, int]:
    """edges: (src, dst) distinct directed pairs (hub side → authority
    side; the two id spaces are independent). Returns (side, id, score):
    one 'hub' row per distinct src and one 'authority' row per distinct
    dst, both L1-normalized, scores rounded to 6 dp.

    Per iteration: a ← normalize₁(Aᵀ h), then h ← normalize₁(A a) — the
    in-iteration refresh of `a` (not the stale one) is Kleinberg's
    original update order. After the final h, one extra half-step
    derives the authorities consistent with it.

    `init_hubs` ((id, score) hub rows, e.g. the 'hub' side of a previous
    run's output) warm-starts the power iteration — the incremental
    pattern shared with pagerank(init_ranks=...): HITS converges
    geometrically to the principal eigenvector, so after a small edge
    append yesterday's hubs are already near the new fixed point and a
    `tol` L1 delta (the previous hubs brought into each hub half-step
    by a union and summed in its checkpoint job, no probe job) exits in
    a fraction of the cold count.
    Hubs absent from init_hubs (new arrivals) start at the uniform
    value; the scale is irrelevant — both half-steps re-normalize.
    `tol=None` keeps the default fixed-iteration contract (replayable by
    the SQL oracle). `with_iterations=True` additionally returns the
    iteration count.
    """
    e = edges.select("src", "dst").distinct().localCheckpoint()
    m = e.count()
    hubs = e.select("src").distinct().localCheckpoint()
    # per-iteration shuffles are VERTEX-sized (the h/a score frames), so
    # the state term is the larger vertex side; the edge count only
    # enters at the looser edge weighting (sorted once at pin time)
    n_state = max(hubs.count(), e.select("dst").distinct().count())
    n_parts = num_partitions or _iter_partitions(
        edges.sparkSession.sparkContext, n_state, m)
    if init_hubs is None:
        h = hubs.withColumn("h", F.lit(1.0)).localCheckpoint()
    else:
        prev = init_hubs.select(F.col("id").alias("src"),
                                F.col("score").alias("__h0"))
        # new arrivals get the MINIMUM provided score, not a constant:
        # the init frame is L1-normalized (scores ~1/n), so a fixed 1.0
        # would dominate the init and land FARTHER from the fixed point
        # than a cold start; a brand-new low-degree hub's true score is
        # near the bottom of the distribution, so min (a 1-row broadcast)
        # is the tight prior — measured 39 vs 46 warm iterations against
        # a mean fill on the two-block test graph
        lo = prev.agg(F.min("__h0").alias("__lo"))
        h = (hubs.join(prev, "src", "left")
             .crossJoin(F.broadcast(lo))
             .select("src", F.coalesce(F.col("__h0"), F.col("__lo"),
                                       F.lit(1.0)).alias("h"))
             .localCheckpoint())

    def _authorities(hub: DataFrame) -> DataFrame:
        a = (e_src.join(hub, "src")
             .groupBy("dst").agg(F.sum("h").alias("a")))
        tot = a.agg(F.sum("a").alias("__t"))
        return (a.crossJoin(F.broadcast(tot))
                .select("dst", (F.col("a") / F.col("__t")).alias("a")))

    it = -1  # max_iter <= 0 never enters the loop → iteration count 0
    # the AUTHORITY half-step joins edges on src (summing h over
    # out-edges of each hub lands on dst), the HUB half-step on dst —
    # one sorted copy per direction in the pinned regime (2× cache, the
    # GraphX-style trade: at scale a second edge cache is far cheaper
    # than max_iter edge shuffles)
    with iteration_frames(pinned_regime(n_state, m), n_parts,
                          (e, "src"), (e, "dst")) as (e_src, e_dst):
        for it in range(max_iter):
            a = _authorities(h)
            h_new = (e_dst.join(hint_state(a, n_state), "dst")
                     .groupBy("src").agg(F.sum("a").alias("h")))
            tot_h = h_new.agg(F.sum("h").alias("__t"))
            h_next = (h_new.crossJoin(F.broadcast(tot_h))
                      .select("src", (F.col("h") / F.col("__t")).alias("h")))
            if tol is None:
                h = h_next.localCheckpoint()
                continue
            # both frames are L1-normalized, so the delta is scale-free.
            # The old hubs enter by a union, not a join: a checkpoint
            # keeps its plan's size estimate and a join multiplies its
            # sides', so a joined-in state compounds it every iteration
            # (the driver ran out of a 4 GB heap estimating it within
            # test_hits_warm_start's 100 iterations)
            h, delta = checkpoint(
                h_next.unionByName(h.withColumnRenamed("h", "__h0"),
                                   allowMissingColumns=True)
                .groupBy("src").agg(F.max("h").alias("h"),
                                    F.max("__h0").alias("__h0")),
                F.sum(F.abs(F.col("h") - F.col("__h0"))), "src", "h")
            if delta is not None and delta < tol:
                break

        # the closing half-step still reads the e_src frame — checkpoint
        # it before the pinned edge copies are released
        a = _authorities(h).localCheckpoint()
    out = (
        h.select(F.lit("hub").alias("side"), F.col("src").alias("id"),
                 F.round("h", 6).alias("score"))
        .unionByName(
            a.select(F.lit("authority").alias("side"),
                     F.col("dst").alias("id"),
                     F.round("a", 6).alias("score")))
    )
    if with_iterations:
        return out, it + 1
    return out
