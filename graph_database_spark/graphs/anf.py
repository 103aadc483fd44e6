"""HyperANF: the approximate neighborhood function N(k) = Σ_v |B(v, k)|
(how many (source, target) pairs lie within distance k) via per-vertex
HyperLogLog registers — Boldi, Rosa & Vigna, "HyperANF: approximating
the neighbourhood function of very large graphs on a budget", WWW 2011
(itself the HLL refit of Palmer/Gibbons/Faloutsos's ANF, KDD 2002).

Why a sketch: the exact neighborhood function needs all-pairs
reachability — quadratic state, hopeless at 100 TB. HyperANF keeps ONE
HLL counter per vertex (≤ m register rows) and runs the Pregel-style
rule  B(v, k) = {v} ∪ ⋃_{(v,w)∈E} B(w, k−1)  with HLL union = per-
register MAX, so each superstep is one edge join + one (id, register)
max-aggregate: O(|E|·m̄) work, bounded state, no quadratic anything.
The curve N(0), N(1), … yields the effective diameter (smallest k with
N(k) ≥ 0.9·N(∞)) — the classic "four degrees of separation" metric.

Engine-portable by the same construction as `operators/sketches`' HLL:
md5-based register/rank assignment (integer-exact bin() ranks), BIGINT
harmonic sums, integer-only ln in the linear-counting branch, and the
cross-vertex total summed in DECIMAL after a 6-dp round — so a SQL
oracle replays the whole iteration bit-for-bit (unlike a float-summed
estimate, whose addition order would differ between engines).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from ..operators.sketches import HLL_M, hll_estimate, hll_sketch
from .superstep import _iter_partitions, iteration_frames, pinned_regime


def _iteration_edges(state: DataFrame, edges: DataFrame):
    """`superstep.iteration_frames` over the edges, partitioned on dst.
    The one-off checkpoint stops every superstep re-executing the
    caller's whole edge-building subtree (for the purchase graph, a
    4-table ETL join). The regime gate counts the register state at its
    saturation bound |V|·m, not at its starting size: balls saturate
    toward |V|·m register rows, so past that bound the state outgrows
    any session broadcast threshold mid-run and the superstep join flips
    to sort-merge, where the pin's partitioning keeps the per-superstep
    edge Exchange+Sort out of the plan."""
    n_vertices = state.count()
    edges = edges.localCheckpoint()
    m = edges.count()
    # NOTE (r13, measured): hinting the ~1M-row edge checkpoint broadcast
    # here (build side of every superstep join, saving the register
    # state's per-superstep Exchange+Sort) was A/B'd and REJECTED — the
    # per-superstep BroadcastExchange cost more than the exchange it
    # saved on both session classes (driver-default diameter 0.79×,
    # tuned marker-adjusted ≈0.82-0.91×; OPTIMIZATION_r13.md item 4).
    # Each superstep streams register rows (≥ edge count once balls grow)
    # out of the edge frame's partitions — size by edge rows at the STATE
    # weight so the contrib map stage keeps real parallelism.
    n = _iter_partitions(edges.sparkSession.sparkContext, m, m)
    return iteration_frames(pinned_regime(n_vertices * HLL_M, m), n,
                            (edges, "dst"))


def _init_state(vertices: DataFrame) -> DataFrame:
    """Radius-0 register state: each vertex's singleton HLL (one row)."""
    return hll_sketch(
        vertices.select("id", F.col("id").cast("string").alias("token")),
        group_cols=("id",)).localCheckpoint()


def _superstep(state: DataFrame, edges: DataFrame) -> DataFrame:
    """B(v, k) = B(v, k−1) ∪ ⋃ B(w, k−1) over out-edges (v, w): one edge
    join + one (id, register) max-aggregate, checkpointed — the single
    superstep body shared by the curve and the tol-stopped diameter (the
    two paths must never drift).

    The checkpoint is LAZY (eager=False): the caller's next action — the
    nf estimate for this radius, or the final curve aggregate —
    materializes it, folding what used to be a separate sequential
    checkpoint job per radius into the job that needed the state anyway
    (r12 verdict #4: one driver-sync job per radius removed; the
    LogicalRDD still truncates lineage, so plan depth stays constant)."""
    contrib = (edges.alias("e")
               .join(state.alias("s"),
                     F.col("e.dst") == F.col("s.id"))
               .select(F.col("e.src").alias("id"),
                       F.col("s.register").alias("register"),
                       F.col("s.max_rank").alias("max_rank")))
    return (state.unionByName(contrib)
            .groupBy("id", "register")
            .agg(F.max("max_rank").alias("max_rank"))
            .localCheckpoint(eager=False))


def _nf(state: DataFrame) -> DataFrame:
    """1-row (nf): Σ_v HLL-estimate(B(v, k)) for one radius's state,
    each per-vertex estimate rounded to 6 dp and summed as DECIMAL(24,6)
    (0.0 for an empty graph, not NULL) — shared by the curve and the
    diameter so the two can never drift."""
    return hll_estimate(state, group_cols=("id",)).agg(F.round(F.coalesce(
        F.sum(F.col("hll_estimate").cast("decimal(24,6)")).cast("double"),
        F.lit(0.0)), 6).alias("nf"))


def hyperanf_curve(vertices: DataFrame, edges: DataFrame,
                   iters: int = 3) -> DataFrame:
    """(iter, nf): the neighborhood-function curve for radii 0..iters.

    `vertices` must carry an `id` column; `edges` (src, dst) directed —
    B(v, k) follows OUT-edges (symmetrize first for undirected balls).
    Register state is long-form: a vertex holds one row per OCCUPIED
    register (singletons start at exactly 1 row), so state size is
    Σ_v min(m, |B(v, k)|) — never |V|·m until balls saturate.

    nf(k) is `_nf` of radius k's state — an exact, order-independent
    DECIMAL addition, so the result is deterministic under any
    partitioning and replayable by the DuckDB oracle. Each radius's
    total is a 1-row aggregate of the ≤ Σ min(m, ball) register table;
    the union of iters+1 such rows is driver-sized by definition."""
    state = _init_state(vertices)
    outs = []
    with _iteration_edges(state, edges) as (edges,):
        for k in range(iters + 1):
            if k:
                state = _superstep(state, edges)
            outs.append(_nf(state).select(
                F.lit(k).cast("int").alias("iter"), "nf"))
        # the lazy superstep checkpoints materialize only under an
        # action, so the curve is checkpointed HERE, while the pinned
        # edges are still registered — released any earlier, no
        # superstep would read the pin
        res = reduce(DataFrame.unionByName, outs).localCheckpoint()
    return res


def effective_diameter(vertices: DataFrame, edges: DataFrame,
                       alpha: float = 0.9, max_iters: int = 16,
                       growth_tol: float = 1e-6) -> tuple[float, list[float]]:
    """(effective diameter, [N(0), N(1), …]): run supersteps until the
    neighborhood function plateaus (relative growth ≤ growth_tol — the
    HyperANF stopping rule; reachability sets only grow, so a flat curve
    IS the fixpoint up to sketch noise), then interpolate the standard
    α-effective diameter: the smallest x with N(⌊x⌋)+frac·(N(⌈x⌉)−N(⌊x⌋))
    ≥ α·N(∞), linearly interpolated between radii (Palmer et al., KDD'02
    convention). Each curve point is a 1-row aggregate; the driver holds
    only the float curve — state stays distributed."""
    curve: list[float] = []
    state = _init_state(vertices)
    with _iteration_edges(state, edges) as (edges,):
        curve.append(float(_nf(state).head()["nf"]))
        for _ in range(max_iters):
            # lazy superstep checkpoint: the _nf estimate below is the
            # action that materializes it — ONE job per radius instead
            # of checkpoint-job + estimate-job (r12 verdict #4)
            state = _superstep(state, edges)
            curve.append(float(_nf(state).head()["nf"]))
            if curve[-1] <= curve[-2] * (1.0 + growth_tol):
                break
    target = alpha * curve[-1]
    for k, v in enumerate(curve):
        if v >= target:
            if k == 0:
                return 0.0, curve
            lo, hi = curve[k - 1], curve[k]
            frac = (target - lo) / (hi - lo) if hi > lo else 0.0
            return (k - 1) + frac, curve
    return float(len(curve) - 1), curve
