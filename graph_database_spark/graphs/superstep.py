"""The physical plan of every superstep loop in `graphs/`: partition
sizing, the regime gate, the state-side hint and the pin's lifetime.

Each loop (PageRank, HITS, BFS, Bellman-Ford, CC, LPA, HyperANF) is the
Pregel-on-DataFrames shape: a driver loop that joins a vertex-sized
state frame to a static edge frame once per superstep and truncates the
state's lineage with `localCheckpoint`. The static frames are prepared
by REGIME (measured, SCALING.md pinned-cache appendix). While the state
broadcasts (`state_cells <= _BROADCAST_STATE_ROWS`) each superstep join
is a broadcast-hash join whose edge side merely streams, so the static
frames stay ROW-FORMAT checkpoints re-partitioned once to the loop's
count (`_repartition_checkpoint`): a sorted columnar cache would pay a
columnar→row decode per scan for partitioning a BHJ never uses (rule 3:
the checkpoint streams ~15% faster; the r11 unconditional pin regressed
the driver bench 1.19–1.45× exactly here). Past the state gate, or past
the measured edge-row bound `_EDGE_PIN_ROWS` even while the state still
broadcasts, the static frames are hash-partitioned, sorted and CACHED
once (`_pin_for_iteration`), so each superstep's sort-merge join reads
them with no Exchange and no Sort and only the vertex-sized state
shuffles. `pinned_regime` is that gate, `hint_state` the matching hint
on the state side of a superstep join, and `iteration_frames` prepares
the static frames and releases every pin when the loop exits, however
it exits. Per-superstep cost is bounded by the state shuffle plus a
cached edge scan, which AQE skew-splits for hot vertices. Two loops keep
a measured exception: LPA always pins, and the landmark pair (BFS,
Bellman-Ford) streams its up-front checkpoint without the repartition.

A superstep's stop test runs inside its own state cut: `checkpoint`
observes one aggregate over the frame the superstep builds (a changed
flag, or HITS' L1 delta) while the eager `localCheckpoint` job runs, so
deciding to halt costs no job of its own, as Pregelix computes its halt
inside the superstep's dataflow. BFS, Bellman-Ford, CC, LPA, k-core and
HITS use it. PageRank's Spark loop keeps its every-third-iteration delta
probe (its snapshot note warns against a second same-iteration `ranks`
reference), HyperANF's checkpoints are lazy (an observation on a lazy
checkpoint reads None, as no job ran), and star-CC keeps the count its
set-equality test needs.

A third regime sits below both: the DRIVER-LOCAL one. At toy and
benchmark sizes a Spark superstep costs its fixed per-job overhead, not
work, so a loop whose inputs collect through Arrow in one query to at
most `LOCAL_EDGE_ROWS` rows together with no null (`local_tables`), and
whose answer fits the same bound (`local_regime`), runs as a numpy
kernel on the driver and hands its answer back with `createDataFrame`:
the inputs' own stages and one collect, no job per superstep. Past the
bound, or on a null, the loop runs in Spark as above, its plans
unchanged. PageRank is the only loop with a local branch so far
(`pagerank._LocalGraph`). `local_tables` is the program's only bounded
Arrow collect and `LOCAL_EDGE_ROWS` its only row bound: the serving
index (`recommend.service.incidence_index`) is collected through it too.
"""

from __future__ import annotations

from contextlib import contextmanager
from functools import reduce
from typing import Any, Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Observation, functions as F

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
# everything pins regardless (the state gate is false). The bound applies
# to EVERY loop including the wide batch-PPR state: the r12 sf1 A/B
# contradicted across session classes there (driver-default: pin 1.28×
# faster; tuned: checkpoint 1.34× faster), and the r13 re-run on a
# quieter host (markers 0.925–1.008 on both classes) read tuned pin 1.21×
# faster, past the band, and driver-default par (0.96)
# (bench_results/ab/ab_batchppr_sf1_r13.json).
_EDGE_PIN_ROWS = 4_000_000

# Rows up to which the program works on the driver: the one bound of the
# one driver collect (`local_tables`), for every frame of the collect
# together, and of a local kernel's answer. Two kernels read it, and it
# is measured for both, on a 4-vCPU host:
# - PageRank (the local regime, today the only loop with one): the
#   largest input size measured by scripts/ab_local_pagerank.py at which
#   the local regime used at most half the Spark loop's CPU, on
#   ppr_fixed20_batch's inputs (3 keys, 20 fixed iterations, adjacency
#   built inside each call). With perfbench's 1 GB driver heap
#   (bench_results/ab/ab_local_pagerank.json) it used 2.8 / 2.1 / 3.2 /
#   18.9 s of CPU against the Spark loop's 16.2 / 12.6 / 12.6 / 53.0 s on
#   the batch_registry tables and sf0.001 / sf0.01 / sf0.1 (18.9k / 18.1k
#   / 234k / 2.41M input rows), 2.8× less at the largest size, every rank
#   within 1e-12.
# - The serving index (`recommend.service.incidence_index`): a
#   per-customer `/recs` similarity request costs its kernel
#   O(|incidence|), and scripts/ab_cf_index.py (bench_results/ab/
#   ab_cf_index.json) timed it against the Spark plan it replaces at
#   0.20 / 2.6 / 26.8 / 25.3 ms against 620 / 617 / 2654 / 2936 ms for
#   10k / 200k / 2M / 2,412,143 incidence rows: at least 10× faster at
#   every size, 116× at this bound (an earlier run read 147× at 2M).
# Memory: the JVM holds the collect as ONE task's result, a few copies at
# once, since the limited Arrow collect plans as a CollectLimit that
# gathers every row into one task; so the bound counts the rows of all the
# frames together, never per frame. At the bound PageRank's collect is
# 83 MB of Arrow (src, dst, weight, key and a frame tag per row), inside
# the 1 GB heap: sf0.1 ran there in every round, after the Spark loop's
# runs too, where a collect with a column per input column (about 130
# MB) ran out of heap. Python holds the table once more, plus about 95
# MB of int64 codes, weights and one step's temporaries; an answer at
# the bound is another 55 MB each way. The index at the bound keeps two
# int64 code arrays of the incidence, 37 MB at 2.41M rows.
LOCAL_EDGE_ROWS = 2_412_143


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


def state_broadcasts(cells: int) -> bool:
    """The state gate: True while a frame of `cells` (rows × value
    columns) is small enough to broadcast (`_BROADCAST_STATE_ROWS`,
    inclusive). The superstep loops ask it of their state; the registry
    asks it of the frames it broadcasts outside a loop."""
    return cells <= _BROADCAST_STATE_ROWS


def local_regime(rows: int) -> bool:
    """The driver-local gate: True while `rows` rows, of the inputs or of
    the answer, may stay on the driver (`LOCAL_EDGE_ROWS`, inclusive)."""
    return rows <= LOCAL_EDGE_ROWS


def local_tables(frames: dict[str, DataFrame]
                 ) -> dict[str, pa.Table] | None:
    """The program's one bounded driver collect, shared by the local
    regime's kernels and the serving index (`recommend.service`): every
    frame in ONE Arrow collect, a tagged `unionByName` (missing columns
    null), so the frames' upstream stages run as the jobs of one query;
    split back into one table of its own columns per frame. None when
    the caller must run in Spark instead: more than LOCAL_EDGE_ROWS rows
    together, or a null in any frame's own columns. A bound that admits
    no row runs no query. Same-named columns take their common type."""
    if not local_regime(0):
        return None
    tagged = [df.withColumn("__frame", F.lit(i))
              for i, df in enumerate(frames.values())]
    union = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True),
                   tagged)
    table = union.limit(LOCAL_EDGE_ROWS + 1).toArrow()
    if not local_regime(table.num_rows):
        return None
    tables = {name: table.filter(pc.equal(table.column("__frame"), i))
              .select(df.columns)
              for i, (name, df) in enumerate(frames.items())}
    if any(col.null_count for t in tables.values() for col in t.columns):
        return None
    return tables


def pinned_regime(state_cells: int, edge_rows: int) -> bool:
    """The regime gate: True pins the static frames (`_pin_for_iteration`),
    False checkpoints them. Checkpoint only while BOTH hold — the state
    broadcasts, so the static side merely streams through a BHJ, and the
    streamed frame is under the measured `_EDGE_PIN_ROWS` bound."""
    return (not state_broadcasts(state_cells)
            or edge_rows > _EDGE_PIN_ROWS)


def hint_state(df: DataFrame, state_cells: int) -> DataFrame:
    """The hint on the STATE side of a superstep join: broadcast under the
    state gate; above it, pin to a merge join so a generous session
    autoBroadcastJoinThreshold can never move an aggregate subplan onto a
    driver-blocking broadcast side (see _pin_for_iteration)."""
    if state_broadcasts(state_cells):
        return F.broadcast(df)
    return df.hint("merge")


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
    size-gated F.broadcast hint (`hint_state`), and every per-iteration
    AGGREGATE (contrib / argmax / half-step) is pinned with .hint("merge")
    so that no session autoBroadcastJoinThreshold can move an aggregation
    subplan onto a driver-blocking broadcast side — hinted-broadcast
    aggregates serialized each iteration into sequential broadcast
    sub-jobs, measured 2–6× slower per iteration depending on host load.

    MEMORY_AND_DISK (persist's default): at cluster scale a 100 TB edge
    cache spills per-executor and is still far cheaper than one edge
    shuffle per superstep.
    """
    return (df.repartition(n_parts, *keys)
              .sortWithinPartitions(*keys)
              .persist())


def _repartition_checkpoint(df: DataFrame, n_parts: int) -> DataFrame:
    """Broadcast-regime static-frame prep: a ROW-FORMAT checkpoint at the
    loop's partition count. The first checkpoint inherits whatever
    partitioning the caller's ETL ended on — under AQE's advisory sizes
    that is often a handful of partitions, which would cap every
    superstep's streaming scan at that parallelism; and a too-high count
    (the session shuffle default) pays near-empty-task scheduler overhead
    per iteration instead. One round-robin shuffle at setup fixes the
    count for all max_iter scans while staying row-format.

    A frame that already IS a checkpoint at `n_parts` partitions is
    returned as it is. The partition count is read only off a checkpoint
    (its RDD is already computed); any other plan is re-partitioned
    without a probe, since reading its partitions could run it."""
    logical = df._jdf.queryExecution().logical()
    if (logical.getClass().getSimpleName() == "LogicalRDD"
            and logical.rdd().getNumPartitions() == n_parts):
        return df
    return df.repartition(n_parts).localCheckpoint()


def checkpoint(df: DataFrame, metric: Column, *cols
               ) -> tuple[DataFrame, Any]:
    """A superstep's state cut and its stop test in ONE job: an eager
    `localCheckpoint` of `df` (of `df.select(*cols)` when columns are
    given), returned with the value of the aggregate `metric` over every
    row of `df`, observed (`DataFrame.observe`) while the checkpoint job
    runs. The value is None when `df` has no row.

    A task retried after a failure may add its rows to the metric twice,
    so the metric must be one that a double count cannot turn into a
    false stop: an "any row changed" flag (`max` of a boolean, `min` of
    a degree against its bound), or a sum compared against a tolerance,
    where a double count only makes the sum larger and so can only
    delay the stop. Never a count compared for equality."""
    seen = Observation()
    observed = df.observe(seen, metric.alias("metric"))
    cut = (observed.select(*cols) if cols else observed).localCheckpoint()
    return cut, seen.get["metric"]


@contextmanager
def iteration_frames(pinned: bool, n_parts: int,
                     *frames: tuple[DataFrame, str]
                     ) -> Iterator[list[DataFrame]]:
    """Prepare the (frame, join key) pairs a loop re-joins every superstep
    and yield them in order: pinned on their key (`_pin_for_iteration`)
    or checkpointed (`_repartition_checkpoint`), where a frame given twice
    shares one checkpoint. Every pin is unpersisted on exit, also when an
    iteration raises, so the loop's result must hang off checkpointed
    state only before the block ends."""
    prepared: list[DataFrame] = []
    checkpoints: dict[int, DataFrame] = {}
    try:
        for df, key in frames:
            if pinned:
                prepared.append(_pin_for_iteration(df, n_parts, key))
            else:
                if id(df) not in checkpoints:
                    checkpoints[id(df)] = _repartition_checkpoint(df, n_parts)
                prepared.append(checkpoints[id(df)])
        yield prepared
    finally:
        if pinned:
            for df in prepared:
                df.unpersist(False)
