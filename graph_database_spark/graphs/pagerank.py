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

Both entry points (`pagerank()`, `pagerank_batch()`) are thin wrappers
over one body (`_pagerank`), which builds the answer's schema once and
picks one of two regimes with the same arithmetic:

- DRIVER-LOCAL (`_LocalGraph`, the superstep module's local regime):
  the edges, the vertex ids, the personalization and `init_ranks` are
  collected in the program's one bounded collect
  (`superstep.local_tables`, at most `LOCAL_EDGE_ROWS` rows together),
  ids are encoded against the sorted vertex ids, and each key steps as
  `np.bincount(dst, weights=w·r[src])`; the answer comes back through
  `createDataFrame`. It falls back to the Spark loop when the inputs
  hold more than `LOCAL_EDGE_ROWS` rows together or a null, when the
  answer (keys × vertices) would, on a floating-point id or key, ids
  whose types differ between the frames (any two integral types compare
  as int64), a decimal weight, p or rank, or a vertex listed twice in
  `init_ranks`.
- SPARK (`_pagerank_batch_blocked`): k personalization vectors ride as
  the COLUMNS of one |V|-row state frame, so each power step is a
  blocked SpMV — the edge table joins the state once and the dst
  aggregate sums k weighted products per edge. `pagerank()` runs that
  loop with one column; `pagerank_batch()` runs it over tiles of at most
  `_BLOCKED_KEYS_MAX` keys.

The Spark loop's static frames (edges, the personalization frame) are
prepared by the regime gate in `graphs.superstep`; sink mass and the
convergence delta ride along as 1-row broadcast DataFrames / scalars,
and `localCheckpoint` truncates state lineage so plans don't grow with
iteration count.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DataType, DecimalType, DoubleType, FloatType, IntegerType, IntegralType,
    NumericType, StructField, StructType,
)

from ..operators.util import codes, sorted_distinct
from .superstep import (
    _iter_partitions, hint_state, iteration_frames, local_regime,
    local_tables, pinned_regime,
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
    runs the driver-local kernel or the blocked loop with one column.

    `init_ranks` ((id, rank)) warm-starts the iteration — the 100 TB
    answer to "1% of edges were appended, don't recompute from 1/N":
    the damped iteration is a contraction with a UNIQUE fixed point, so
    ANY starting vector converges to the same ranks; starting from
    yesterday's ranks just starts geometrically closer. Vertices absent
    from init_ranks (newly appeared) start at 1/N; initial mass need not
    sum to 1 — the (1−d) restart term re-normalizes it geometrically.
    """
    if personalization is not None:
        personalization = personalization.select(
            F.lit(0).alias("key"), "id", "p")
    out, iters = _pagerank(vertices, edges, personalization, [0], damping,
                           tol, max_iter, num_partitions, init_ranks)
    out = out.select("id", "rank")
    return (out, iters) if with_iterations else out


# Up to this many personalization vectors ride as COLUMNS of one |V|-row
# state frame (see _pagerank_batch_blocked); pagerank_batch runs a larger
# batch as ceil(k/64) tiles of the same loop.
_BLOCKED_KEYS_MAX = 64

# Both regimes probe a key's L1 delta every _DELTA_EVERY-th iteration and
# freeze it once the delta is under tol. Probing every third iteration
# overshoots a key's exact stop point by at most two damped steps, each
# moving its ranks by < tol in L1 — far inside the 1e-4 golden tolerance
# — while the tol<0 fixed-iteration mode (the oracle-checked path) never
# probes.
_DELTA_EVERY = 3


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
    return _pagerank(vertices, edges, personalization, None, damping, tol,
                     max_iter, num_partitions)[0]


def _pagerank(vertices: DataFrame, edges: DataFrame,
              personalization: DataFrame | None, key_list: list | None,
              damping: float, tol: float, max_iter: int,
              num_partitions: int | None,
              init_ranks: DataFrame | None = None) -> tuple[DataFrame, int]:
    """The body of both entry points: ((key, id, rank), iterations_run).
    It builds the answer's schema (the key type of `personalization`, an
    int without one; the id type of `vertices`), which both regimes
    return, then runs the driver-local kernel when `_LocalGraph.collect`
    admits the inputs and the blocked loop otherwise, in tiles of at most
    _BLOCKED_KEYS_MAX keys. `key_list` is the sorted keys when the caller
    knows them, else the Spark regime collects them. No personalization
    is the uniform one."""
    key_type = (personalization.schema["key"].dataType
                if personalization is not None else IntegerType())
    schema = StructType([StructField("key", key_type),
                         StructField("id", vertices.schema["id"].dataType),
                         StructField("rank", DoubleType())])
    local = _LocalGraph.collect(vertices, edges, schema, personalization,
                                init_ranks)
    if local is not None:
        n, key_list = local.n, local.keys
    else:
        verts = vertices.select("id").distinct()
        n = verts.count()
        if key_list is None:
            key_list = [r["key"] for r in
                        personalization.select("key").distinct()
                        .orderBy("key").collect()]
    if n == 0 or not len(key_list):
        return vertices.sparkSession.createDataFrame([], schema), 0
    if local is not None:
        return local.run(damping, tol, max_iter)
    if personalization is None:
        personalization = verts.select(
            F.lit(0).alias("key"), "id", F.lit(1.0).alias("p"))
    tiles = [
        _pagerank_batch_blocked(
            verts, n, edges, personalization,
            key_list[i:i + _BLOCKED_KEYS_MAX],
            damping, tol, max_iter, num_partitions, init_ranks)
        for i in range(0, len(key_list), _BLOCKED_KEYS_MAX)]
    # a key literal types itself by its value (a long key of 32-bit
    # values would come back int), so the answer takes the schema's types
    return (reduce(DataFrame.unionByName, [out for out, _ in tiles])
            .to(schema), max(iters for _, iters in tiles))


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
    mass is redistributed uniformly, and every _DELTA_EVERY(=3)-th
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
    # aggregate, so a no-probe iteration is ONE job (the checkpoint), and
    # a probe runs every _DELTA_EVERY-th iteration.
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
            if check_delta and it % _DELTA_EVERY == _DELTA_EVERY - 1:
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


@dataclass
class _LocalGraph:
    """PageRank's inputs on the driver, for the local regime
    (`superstep.local_regime`): the (key, id, rank) schema of the answer,
    the sorted vertex ids and keys, the edges that join two vertices as
    positions in the ids, the sinks, each key's normalized
    personalization as a dense row and the initial ranks. Without a
    vertex or a key only the first four are set."""

    spark: SparkSession
    schema: StructType
    ids: pa.Array
    keys: pa.Array
    src: np.ndarray | None = None
    dst: np.ndarray | None = None
    weight: np.ndarray | None = None
    sinks: np.ndarray | None = None
    p: np.ndarray | None = None
    init: np.ndarray | None = None

    @property
    def n(self) -> int:
        return len(self.ids)

    @classmethod
    def collect(cls, vertices: DataFrame, edges: DataFrame,
                schema: StructType,
                personalization: DataFrame | None = None,
                init_ranks: DataFrame | None = None) -> _LocalGraph | None:
        """Collect the inputs in the one bounded collect
        (`superstep.local_tables`) and encode them for an answer of
        `schema`, or None when the Spark loop must run instead: an id or
        key type whose equality Arrow need not share with Spark (floating
        point, or id types that differ between the frames), a decimal
        weight, p or rank, inputs of more than LOCAL_EDGE_ROWS rows
        together, a null, a vertex listed twice in init_ranks (the Spark
        join would repeat its row), or an answer of more than
        LOCAL_EDGE_ROWS rows."""
        # the frames share the edges' columns, so the one collect is no
        # wider than the edges (plus `key`): every id rides in `src`,
        # p and the initial ranks in `weight`
        frames = {"edges": edges.select("src", "dst", "weight"),
                  "vertices": vertices.select(F.col("id").alias("src"))}
        if personalization is not None:
            frames["pers"] = personalization.select(
                "key", F.col("id").alias("src"), F.col("p").alias("weight"))
        if init_ranks is not None:
            frames["init"] = init_ranks.select(
                F.col("id").alias("src"), F.col("rank").alias("weight"))
        types = [(f.name, f.dataType)
                 for df in frames.values() for f in df.schema]
        id_kinds = {_id_kind(t) for c, t in types if c in ("src", "dst")}
        if (len(id_kinds) != 1 or None in id_kinds
                or _id_kind(schema["key"].dataType) is None
                or not all(_is_real(t) for c, t in types
                           if c == "weight")):
            return None
        tables = local_tables(frames)
        if tables is None:
            return None
        return cls._encode(vertices.sparkSession, schema, tables,
                           id_kinds.pop() == "integral")

    @classmethod
    def _encode(cls, spark: SparkSession, schema: StructType,
                tables: dict[str, pa.Table],
                integral: bool) -> _LocalGraph | None:
        def id_codes(col: pa.ChunkedArray) -> np.ndarray:
            return codes(col.cast(pa.int64()) if integral else col,
                         id_values)

        ids = sorted_distinct(tables["vertices"].column("src"))
        id_values = ids.cast(pa.int64()) if integral else ids
        pers = tables.get("pers")
        keys = (sorted_distinct(pers.column("key")) if pers is not None
                else pa.array([0], pa.int32()))
        n, k = len(ids), len(keys)
        if n == 0 or k == 0:
            return cls(spark, schema, ids, keys)
        if not local_regime(k * n):
            return None
        # a vertex with any out-edge is no sink, even when the edge's dst
        # is not a vertex; an edge leaving or entering a non-vertex moves
        # no rank
        edges = tables["edges"]
        src, dst = id_codes(edges.column("src")), id_codes(edges.column("dst"))
        sinks = np.flatnonzero(np.bincount(src[src >= 0], minlength=n) == 0)
        on = (src >= 0) & (dst >= 0)
        # the blocked loop's pivot: max p per (key, vertex), 0 where a key
        # lists no p for a vertex; each key normalized to sum 1, uniform
        # 1/n when its p sums to 0
        p = np.ones((k, n))
        if pers is not None:
            key = codes(pers.column("key"), keys)
            vid = id_codes(pers.column("src"))
            listed = vid >= 0
            key, vid = key[listed], vid[listed]
            p = np.full((k, n), -np.inf)
            np.maximum.at(p, (key, vid),
                          _floats(pers.column("weight"))[listed])
            listed = np.zeros((k, n), dtype=bool)
            listed[key, vid] = True
            p[~listed] = 0.0
        totals = p.sum(axis=1, keepdims=True)
        with np.errstate(divide="ignore", invalid="ignore"):
            p = np.where(totals > 0, p / totals, 1.0 / n)
        init = np.full(n, 1.0 / n)
        if "init" in tables:
            vid = id_codes(tables["init"].column("src"))
            listed = vid >= 0
            if np.unique(vid[listed]).size < listed.sum():
                return None
            init[vid[listed]] = _floats(
                tables["init"].column("weight"))[listed]
        return cls(spark, schema, ids, keys, src[on], dst[on],
                   _floats(edges.column("weight"))[on], sinks, p, init)

    def run(self, damping: float, tol: float,
            max_iter: int) -> tuple[DataFrame, int]:
        """((key, id, rank), iterations_run): the blocked loop's answer,
        one key at a time. Each step is `_pagerank_batch_blocked`'s update
        in its order of operations; a key freezes at its own probe under
        tol, and the iteration count is the last key's."""
        n, k = self.n, len(self.keys)
        ranks = np.empty((k, n))
        iters = 0
        for j in range(k):
            r, it = self.init, -1
            for it in range(max_iter):
                new = ((1.0 - damping) * self.p[j]
                       + damping * np.bincount(
                           self.dst, weights=self.weight * r[self.src],
                           minlength=n))
                if self.sinks.size:
                    new = new + damping * r[self.sinks].sum() / n
                frozen = (tol >= 0 and it % _DELTA_EVERY == _DELTA_EVERY - 1
                          and np.abs(new - r).sum() < tol)
                r = new
                if frozen:
                    break
            ranks[j] = r
            iters = max(iters, it + 1)
        return self.spark.createDataFrame(pa.table({
            "key": self.keys.take(np.repeat(np.arange(k), n)),
            "id": self.ids.take(np.tile(np.arange(n), k)),
            "rank": ranks.ravel()}), self.schema), iters


def _id_kind(dtype: DataType) -> str | None:
    """The equality the local regime gives ids or keys of `dtype`: every
    integral type as int64, any other type as its own Arrow values, and
    none for floating point (Spark joins NaN to NaN and -0.0 to 0.0)."""
    if isinstance(dtype, IntegralType):
        return "integral"
    if isinstance(dtype, (FloatType, DoubleType)):
        return None
    return dtype.simpleString()


def _is_real(dtype: DataType) -> bool:
    """A numeric type the local regime reads as float64 with Spark's
    results (decimal arithmetic is not float64's)."""
    return (isinstance(dtype, NumericType)
            and not isinstance(dtype, DecimalType))


def _floats(col: pa.ChunkedArray) -> np.ndarray:
    return col.to_numpy().astype(np.float64)
