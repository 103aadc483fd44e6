"""Co-occurrence / similarity / recommendation queries (the reference's
core surface: tp1 recommendation.py, tp2 graph strategies)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from ..sources.testdata import load_table
from ..operators.cooccurrence import (
    cooccurrence_ordered,
    cooccurrence_top_partners,
    cooccurrence_unordered,
    row_normalized_adjacency,
)
from ..operators.incidence import incidence_pairs
from ..operators.popularity import distinct_reach, order_frequency
from ..operators.weights import EVENT_WEIGHTS_DRIVER, event_weights
from ..operators.similarity import (
    jaccard_pairs, seed_expansion_scores,
    seed_expansion_scores_from_items, user_cf_scores,
)
from ..operators.topk import top_k_per_group
from ..graphs.superstep import (
    _ROWS_PER_PARTITION as _REC_ROWS_PER_PARTITION, state_broadcasts,
)
from ._shared import register, _items, _order_customer_pairs, _SQL_ITEMS, _SQL_INC

# ---------------------------------------------------------------------------
# J2/W1: flagship — global co-occurrence top partners (tp2/app/main.py:92-123)
# ---------------------------------------------------------------------------

@register("cooccurrence_topn", f"""
WITH base AS ({_SQL_ITEMS})
SELECT b.product_id AS product_id, CAST(COUNT(*) AS BIGINT) AS co_count
FROM base a JOIN base b
  ON a.order_id = b.order_id AND a.product_id <> b.product_id
GROUP BY b.product_id
ORDER BY co_count DESC, product_id ASC
LIMIT 25
""")
def q_cooccurrence_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cooccurrence_top_partners(_items(spark, sf_dir), 25)


# ---------------------------------------------------------------------------
# J1/A1: unordered pair counts (tp1/knoledge_graphs/graph.py:55-62)
# ---------------------------------------------------------------------------

@register("cooccurrence_pairs", f"""
WITH base AS ({_SQL_ITEMS})
SELECT a.product_id AS src, b.product_id AS dst, CAST(COUNT(*) AS BIGINT) AS pair_count
FROM base a JOIN base b
  ON a.order_id = b.order_id AND a.product_id < b.product_id
GROUP BY a.product_id, b.product_id
""")
def q_cooccurrence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (cooccurrence_unordered(_items(spark, sf_dir))
            .withColumnRenamed("count", "pair_count"))


# ---------------------------------------------------------------------------
# A6: row-normalized adjacency (tp1/knoledge_graphs/graph.py:70-77)
# ---------------------------------------------------------------------------

@register("adjacency_row_norm", f"""
WITH base AS ({_SQL_ITEMS}),
pairs AS (
  SELECT a.product_id AS src, b.product_id AS dst, COUNT(*) AS cnt
  FROM base a JOIN base b
    ON a.order_id = b.order_id AND a.product_id <> b.product_id
  GROUP BY 1, 2
)
SELECT src, dst,
       CAST(ROUND(CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER (PARTITION BY src) AS DOUBLE), 6) AS DOUBLE) AS weight
FROM pairs
""")
def q_adjacency_row_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ordered pairs == the symmetric store of unordered pairs (graph.py:61-62)
    pairs = cooccurrence_ordered(_items(spark, sf_dir))
    adj = row_normalized_adjacency(pairs)
    return adj.select("src", "dst", F.round("weight", 6).alias("weight"))


# ---------------------------------------------------------------------------
# P6+A2: event weights (tp1/knoledge_graphs/graph.py:12-16,64-68)
# Driver events have no product_id; the group key is user_id (FIXTURES §4).
# ---------------------------------------------------------------------------

@register("event_weights_by_user", """
SELECT user_id,
       CAST(SUM(CASE event_type
                WHEN 'view' THEN 0.5 WHEN 'click' THEN 1.0
                WHEN 'purchase' THEN 2.0 ELSE 0.0 END) AS DOUBLE) AS weight
FROM events GROUP BY user_id
""")
def q_event_weights_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return event_weights(ev, group_cols=("user_id",),
                         weights=EVENT_WEIGHTS_DRIVER)


# ---------------------------------------------------------------------------
# SE1/A3: incidence pairs (tp1/knoledge_graphs/graph.py:55-66)
# ---------------------------------------------------------------------------

@register("incidence_pairs", """
SELECT DISTINCT o.o_custkey AS customer_id, l.l_partkey AS product_id
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
""")
def q_incidence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return incidence_pairs(_order_customer_pairs(spark, sf_dir))


# ---------------------------------------------------------------------------
# A4: distinct-customer reach (tp2/app/main.py:134-141)
# ---------------------------------------------------------------------------

@register("distinct_reach", """
SELECT l.l_partkey AS product_id,
       CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS reach
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY l.l_partkey
""")
def q_distinct_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    return distinct_reach(_order_customer_pairs(spark, sf_dir))


# ---------------------------------------------------------------------------
# A5: order-frequency popularity — tp2's pagerank stub (tp2/app/main.py:181-187)
# ---------------------------------------------------------------------------

@register("order_frequency", f"""
WITH base AS ({_SQL_ITEMS})
SELECT product_id, CAST(COUNT(*) AS BIGINT) AS order_count
FROM base GROUP BY product_id
""")
def q_order_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return order_frequency(_items(spark, sf_dir))


# A fixed "focal customer" for the single-customer reference queries
# (tp2 binds $customer_id at request time; batch form pins the smallest
# customer key so the oracle is a closed expression).
_SQL_FOCAL = "(SELECT MIN(o_custkey) FROM orders)"


def _focal_customer(spark: SparkSession, sf_dir: str) -> int:
    return (load_table(spark, sf_dir, "orders")
            .agg(F.min("o_custkey")).first()[0])


# ---------------------------------------------------------------------------
# J5: Jaccard product similarity (tp1 recommendation.py:114-133)
# ---------------------------------------------------------------------------

@register("similarity_jaccard_topk", f"""
WITH inc0 AS ({_SQL_INC}),
inc AS (
  SELECT customer_id, product_id FROM (
    SELECT customer_id, product_id,
           ROW_NUMBER() OVER (PARTITION BY customer_id
                              ORDER BY product_id) AS rn
    FROM inc0) t WHERE rn <= 128
),
sizes AS (SELECT product_id, COUNT(*) AS n FROM inc GROUP BY product_id),
inter AS (
  SELECT a.product_id AS src, b.product_id AS dst, COUNT(*) AS i
  FROM inc a JOIN inc b
    ON a.customer_id = b.customer_id AND a.product_id < b.product_id
  GROUP BY 1, 2
)
SELECT src, dst,
       CAST(ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON inter.src = sa.product_id
JOIN sizes sb ON inter.dst = sb.product_id
ORDER BY CAST(i AS DOUBLE) / (sa.n + sb.n - i) DESC, src ASC, dst ASC
LIMIT 500
""")
def q_similarity_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incidence feeds both self-join sides AND the denominator sizes —
    # checkpoint so the lineitem⨝orders+distinct subtree runs once, and
    # make the broadcast call Catalyst can't (post-checkpoint, no stats)
    # from the materialized count, as in recommend_batch.
    inc = incidence_pairs(_order_customer_pairs(spark, sf_dir)).localCheckpoint()
    # the 128-cap bounds the per-customer k² pair fan-out (p99 basket ≈ 77
    # at sf0.1, so it's exact locally; at 100 TB it's the skew guard) —
    # the oracle applies the identical ROW_NUMBER truncation
    jac = jaccard_pairs(inc, broadcast_sizes=state_broadcasts(inc.count()),
                        max_products_per_customer=128)
    return (
        jac.orderBy(F.desc("jaccard"), F.asc("src"), F.asc("dst")).limit(500)
        .select("src", "dst", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# J3: user-based CF for the focal customer (tp2/app/main.py:144-154)
# ---------------------------------------------------------------------------

@register("customer_cf", f"""
WITH inc AS ({_SQL_INC}),
seeds AS (SELECT product_id AS p1 FROM inc WHERE customer_id = {_SQL_FOCAL}),
shared AS (
  SELECT inc.customer_id AS c2, COUNT(*) AS n_shared
  FROM inc JOIN seeds ON inc.product_id = seeds.p1
  WHERE inc.customer_id <> {_SQL_FOCAL}
  GROUP BY inc.customer_id
)
SELECT inc.product_id AS product_id,
       CAST(COUNT(DISTINCT inc.customer_id) AS BIGINT) AS cf_count
FROM inc
JOIN shared ON inc.customer_id = shared.c2
WHERE shared.n_shared >
      CASE WHEN inc.product_id IN (SELECT p1 FROM seeds) THEN 1 ELSE 0 END
GROUP BY inc.product_id
""")
def q_customer_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    inc = incidence_pairs(_order_customer_pairs(spark, sf_dir))
    return user_cf_scores(inc, _focal_customer(spark, sf_dir))


# ---------------------------------------------------------------------------
# J4: seed-expansion co-occurrence scores (tp1 recommendation.py:105-112)
# ---------------------------------------------------------------------------

@register("seed_expansion", f"""
WITH base AS ({_SQL_ITEMS}),
pairs AS (
  SELECT a.product_id AS src, b.product_id AS dst, COUNT(*) AS cnt
  FROM base a JOIN base b
    ON a.order_id = b.order_id AND a.product_id <> b.product_id
  GROUP BY 1, 2
),
inc AS ({_SQL_INC}),
seeds AS (SELECT product_id FROM inc WHERE customer_id = {_SQL_FOCAL})
SELECT p.dst AS product_id, CAST(SUM(p.cnt) AS BIGINT) AS score
FROM pairs p JOIN seeds s ON p.src = s.product_id
WHERE p.dst NOT IN (SELECT product_id FROM seeds)
GROUP BY p.dst
""")
def q_seed_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # seed predicate pushed below the pair build: the full co-occurrence
    # table is never materialized (see seed_expansion_scores_from_items).
    inc = incidence_pairs(_order_customer_pairs(spark, sf_dir))
    seeds = (inc.filter(F.col("customer_id")
                        == F.lit(_focal_customer(spark, sf_dir)))
             .select("product_id"))
    return seed_expansion_scores_from_items(_items(spark, sf_dir), seeds)


# ---------------------------------------------------------------------------
# Batch recommendations: per-customer top-5 by seed-expansion score with
# exclusion of already-seen products (SE4 + W1, the batch-idiomatic form of
# tp1 recommend_for_customer — SURVEY §7.1 step 7).
# ---------------------------------------------------------------------------

@register("recommend_batch", f"""
WITH base AS ({_SQL_ITEMS}),
pairs AS (
  SELECT a.product_id AS src, b.product_id AS dst, COUNT(*) AS cnt
  FROM base a JOIN base b
    ON a.order_id = b.order_id AND a.product_id <> b.product_id
  GROUP BY 1, 2
),
top_pairs AS (
  SELECT src, dst, cnt FROM pairs
  QUALIFY ROW_NUMBER() OVER (PARTITION BY src
                             ORDER BY cnt DESC, dst ASC) <= 30
),
inc AS ({_SQL_INC}),
scored AS (
  SELECT inc.customer_id, p.dst AS product_id, SUM(p.cnt) AS score
  FROM inc JOIN top_pairs p ON inc.product_id = p.src
  WHERE NOT EXISTS (
    SELECT 1 FROM inc seen
    WHERE seen.customer_id = inc.customer_id AND seen.product_id = p.dst)
  GROUP BY inc.customer_id, p.dst
)
SELECT customer_id, product_id, CAST(score AS BIGINT) AS score
FROM scored
QUALIFY ROW_NUMBER() OVER (PARTITION BY customer_id
                           ORDER BY score DESC, product_id ASC) <= 5
""")
def q_recommend_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Candidate generation truncates each seed's co-occurrence list to its
    # top-30 neighbors (deterministic tie-break) — the standard bounded
    # fan-out of production item-to-item recommenders: it caps the
    # (incidence × neighbors) expansion at 30·|incidence| rows no matter
    # how hot a product is, which is what keeps this plan viable at 100 TB.
    # The oracle SQL applies the identical truncation.
    cooc = cooccurrence_ordered(_items(spark, sf_dir))
    # the truncated neighbor lists are ≤30·|products| rows — broadcast them
    # so the incidence side never shuffles for the expansion join.
    cooc_top = F.broadcast(top_k_per_group(cooc, 30, "src", "count", "dst"))
    # incidence feeds both the expansion and the exclusion anti-join;
    # localCheckpoint (not persist/cache — that would register the fragment
    # with the global cache manager and rewrite OTHER queries' plans) so the
    # lineitem⨝orders+distinct subtree runs once, not twice.
    inc = incidence_pairs(_order_customer_pairs(spark, sf_dir)).localCheckpoint()
    # the checkpointed frame has no Catalyst stats, so AQE can never pick a
    # broadcast anti-join here on its own; make the call from the measured
    # count (materialized by the checkpoint, so this is cheap) with the same
    # threshold the Pregel loop uses for its state frames. Above it — when
    # |customers|×|catalog| incidence is genuinely fact-sized — fall back to
    # the shuffle anti-join.
    n_inc = inc.count()
    inc_small = state_broadcasts(n_inc)
    excl = F.broadcast(inc) if inc_small else inc
    # ONE exchange keyed customer_id on the narrow incidence frame,
    # BEFORE the ×30 expansion (guide §2.1/§2.4 — establish the
    # partitioning once, reuse it twice): HashPartitioning(customer_id)
    # is a subset-key partitioning that satisfies BOTH the
    # (customer_id, product_id) aggregate's clustering and the
    # per-customer rank window's, so the expansion, the score aggregate
    # and the window all run with zero further exchanges — the r12 shape
    # exchanged the (wider, partially-aggregated) expansion twice.
    # Explicit N, derived from the measured ×30 expansion work product
    # and capped at the cluster parallelism: AQE must not coalesce the
    # ~1.2M-row exchange to 1-2 partitions and serialize everything
    # downstream of it (the _repartition_checkpoint lesson).
    sc = spark.sparkContext
    n_parts = min(sc.defaultParallelism,
                  max(2, -(-30 * n_inc // _REC_ROWS_PER_PARTITION)))
    # aggregate BEFORE the exclusion anti-join: the groupBy collapses the
    # expansion to distinct (customer, candidate) rows first.
    scored = (
        inc.repartition(n_parts, "customer_id")
        .join(cooc_top, inc["product_id"] == cooc_top["src"])
        .groupBy("customer_id", F.col("dst").alias("product_id"))
        .agg(F.sum("count").alias("score"))
        .join(excl, ["customer_id", "product_id"], "left_anti")
    )
    return top_k_per_group(scored, 5, "customer_id", "score", "product_id")


@register("cooccurrence_weighted", f"""
WITH base AS (
  SELECT l_orderkey AS order_id, l_partkey AS product_id,
         CAST(SUM(CAST(l_quantity AS INT)) AS BIGINT) AS qty
  FROM lineitem GROUP BY 1, 2
)
SELECT a.product_id AS src, b.product_id AS dst,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(a.qty * b.qty) AS BIGINT) AS qty_weight
FROM base a JOIN base b
  ON a.order_id = b.order_id AND a.product_id < b.product_id
GROUP BY 1, 2
""")
def q_cooccurrence_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted co-occurrence: pair affinity = Σ qty_a·qty_b
    over shared orders (basket-strength, not just basket-presence —
    the input the weighted-graph operators would consume). Same
    self-join shape as the count form with a per-(order, product)
    quantity pre-aggregate enforcing the PK invariant."""
    li = load_table(spark, sf_dir, "lineitem")
    base = (li.groupBy(F.col("l_orderkey").alias("order_id"),
                       F.col("l_partkey").alias("product_id"))
            .agg(F.sum(F.col("l_quantity").cast("int")).alias("qty")))
    a, b = base.alias("a"), base.alias("b")
    return (a.join(b, (F.col("a.order_id") == F.col("b.order_id"))
                   & (F.col("a.product_id") < F.col("b.product_id")))
            .groupBy(F.col("a.product_id").alias("src"),
                     F.col("b.product_id").alias("dst"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.col("a.qty") * F.col("b.qty")).alias("qty_weight")))


def _focal_strategy_scores(spark: SparkSession, sf_dir: str
                           ) -> tuple[DataFrame, DataFrame]:
    """The focal customer's two closed-form strategy score maps, each
    (product_id, sc) over the products outside its seeds: seed-expansion
    co-occurrence (J4) and summed Jaccard (J5), the `cooc` and `sim`
    CTEs of both queries' oracles. Seeds are broadcast into both
    branches, and each ends in a product-sized aggregate."""
    inc = incidence_pairs(_order_customer_pairs(spark, sf_dir)) \
        .localCheckpoint()
    focal = _focal_customer(spark, sf_dir)
    seeds = (inc.filter(F.col("customer_id") == F.lit(focal))
             .select("product_id"))
    cooc = seed_expansion_scores_from_items(_items(spark, sf_dir), seeds) \
        .select("product_id", F.col("score").cast("double").alias("sc"))
    sizes = inc.groupBy("product_id").agg(F.count(F.lit(1)).alias("n"))
    s_inc = (inc.join(F.broadcast(seeds.withColumnRenamed(
                 "product_id", "sp")), inc["product_id"] == F.col("sp"))
             .select("customer_id", "sp"))
    c_inc = (inc.join(F.broadcast(seeds), "product_id", "left_anti")
             .select("customer_id", F.col("product_id").alias("cp")))
    sim = (s_inc.join(c_inc, "customer_id")
           .groupBy("sp", "cp").agg(F.count(F.lit(1)).alias("i"))
           .join(F.broadcast(sizes.withColumnRenamed("product_id", "sp")
                             .withColumnRenamed("n", "ns")), "sp")
           .join(F.broadcast(sizes.withColumnRenamed("product_id", "cp")
                             .withColumnRenamed("n", "nc")), "cp")
           .groupBy(F.col("cp").alias("product_id"))
           .agg(F.sum(F.col("i").cast("double")
                      / (F.col("ns") + F.col("nc") - F.col("i"))).alias("sc")))
    return cooc, sim


@register("recommend_focal_blend", f"""
WITH base AS ({_SQL_ITEMS}),
inc AS ({_SQL_INC}),
seeds AS (SELECT product_id FROM inc WHERE customer_id = {_SQL_FOCAL}),
cooc AS (
  SELECT b.product_id AS pid, CAST(COUNT(*) AS DOUBLE) AS sc
  FROM base a JOIN base b
    ON a.order_id = b.order_id AND a.product_id <> b.product_id
  WHERE a.product_id IN (SELECT product_id FROM seeds)
    AND b.product_id NOT IN (SELECT product_id FROM seeds)
  GROUP BY 1
),
sizes AS (SELECT product_id, COUNT(*) AS n FROM inc GROUP BY 1),
inter AS (
  SELECT s.product_id AS sp, c.product_id AS cp, COUNT(*) AS i
  FROM inc s JOIN inc c
    ON s.customer_id = c.customer_id AND s.product_id <> c.product_id
  WHERE s.product_id IN (SELECT product_id FROM seeds)
    AND c.product_id NOT IN (SELECT product_id FROM seeds)
  GROUP BY 1, 2
),
sim AS (
  SELECT inter.cp AS pid,
         SUM(CAST(i AS DOUBLE) / (ss.n + cs.n - i)) AS sc
  FROM inter
  JOIN sizes ss ON inter.sp = ss.product_id
  JOIN sizes cs ON inter.cp = cs.product_id
  GROUP BY 1
),
mx AS (SELECT (SELECT MAX(sc) FROM cooc) AS mc, (SELECT MAX(sc) FROM sim) AS ms),
blended AS (
  SELECT COALESCE(cooc.pid, sim.pid) AS product_id,
         0.4 * COALESCE(cooc.sc, 0.0) / mx.mc
         + 0.3 * COALESCE(sim.sc, 0.0) / mx.ms AS score
  FROM cooc FULL OUTER JOIN sim ON cooc.pid = sim.pid
  CROSS JOIN mx
)
SELECT product_id, CAST(ROUND(score, 6) AS DOUBLE) AS score
FROM blended WHERE score > 0
ORDER BY score DESC, product_id ASC LIMIT 10
""")
def q_recommend_focal_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tp1's Q1 composite (recommend_for_customer, recommendation.py:
    44-68,198-222) under the value-level gate: seeds → two strategy
    score maps (seed-expansion co-occurrence J4 + summed Jaccard J5) →
    per-strategy max-normalization (A8) → STRATEGY_WEIGHTS blend
    (0.4 co-occurrence / 0.3 similarity, recommendation.py:10-14) →
    value<=0 drop → deterministic top-10 (W1). The PPR strategy is
    covered separately (pagerank_fixed20 / goldens) — iterative terms
    don't belong in a closed-form oracle.

    Plan: seeds broadcast into both strategy branches; each branch ends
    in a product-sized aggregate; normalization is a broadcast 1-row max
    crossJoin; blend is a full outer join of two product-sized frames —
    nothing fact-sized crosses a shuffle after the strategy aggregates."""
    cooc, sim = _focal_strategy_scores(spark, sf_dir)
    mx = (cooc.agg(F.max("sc").alias("mc"))
          .crossJoin(sim.agg(F.max("sc").alias("ms"))))
    blended = (
        cooc.withColumnRenamed("sc", "sc_c")
        .join(sim.withColumnRenamed("sc", "sc_s"), "product_id", "full_outer")
        .crossJoin(F.broadcast(mx))
        .select(
            "product_id",
            (0.4 * F.coalesce(F.col("sc_c"), F.lit(0.0)) / F.col("mc")
             + 0.3 * F.coalesce(F.col("sc_s"), F.lit(0.0)) / F.col("ms")
             ).alias("score"))
        .filter(F.col("score") > 0)
    )
    return (blended.orderBy(F.desc("score"), F.asc("product_id")).limit(10)
            .select("product_id", F.round("score", 6).alias("score")))


@register("strategy_breakdown_focal", f"""
WITH base AS ({_SQL_ITEMS}),
inc AS ({_SQL_INC}),
seeds AS (SELECT product_id FROM inc WHERE customer_id = {_SQL_FOCAL}),
cooc AS (
  SELECT b.product_id AS pid, CAST(COUNT(*) AS DOUBLE) AS sc
  FROM base a JOIN base b
    ON a.order_id = b.order_id AND a.product_id <> b.product_id
  WHERE a.product_id IN (SELECT product_id FROM seeds)
    AND b.product_id NOT IN (SELECT product_id FROM seeds)
  GROUP BY 1
),
sizes AS (SELECT product_id, COUNT(*) AS n FROM inc GROUP BY 1),
inter AS (
  SELECT s.product_id AS sp, c.product_id AS cp, COUNT(*) AS i
  FROM inc s JOIN inc c
    ON s.customer_id = c.customer_id AND s.product_id <> c.product_id
  WHERE s.product_id IN (SELECT product_id FROM seeds)
    AND c.product_id NOT IN (SELECT product_id FROM seeds)
  GROUP BY 1, 2
),
sim AS (
  SELECT inter.cp AS pid,
         SUM(CAST(i AS DOUBLE) / (ss.n + cs.n - i)) AS sc
  FROM inter
  JOIN sizes ss ON inter.sp = ss.product_id
  JOIN sizes cs ON inter.cp = cs.product_id
  GROUP BY 1
),
ranked AS (
  SELECT 'co_occurrence' AS strategy, pid AS product_id,
         CAST(ROUND(sc, 6) AS DOUBLE) AS score,
         ROW_NUMBER() OVER (ORDER BY sc DESC, pid ASC) AS rn
  FROM cooc
  UNION ALL
  SELECT 'similarity', pid, CAST(ROUND(sc, 6) AS DOUBLE),
         ROW_NUMBER() OVER (ORDER BY sc DESC, pid ASC)
  FROM sim
)
SELECT strategy, product_id, score FROM ranked WHERE rn <= 10
""")
def q_strategy_breakdown_focal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tp1's Q2 strategy_breakdown (recommendation.py:70-89) at driver
    scale: RAW un-normalized per-strategy scores, top-10 each with the
    deterministic tie-break, for the two closed-form strategies (the PPR
    strategy has its fixed-iteration oracle twin). Same branch plans as
    recommend_focal_blend minus normalization/blending; per-strategy
    top-10 is one WindowGroupLimit pass over the union."""
    cooc, sim = _focal_strategy_scores(spark, sf_dir)
    both = (cooc.select(F.lit("co_occurrence").alias("strategy"),
                        "product_id", "sc")
            .unionByName(sim.select(F.lit("similarity").alias("strategy"),
                                    "product_id", "sc")))
    top = top_k_per_group(both, 10, "strategy", "sc", "product_id")
    return top.select("strategy", "product_id",
                      F.round("sc", 6).alias("score"))
