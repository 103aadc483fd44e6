"""Serving-surface parity (SURVEY §2.11 Q3/Q4/Q5/Q8, §7.1 step 7).

Thin functions mirroring the two FastAPI surfaces without HTTP:

- tp2 `/recs` (tp2/app/main.py:62-204): dispatch on strategy ∈
  {co_occurrence, similarity, pagerank}; unknown → UnknownStrategyError
  (the 400); `limit` bounds results. similarity falls back to
  distinct-reach popularity when no customer_id is given
  (main.py:126-172); pagerank is the order-frequency stub (main.py:175-204)
  with the REAL PageRank additionally exposed as strategy
  "pagerank_exact" (what main.py:177-179 wished it could do).
- tp1 `/customers/{id}/recommendations` (tp1/knoledge_graphs/api.py:54-96):
  top_n clamped to [1, 10] (Query(3, ge=1, le=10), api.py:66), unknown
  customer → UnknownCustomerError (the 404), scores rounded to 6 dp
  (api.py:41-51).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession, functions as F

from ..graphs.pagerank import pagerank
from ..operators.cooccurrence import (
    cooccurrence_ordered, cooccurrence_top_partners, row_normalized_adjacency,
)
from ..operators.incidence import incidence_pairs, order_incidence
from ..operators.popularity import distinct_reach, order_frequency
from ..operators.similarity import user_cf_scores
from .engine import SparkRecommendationEngine


class UnknownStrategyError(ValueError):
    """tp2 returns HTTP 400 (tp2/app/main.py:84-89)."""


class UnknownCustomerError(ValueError):
    """tp1 returns HTTP 404 (tp1/knoledge_graphs/api.py:69-72)."""


VALID_STRATEGIES = ("co_occurrence", "similarity", "pagerank", "pagerank_exact")


def clamp_top_n(top_n: int, lo: int = 1, hi: int = 10) -> int:
    """tp1's Query(3, ge=1, le=10) bound (api.py:66,82) as a hard clamp."""
    return max(lo, min(hi, top_n))


#: Rows of each limit-only /recs answer collected at service build. Each
#: answer has one row per product, so this caps the snapshot's driver
#: memory at 3·SNAPSHOT_ROWS small rows however large the catalog grows;
#: a `limit` past a full (exactly SNAPSHOT_ROWS-row) snapshot falls
#: through to the Spark path, since tp2's `limit` has no upper bound.
SNAPSHOT_ROWS = 1000

#: /recs kinds whose answer depends only on `limit` (similarity only when
#: no customer_id is given), served from the snapshot
SNAPSHOT_STRATEGIES = ("co_occurrence", "similarity", "pagerank")


class RecommendationService:
    """tp2-shaped strategy dispatch over reference-schema tables
    (customers/products/orders/order_items/events).

    `co_occurrence`, `similarity` without a customer and the `pagerank`
    stub depend only on `limit`: their first SNAPSHOT_ROWS rows are
    collected once, here, and a request slices that list without running
    a Spark job. A slice of a total order is `ORDER BY … LIMIT n`, so the
    answers are those of the Spark path. Per-customer `similarity`,
    `pagerank_exact` and a `limit` past a full snapshot run a Spark plan
    per request. Like the cached incidence, every answer reflects the
    tables as of service build.
    """

    def __init__(self, spark: SparkSession, tables: dict[str, DataFrame]):
        self.spark = spark
        self.tables = tables
        self.items = tables["order_items"]
        self.incidence = incidence_pairs(
            order_incidence(tables["orders"], self.items),
            tables["events"]).cache()
        self._snapshot_rows = SNAPSHOT_ROWS
        self._snapshot = {s: self._ranked(s, None, SNAPSHOT_ROWS).collect()
                          for s in SNAPSHOT_STRATEGIES}

    def recs(self, strategy: str, customer_id: str | None = None,
             limit: int = 10) -> list[Row]:
        """GET /recs — dispatch (tp2/app/main.py:62-89)."""
        # tp2's `limit: int = 10` has NO upper bound (main.py:66) — the
        # [1,10] clamp belongs to tp1's top_n only (clamp_top_n); here we
        # just refuse negatives, as Cypher's LIMIT would
        limit = max(0, limit)
        snap = None if strategy == "similarity" and customer_id is not None \
            else self._snapshot.get(strategy)
        if snap is not None and (limit <= len(snap)
                                 or len(snap) < self._snapshot_rows):
            return snap[:limit]
        return self._ranked(strategy, customer_id, limit).collect()

    def _ranked(self, strategy: str, customer_id: str | None,
                limit: int) -> DataFrame:
        """The Spark plan of one /recs request: the strategy's answer in
        its (score desc, product_id asc) total order, first `limit` rows."""
        if strategy == "co_occurrence":
            # ignores customer_id, as the reference does (main.py:92-99)
            return cooccurrence_top_partners(self.items, limit)
        if strategy == "similarity":
            if customer_id is None:
                return (distinct_reach(self.incidence)
                        .orderBy(F.desc("reach"), F.asc("product_id"))
                        .limit(limit))
            return (user_cf_scores(self.incidence, customer_id)
                    .orderBy(F.desc("cf_count"), F.asc("product_id"))
                    .limit(limit))
        if strategy == "pagerank":
            # the reference's stub: orders-per-product (main.py:181-187)
            return (order_frequency(self.items)
                    .orderBy(F.desc("order_count"), F.asc("product_id"))
                    .limit(limit))
        if strategy == "pagerank_exact":
            adj = row_normalized_adjacency(cooccurrence_ordered(self.items))
            vertices = self.tables["products"].select("id")
            ranks = pagerank(vertices, adj)
            return (ranks.select(F.col("id").alias("product_id"),
                                 F.round("rank", 6).alias("rank"))
                    .orderBy(F.desc("rank"), F.asc("product_id"))
                    .limit(limit))
        raise UnknownStrategyError(
            f"Unknown strategy: {strategy!r}; expected one of {VALID_STRATEGIES}")


def customer_recommendations(engine: SparkRecommendationEngine,
                             customer_id: str, top_n: int = 3) -> DataFrame:
    """tp1 GET /customers/{id}/recommendations: clamp, 404 mapping, 6-dp
    rounding (api.py:41-51,65-76)."""
    top_n = clamp_top_n(top_n)
    try:
        recs = engine.recommend_for_customer(customer_id, top_n)
    except ValueError as exc:
        raise UnknownCustomerError(str(exc)) from exc
    rounded = [F.round(c, 6).alias(c) if c != "product_id" else F.col(c)
               for c in recs.columns]
    return recs.select(*rounded)
