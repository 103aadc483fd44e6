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

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Row, SparkSession, functions as F
from pyspark.sql.types import StringType

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

#: Incidence rows up to which the service keeps the driver-side index that
#: answers per-customer `similarity`. A request costs the kernel
#: O(|incidence|), so the bound is the largest size measured by
#: scripts/ab_cf_index.py at which the kernel stays at least 10× faster
#: than the Spark plan. On a 4-vCPU host (bench_results/ab/ab_cf_index.json)
#: the kernel took 0.32 / 2.6 / 26.7 ms against the Spark plan's
#: 866 / 791 / 3911 ms at 10k / 200k / 2M rows, 147× faster at the
#: largest size measured. At this bound the two code arrays take 32 MB of
#: driver memory and the build's Arrow collect took 1.9 s.
INCIDENCE_ROWS = 2_000_000


class IncidenceIndex:
    """The cached (customer_id, product_id) incidence as two int64 code
    arrays on the driver, one entry per incidence row. Product codes
    follow the sorted product_id order, so ascending code order is the
    `product_id asc` tie-break of the Spark plan."""

    def __init__(self, table: pa.Table):
        customers, self.cust = _codes(table.column("customer_id"))
        self.customers = {c: i for i, c in enumerate(customers)}
        self.products, self.prod = _codes(table.column("product_id"))

    def user_cf(self, customer_id, limit: int) -> list[Row]:
        """`user_cf_scores(incidence, customer_id)` in its (cf_count desc,
        product_id asc) order, first `limit` rows, with the same per-path
        `p1 <> p2` semantics: co-customer c2 supports p2 iff it shares a
        seed with c1 other than p2 itself."""
        c1 = self.customers.get(customer_id)
        if c1 is None or limit == 0:
            return []
        seed = np.zeros(len(self.products), dtype=np.int8)
        seed[self.prod[self.cust == c1]] = 1
        row_seed = seed[self.prod]
        shared = np.bincount(self.cust[row_seed == 1],
                             minlength=len(self.customers))
        shared[c1] = 0
        # the incidence is distinct, so a row count is count(DISTINCT c2)
        cf = np.bincount(self.prod[shared[self.cust] > row_seed],
                         minlength=len(self.products))
        hit = np.flatnonzero(cf)
        top = hit[np.lexsort((hit, -cf[hit]))][:limit]
        return [Row(product_id=self.products[i], cf_count=int(cf[i]))
                for i in top]


def _codes(col: pa.ChunkedArray) -> tuple[list, np.ndarray]:
    """(sorted distinct values, int64 code of each entry)."""
    values = pc.unique(col)
    values = values.take(pc.sort_indices(values))
    codes = pc.index_in(col, value_set=values).to_numpy()
    return values.to_pylist(), codes.astype(np.int64)


def incidence_index(incidence: DataFrame) -> IncidenceIndex | None:
    """Collect the incidence through Arrow into an IncidenceIndex, or None
    when the Spark plan must answer instead: more than INCIDENCE_ROWS
    rows, a null key, or a key that is not a string (whose equality and
    order the kernel would not share with Spark)."""
    keys = ("customer_id", "product_id")
    if not all(isinstance(incidence.schema[k].dataType, StringType)
               for k in keys):
        return None
    table = incidence.select(*keys).limit(INCIDENCE_ROWS + 1).toArrow()
    if table.num_rows > INCIDENCE_ROWS or any(
            table.column(k).null_count for k in keys):
        return None
    return IncidenceIndex(table)


class RecommendationService:
    """tp2-shaped strategy dispatch over reference-schema tables
    (customers/products/orders/order_items/events).

    `co_occurrence`, `similarity` without a customer and the `pagerank`
    stub depend only on `limit`: their first SNAPSHOT_ROWS rows are
    collected once, here, and a request slices that list without running
    a Spark job. A slice of a total order is `ORDER BY … LIMIT n`, so the
    answers are those of the Spark path.

    Per-customer `similarity` is answered from an IncidenceIndex: the
    cached incidence, collected once here as two integer code arrays,
    over which a numpy kernel runs the 3-hop filter with no Spark job.
    The Spark plan (`user_cf_scores`) answers instead when the incidence
    has more than INCIDENCE_ROWS rows, a null key or a key that is not a
    string, and for a customer_id that is not a string. `pagerank_exact`
    and a `limit` past a full snapshot run a Spark plan per request. Like
    the cached incidence, every answer reflects the tables as of service
    build.
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
        self._index = incidence_index(self.incidence)

    def recs(self, strategy: str, customer_id: str | None = None,
             limit: int = 10) -> list[Row]:
        """GET /recs — dispatch (tp2/app/main.py:62-89)."""
        # tp2's `limit: int = 10` has NO upper bound (main.py:66) — the
        # [1,10] clamp belongs to tp1's top_n only (clamp_top_n); here we
        # just refuse negatives, as Cypher's LIMIT would
        limit = max(0, limit)
        if strategy == "similarity" and customer_id is not None:
            if self._index is not None and isinstance(customer_id, str):
                return self._index.user_cf(customer_id, limit)
        else:
            snap = self._snapshot.get(strategy)
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
