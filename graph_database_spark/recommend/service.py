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

import threading

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession, functions as F
from pyspark.sql.types import StringType

from ..graphs.pagerank import pagerank
from ..graphs.superstep import local_tables
from ..operators.cooccurrence import (
    cooccurrence_ordered, cooccurrence_top_partners, row_normalized_adjacency,
)
from ..operators.incidence import incidence_pairs, order_incidence
from ..operators.popularity import distinct_reach, order_frequency
from ..operators.similarity import user_cf_scores
from ..operators.util import codes, sorted_distinct
from .engine import SparkRecommendationEngine


class UnknownStrategyError(ValueError):
    """tp2 returns HTTP 400 (tp2/app/main.py:84-89)."""


class UnknownCustomerError(ValueError):
    """tp1 returns HTTP 404 (tp1/knoledge_graphs/api.py:69-72)."""


VALID_STRATEGIES = ("co_occurrence", "similarity", "pagerank", "pagerank_exact")


def clamp_top_n(top_n: int, lo: int = 1, hi: int = 10) -> int:
    """tp1's Query(3, ge=1, le=10) bound (api.py:66,82) as a hard clamp."""
    return max(lo, min(hi, top_n))


class IncidenceIndex:
    """The cached (customer_id, product_id) incidence as two int64 code
    arrays on the driver, one entry per incidence row, and the three
    limit-only answers counted once from it and from the (order_id,
    product_id) lines of order_items, each ranked by (count desc,
    product_id asc). Product codes cover both collects and follow the
    sorted product_id order, so ascending code order is the
    `product_id asc` tie-break of the Spark plans."""

    def __init__(self, incidence: pa.Table, lines: pa.Table):
        customers = sorted_distinct(incidence.column("customer_id"))
        self.customers = {c: i for i, c in enumerate(customers.to_pylist())}
        self.cust = codes(incidence.column("customer_id"), customers)
        products = sorted_distinct(incidence.column("product_id"),
                                   lines.column("product_id"))
        self.products = products.to_pylist()
        self.prod = codes(incidence.column("product_id"), products)
        n = len(self.products)
        orders = lines.column("order_id")
        # distinct lines, as _item_pairs and order_frequency count them
        order, prod = np.divmod(np.unique(
            codes(orders, sorted_distinct(orders)) * n
            + codes(lines.column("product_id"), products)), n)
        basket = np.bincount(order)
        counts = {
            # count(DISTINCT customer): the incidence is distinct
            "similarity": ("reach", np.bincount(self.prod, minlength=n)),
            "pagerank": ("order_count", np.bincount(prod, minlength=n)),
            # the ordered self-join pairs p with each other product of
            # each of its orders
            "co_occurrence": ("co_count", np.bincount(
                prod, weights=basket[order] - 1,
                minlength=n).astype(np.int64)),
        }
        self.ranked = {s: (column, c, _ranking(c))
                       for s, (column, c) in counts.items()}

    def top(self, strategy: str, limit: int) -> list[Row]:
        """The first `limit` rows of a limit-only answer."""
        column, counts, ranking = self.ranked[strategy]
        return self._rows(column, counts, ranking[:limit])

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
        return self._rows("cf_count", cf, _ranking(cf)[:limit])

    def _rows(self, column: str, counts: np.ndarray,
              codes: np.ndarray) -> list[Row]:
        row = Row("product_id", column)
        return [row(self.products[i], int(counts[i])) for i in codes]


def _ranking(counts: np.ndarray) -> np.ndarray:
    """Codes whose count is > 0, by (count desc, code asc)."""
    hit = np.flatnonzero(counts > 0)
    return hit[np.lexsort((hit, -counts[hit]))]


def incidence_index(incidence: DataFrame,
                    items: DataFrame) -> IncidenceIndex | None:
    """Collect the incidence and the order lines of `items` into an
    IncidenceIndex through the one bounded collect
    (`superstep.local_tables`), or None when the Spark plans must answer
    instead: both together over `LOCAL_EDGE_ROWS` rows, a null key, or a
    key that is not a string (whose equality and order the index would
    not share with Spark)."""
    frames = {"incidence": incidence.select("customer_id", "product_id"),
              "lines": items.select("order_id", "product_id")}
    if not all(isinstance(f.dataType, StringType)
               for df in frames.values() for f in df.schema):
        return None
    tables = local_tables(frames)
    return IncidenceIndex(**tables) if tables is not None else None


class RecommendationService:
    """tp2-shaped strategy dispatch over reference-schema tables
    (customers/products/orders/order_items/events).

    Requests are answered from one driver-side IncidenceIndex, built here
    from the cached incidence and the order lines in the program's one
    bounded Arrow collect (`superstep.local_tables`, `LOCAL_EDGE_ROWS`
    rows for both together). `co_occurrence`, `similarity` without
    a customer and the `pagerank` stub slice a ranking counted at build;
    per-customer `similarity` runs a numpy kernel, the 3-hop filter, over
    the incidence codes. None of these runs a Spark job. `pagerank_exact`
    runs its Spark plan once, on first use, keeps the whole ranking
    (|products| rows) and slices it, with or without an index.

    The one fallback is the per-request Spark plan (`_ranked`), which
    answers every other request when there is no index (a collect over
    the bound, a null key or a key that is not a string) and per-customer
    `similarity` for a customer_id that is not a string. Like the cached
    incidence, every answer reflects the tables as of service build.
    """

    def __init__(self, spark: SparkSession, tables: dict[str, DataFrame]):
        self.spark = spark
        self.tables = tables
        self.items = tables["order_items"]
        self.incidence = incidence_pairs(
            order_incidence(tables["orders"], self.items),
            tables["events"]).cache()
        self._index = incidence_index(self.incidence, self.items)
        self._pagerank_rows: list[Row] | None = None
        self._pagerank_lock = threading.Lock()

    def recs(self, strategy: str, customer_id: str | None = None,
             limit: int = 10) -> list[Row]:
        """GET /recs — dispatch (tp2/app/main.py:62-89)."""
        # tp2's `limit: int = 10` has NO upper bound (main.py:66) — the
        # [1,10] clamp belongs to tp1's top_n only (clamp_top_n); here we
        # just refuse negatives, as Cypher's LIMIT would
        limit = max(0, limit)
        if strategy == "pagerank_exact":
            return self._pagerank_exact()[:limit]
        index = self._index
        if index is not None:
            if strategy == "similarity" and customer_id is not None:
                if isinstance(customer_id, str):
                    return index.user_cf(customer_id, limit)
            elif strategy in index.ranked:
                return index.top(strategy, limit)
        return self._ranked(strategy, customer_id, limit).collect()

    def _pagerank_exact(self) -> list[Row]:
        """Every row of pagerank_exact's ranking, collected on first use
        and kept; the lock makes concurrent first requests run one
        PageRank."""
        with self._pagerank_lock:
            if self._pagerank_rows is None:
                self._pagerank_rows = self._pagerank_exact_plan().collect()
        return self._pagerank_rows

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
        raise UnknownStrategyError(
            f"Unknown strategy: {strategy!r}; expected one of {VALID_STRATEGIES}")

    def _pagerank_exact_plan(self) -> DataFrame:
        """Real PageRank over the ordered co-occurrence graph: every
        product's (product_id, rank) in (rank desc, product_id asc) order."""
        adj = row_normalized_adjacency(cooccurrence_ordered(self.items))
        vertices = self.tables["products"].select("id")
        ranks = pagerank(vertices, adj)
        return (ranks.select(F.col("id").alias("product_id"),
                             F.round("rank", 6).alias("rank"))
                .orderBy(F.desc("rank"), F.asc("product_id")))


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
