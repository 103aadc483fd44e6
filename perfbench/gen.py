"""Seeded input generators for the benchmark.

Two datasets, both written as parquet and both a pure function of
(shape, seed):

- `reference_tables`: the six reference e-commerce tables (customers,
  categories, products, orders, order_items, events) in the FIXTURES.md §1
  schema, for the serving workloads.
- `registry_tables`: the TPC-H-style `part` / `customer` / `orders` /
  `lineitem` columns the registry's batch jobs read, for the batch workload.

The traffic dimensions the system's cost depends on are fields of the
shape dataclasses (basket size, product-popularity skew, customer skew,
event mix, and the shares of event-only and no-history customers), so a
workload fixes them and the seed only draws the rows. Every generated
dataset carries a content hash over its rows, so two runs with one seed can
be shown to have served identical inputs.
"""

from __future__ import annotations

import dataclasses
import hashlib
import os

import numpy as np
import pandas as pd

EVENT_TYPES = ("view", "click", "add_to_cart")
_EPOCH = pd.Timestamp("2024-01-01", tz="UTC")


@dataclasses.dataclass(frozen=True)
class ReferenceShape:
    """Sizes and traffic dimensions of a reference-schema dataset. The
    defaults are assumptions, not measurements of real traffic; README.md
    lists each one."""

    n_customers: int = 1200
    n_products: int = 150
    n_categories: int = 8
    n_orders: int = 3000
    basket_mean: float = 3.0       # mean distinct products per order
    product_skew: float = 1.0      # Zipf exponent of product popularity
    customer_skew: float = 0.8     # Zipf exponent of orders per buyer
    n_events: int = 4000
    event_mix: tuple[float, float, float] = (0.6, 0.3, 0.1)  # EVENT_TYPES
    event_only_share: float = 0.10  # customers with events but no orders
    no_history_share: float = 0.05  # customers with neither (fallback)


@dataclasses.dataclass(frozen=True)
class RegistryShape:
    """Sizes of the TPC-H-style tables the batch registry jobs read
    (assumed values, listed in README.md)."""

    n_customers: int = 600
    n_parts: int = 400
    n_orders: int = 2400
    basket_mean: float = 4.0
    product_skew: float = 0.9


def zipf_weights(n: int, skew: float, rng: np.random.Generator) -> np.ndarray:
    """Probabilities ∝ 1/rank**skew over n items, ranks shuffled by rng."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** skew
    return rng.permutation(w / w.sum())


def _baskets(rng: np.random.Generator, n_orders: int, n_items: int,
             mean: float, weights: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(order index, item index) rows: 1 + Poisson(mean - 1) distinct items
    per order, drawn by popularity without replacement."""
    sizes = np.minimum(1 + rng.poisson(mean - 1.0, n_orders), n_items)
    orders, items = [], []
    for o, k in enumerate(sizes):
        orders.append(np.full(k, o))
        items.append(rng.choice(n_items, size=k, replace=False, p=weights))
    return np.concatenate(orders), np.concatenate(items)


def _timestamps(rng: np.random.Generator, n: int) -> pd.Series:
    secs = np.sort(rng.integers(0, 180 * 86400, n))
    return pd.Series(_EPOCH + pd.to_timedelta(secs, unit="s")).dt.as_unit("us")


def _ids(prefix: str, idx: np.ndarray, width: int) -> list[str]:
    return [f"{prefix}{i:0{width}d}" for i in idx]


def reference_tables(shape: ReferenceShape, seed: int) -> dict[str, pd.DataFrame]:
    """The six reference tables. Customers are laid out as buyers, then
    event-only customers, then no-history customers; the layout is recorded
    by `customer_roles`."""
    rng = np.random.default_rng([seed, 1])
    nc, npd = shape.n_customers, shape.n_products
    n_buy, n_evo, _ = customer_roles(shape)
    cust_idx = np.arange(nc)
    customers = pd.DataFrame({
        "id": _ids("C", cust_idx, 5),
        "name": _ids("customer-", cust_idx, 5),
        "join_date": (pd.Timestamp("2023-01-01")
                      + pd.to_timedelta(rng.integers(0, 365, nc), unit="D")).date,
    })
    categories = pd.DataFrame({
        "id": _ids("CAT", np.arange(shape.n_categories), 2),
        "name": _ids("category-", np.arange(shape.n_categories), 2),
    })
    prod_idx = np.arange(npd)
    products = pd.DataFrame({
        "id": _ids("P", prod_idx, 4),
        "name": _ids("product-", prod_idx, 4),
        "price": np.round(rng.uniform(1.0, 200.0, npd), 2),
        "category_id": _ids("CAT", rng.integers(0, shape.n_categories, npd), 2),
    })
    buyer_w = zipf_weights(n_buy, shape.customer_skew, rng)
    order_cust = rng.choice(n_buy, size=shape.n_orders, p=buyer_w)
    order_idx = np.arange(shape.n_orders)
    orders = pd.DataFrame({
        "id": _ids("O", order_idx, 6),
        "customer_id": _ids("C", order_cust, 5),
        "ts": _timestamps(rng, shape.n_orders),
    })
    prod_w = zipf_weights(npd, shape.product_skew, rng)
    o_rows, p_rows = _baskets(rng, shape.n_orders, npd, shape.basket_mean,
                              prod_w)
    order_items = pd.DataFrame({
        "order_id": _ids("O", o_rows, 6),
        "product_id": _ids("P", p_rows, 4),
        "quantity": rng.integers(1, 4, len(o_rows)).astype(np.int32),
    })
    # every event-only customer gets at least one event; the rest go to
    # buyers and event-only customers alike
    ev_cust = np.concatenate([
        np.arange(n_buy, n_buy + n_evo),
        rng.integers(0, n_buy + n_evo, max(0, shape.n_events - n_evo))])
    n_ev = len(ev_cust)
    events = pd.DataFrame({
        "id": _ids("E", np.arange(n_ev), 6),
        "customer_id": _ids("C", ev_cust, 5),
        "product_id": _ids("P", rng.choice(npd, size=n_ev, p=prod_w), 4),
        "event_type": rng.choice(EVENT_TYPES, size=n_ev,
                                 p=np.asarray(shape.event_mix)),
        "ts": _timestamps(rng, n_ev),
    })
    return {"customers": customers, "categories": categories,
            "products": products, "orders": orders,
            "order_items": order_items, "events": events}


def customer_roles(shape: ReferenceShape) -> tuple[int, int, int]:
    """(buyers, event-only, no-history) customer counts, in id order."""
    n_evo = int(round(shape.n_customers * shape.event_only_share))
    n_none = int(round(shape.n_customers * shape.no_history_share))
    return shape.n_customers - n_evo - n_none, n_evo, n_none


def registry_tables(shape: RegistryShape, seed: int) -> dict[str, pd.DataFrame]:
    """`part`, `customer`, `orders`, `lineitem` with the testdata column
    names and types the registry jobs and their DuckDB oracles read."""
    rng = np.random.default_rng([seed, 2])
    part = pd.DataFrame({
        "p_partkey": np.arange(1, shape.n_parts + 1, dtype=np.int64),
        "p_name": _ids("part-", np.arange(shape.n_parts), 5),
    })
    customer = pd.DataFrame({
        "c_custkey": np.arange(1, shape.n_customers + 1, dtype=np.int64),
        "c_name": _ids("customer-", np.arange(shape.n_customers), 5),
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(1, shape.n_orders + 1, dtype=np.int64),
        "o_custkey": rng.integers(1, shape.n_customers + 1, shape.n_orders,
                                  dtype=np.int64),
        "o_orderdate": _timestamps(rng, shape.n_orders),
    })
    o_rows, p_rows = _baskets(rng, shape.n_orders, shape.n_parts,
                              shape.basket_mean,
                              zipf_weights(shape.n_parts, shape.product_skew,
                                           rng))
    lineitem = pd.DataFrame({
        "l_orderkey": (o_rows + 1).astype(np.int64),
        "l_partkey": (p_rows + 1).astype(np.int64),
        "l_quantity": rng.integers(1, 51, len(o_rows)).astype(np.float64),
    })
    return {"part": part, "customer": customer, "orders": orders,
            "lineitem": lineitem}


def content_hash(tables: dict[str, pd.DataFrame]) -> str:
    """sha256 over every table's rows, in table-name order."""
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        h.update(tables[name].to_csv(index=False).encode())
    return h.hexdigest()


def write_parquet(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
