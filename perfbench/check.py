"""Output checks, run after the timed phase.

- `/recs` responses against DuckDB SQL twins over the generated parquet.
- `/customers/{id}/recommendations` responses against `Q1Reference`, a
  numpy re-statement of the engine's semantics (co-occurrence expansion,
  summed Jaccard, power-iteration personalized PageRank, max-normalization,
  exclusion, 0.4/0.3/0.3 blend, global-PageRank fallback), plus the
  top_n clamp, 6-dp rounding and 404 invariants.
- Registry batch jobs against their DuckDB `ORACLES`.

Every check returns a list of human-readable mismatches; empty means pass.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd

TOL = 1e-5
DAMPING, PR_TOL, PR_MAX_ITER, PR_DELTA_EVERY = 0.85, 1e-6, 50, 3
STRATEGY_WEIGHTS = {"co_occurrence": 0.4, "similarity": 0.3,
                    "personalized_pagerank": 0.3}
EVENT_WEIGHTS = {"view": 0.5, "click": 1.0, "add_to_cart": 2.0}


def clamp_top_n(top_n: int) -> int:
    return max(1, min(10, top_n))


def duckdb_views(parquet_dir: str, names) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(parquet_dir, '.tmp')}'")
    for name in names:
        path = os.path.join(parquet_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


# --- registry jobs against their DuckDB oracles ----------------------------

def normalize_rows(rows: list[dict], cols) -> list[tuple]:
    """Order-insensitive row normal form: floats rounded to 6 dp, -0.0 and
    NaN canonicalized (the comparator tests/test_oracle_parity.py uses)."""
    out = []
    for row in rows:
        vals = []
        for c in sorted(cols):
            v = row[c]
            if isinstance(v, float):
                v = round(v, 6)
                if v == -0.0:
                    v = 0.0
                if math.isnan(v):
                    v = "NaN"
            vals.append((c, str(v)))
        out.append(tuple(vals))
    return sorted(out)


def check_oracle(name: str, cols: list[str], rows: list[dict],
                 con: duckdb.DuckDBPyConnection, sql: str) -> list[str]:
    cur = con.execute(sql)
    ocols = [d[0] for d in cur.description]
    orows = [dict(zip(ocols, r)) for r in cur.fetchall()]
    if sorted(cols) != sorted(ocols):
        return [f"{name}: columns {sorted(cols)} != oracle {sorted(ocols)}"]
    if len(rows) != len(orows):
        return [f"{name}: {len(rows)} rows != oracle {len(orows)}"]
    bad = [(a, b) for a, b in zip(normalize_rows(rows, cols),
                                  normalize_rows(orows, ocols)) if a != b]
    return [f"{name}: {len(bad)} rows differ, first {bad[0]}"] if bad else []


# --- /recs against DuckDB twins ---------------------------------------------

_ITEMS = "SELECT DISTINCT order_id, product_id FROM order_items"
_INC = """
SELECT o.customer_id, i.product_id
FROM order_items i JOIN orders o ON i.order_id = o.id
UNION
SELECT customer_id, product_id FROM events
"""


def recs_twin_sql(strategy: str, customer_id: str | None, limit: int) -> str:
    """DuckDB statement of GET /recs for one request (tp2 strategies with
    the ascending product-id tie-break)."""
    limit = max(0, limit)
    if strategy == "co_occurrence":
        return f"""
WITH base AS ({_ITEMS})
SELECT b.product_id, COUNT(*) AS co_count
FROM base a JOIN base b ON a.order_id = b.order_id
                       AND a.product_id <> b.product_id
GROUP BY b.product_id ORDER BY 2 DESC, 1 LIMIT {limit}"""
    if strategy == "similarity" and customer_id is None:
        return f"""
WITH inc AS ({_INC})
SELECT product_id, COUNT(DISTINCT customer_id) AS reach
FROM inc GROUP BY product_id ORDER BY 2 DESC, 1 LIMIT {limit}"""
    if strategy == "similarity":
        cid = customer_id.replace("'", "''")
        return f"""
WITH inc AS ({_INC}),
seeds AS (SELECT product_id AS p1 FROM inc WHERE customer_id = '{cid}'),
shared AS (
  SELECT inc.customer_id AS c2, COUNT(*) AS n_shared
  FROM inc JOIN seeds ON inc.product_id = seeds.p1
  WHERE inc.customer_id <> '{cid}' GROUP BY inc.customer_id)
SELECT inc.product_id, COUNT(DISTINCT inc.customer_id) AS cf_count
FROM inc JOIN shared ON inc.customer_id = shared.c2
WHERE shared.n_shared >
      CASE WHEN inc.product_id IN (SELECT p1 FROM seeds) THEN 1 ELSE 0 END
GROUP BY inc.product_id ORDER BY 2 DESC, 1 LIMIT {limit}"""
    if strategy == "pagerank":
        return f"""
SELECT product_id, COUNT(*) AS order_count FROM ({_ITEMS})
GROUP BY product_id ORDER BY 2 DESC, 1 LIMIT {limit}"""
    raise ValueError(f"no twin for strategy {strategy!r}")


def check_recs(con: duckdb.DuckDBPyConnection, strategy: str,
               customer_id: str | None, limit: int, body: dict) -> list[str]:
    cur = con.execute(recs_twin_sql(strategy, customer_id, limit))
    cols = [d[0] for d in cur.description]
    want = [dict(zip(cols, r)) for r in cur.fetchall()]
    got = body.get("recommendations")
    if got != want:
        return [f"/recs {strategy} customer={customer_id} limit={limit}: "
                f"got {got[:3] if got else got} want {want[:3]}"]
    return []


# --- /customers/{id}/recommendations against numpy -------------------------

class Q1Reference:
    """numpy twin of the engine's recommend_for_customer over pandas
    copies of the generated reference tables."""

    def __init__(self, tables: dict[str, pd.DataFrame]):
        self.products = sorted(tables["products"]["id"])
        self.index = {p: i for i, p in enumerate(self.products)}
        self.customers = set(tables["customers"]["id"])
        n = len(self.products)
        items = tables["order_items"][["order_id", "product_id"]]\
            .drop_duplicates()
        cooc = np.zeros((n, n))
        for _, prods in items.groupby("order_id")["product_id"]:
            ix = [self.index[p] for p in prods]
            cooc[np.ix_(ix, ix)] += 1.0
        np.fill_diagonal(cooc, 0.0)
        self.cooc = cooc
        row = cooc.sum(axis=1)
        self.sinks = row == 0
        self.adj = np.divide(cooc, row[:, None], out=np.zeros_like(cooc),
                             where=row[:, None] > 0)
        orders = tables["orders"].rename(columns={"id": "order_id"})
        inc = pd.concat([
            items.merge(orders, on="order_id")[["customer_id", "product_id"]],
            tables["events"][["customer_id", "product_id"]],
        ]).drop_duplicates()
        self.touched: dict[str, set[int]] = {}
        for cid, prods in inc.groupby("customer_id")["product_id"]:
            self.touched[cid] = {self.index[p] for p in prods}
        cust_ix = {c: i for i, c in enumerate(sorted(self.customers))}
        self.incidence = np.zeros((len(cust_ix), n))
        self.incidence[[cust_ix[c] for c in inc["customer_id"]],
                       [self.index[p] for p in inc["product_id"]]] = 1.0
        ev = tables["events"].assign(
            w=tables["events"]["event_type"].map(EVENT_WEIGHTS).fillna(0.0))
        w = ev.groupby(["customer_id", "product_id"])["w"].sum()
        self.interacted: dict[str, set[int]] = {}
        for (cid, pid), val in w.items():
            if val > 0:
                self.interacted.setdefault(cid, set()).add(self.index[pid])
        self.global_rank = self.pagerank(None)

    def pagerank(self, seeds: list[int] | None) -> np.ndarray:
        """The engine's loop: uniform sink redistribution, L1 delta probed
        every PR_DELTA_EVERY-th iteration."""
        n = len(self.products)
        p = np.full(n, 1.0 / n)
        if seeds:
            p = np.zeros(n)
            p[seeds] = 1.0 / len(seeds)
        r = np.full(n, 1.0 / n)
        for it in range(PR_MAX_ITER):
            new = ((1.0 - DAMPING) * p + DAMPING * (self.adj.T @ r)
                   + DAMPING * r[self.sinks].sum() / n)
            done = (it % PR_DELTA_EVERY == PR_DELTA_EVERY - 1
                    and np.abs(new - r).sum() < PR_TOL)
            r = new
            if done:
                break
        return r

    def expected(self, customer_id: str, top_n: int) -> list[dict] | None:
        """Rows the route should return; None means 404."""
        rows = self.ranked(customer_id)
        return None if rows is None else rows[:clamp_top_n(top_n)]

    def ranked(self, customer_id: str) -> list[dict] | None:
        """Every candidate row in route order; None means 404."""
        if customer_id not in self.customers:
            return None
        purchased = self.touched.get(customer_id, set())
        interacted = self.interacted.get(customer_id, set())
        seeds = sorted(purchased or interacted)
        if not seeds:
            order = sorted(range(len(self.products)),
                           key=lambda i: (-self.global_rank[i],
                                          self.products[i]))
            return [{"product_id": self.products[i],
                     "score": self.global_rank[i], "co_occurrence": None,
                     "similarity": None, "personalized_pagerank": None,
                     "global_pagerank": self.global_rank[i]} for i in order]
        exclude = purchased | interacted
        is_seed = np.zeros(len(self.products), dtype=bool)
        is_seed[seeds] = True
        co = self.cooc[seeds].sum(axis=0)
        co_cand = (co > 0) & ~is_seed
        inc = self.incidence
        sizes = inc.sum(axis=0)
        inter = inc[:, seeds].T @ inc
        denom = sizes[seeds][:, None] + sizes[None, :] - inter
        jac = np.divide(inter, denom, out=np.zeros_like(inter),
                        where=inter > 0).sum(axis=0)
        sim_cand = (jac > 0) & ~is_seed & (sizes > 0)
        ppr = self.pagerank(seeds)
        raw = {"co_occurrence": (co, co_cand),
               "similarity": (jac, sim_cand),
               "personalized_pagerank": (ppr, np.ones_like(is_seed))}
        comps: dict[int, dict[str, float]] = {}
        for name, (vals, cand) in raw.items():
            top = vals[cand].max() if cand.any() else 0.0
            for i in np.flatnonzero(cand):
                v = vals[i] / top if top > 0 else 0.0
                if v > 0 and i not in exclude:
                    comps.setdefault(i, {})[name] = v * STRATEGY_WEIGHTS[name]
        rows = [{"product_id": self.products[i],
                 "score": sum(c.values()),
                 **{k: c.get(k) for k in STRATEGY_WEIGHTS},
                 "global_pagerank": None} for i, c in comps.items()]
        rows.sort(key=lambda r: (-r["score"], r["product_id"]))
        return rows


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= TOL


def _six_dp(v) -> bool:
    return v is None or abs(v * 1e6 - round(v * 1e6)) < 1e-3


def check_customer(ref: Q1Reference, customer_id: str, top_n: int,
                   status: int, body: dict) -> list[str]:
    want = ref.expected(customer_id, top_n)
    where = f"/customers/{customer_id}/recommendations?top_n={top_n}"
    if want is None:
        return [] if status == 404 else [f"{where}: status {status}, want 404"]
    if status != 200:
        return [f"{where}: status {status}, want 200"]
    got = body["recommendations"]
    if len(got) != len(want):
        return [f"{where}: {len(got)} rows, want {len(want)}"]
    errs = []
    every = {r["product_id"]: r for r in ref.ranked(customer_id)}
    for pos, (g, w) in enumerate(zip(got, want)):
        if not all(_six_dp(g[k]) for k in g if k != "product_id"):
            errs.append(f"{where}: row {pos} not rounded to 6 dp: {g}")
        if not _close(g["score"], w["score"]):
            errs.append(f"{where}: rank {pos} score {g['score']} "
                        f"want {w['score']}")
        ref_row = every.get(g["product_id"])
        if ref_row is None:
            errs.append(f"{where}: unexpected product {g['product_id']}")
            continue
        for k in ref_row:
            if k != "product_id" and not _close(g[k], ref_row[k]):
                errs.append(f"{where}: {g['product_id']}.{k} {g[k]} "
                            f"want {ref_row[k]}")
    return errs
