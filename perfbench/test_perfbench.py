"""Tests of the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

import check
import cpu
import gen
import metrics
import run
import stats
from tracing import (Tracer, attach_event_counts, read_event_log,
                     subtree_totals)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- generator ---------------------------------------------------------------

SMALL = gen.ReferenceShape(n_customers=200, n_products=40, n_orders=300,
                           n_events=400)


def test_reference_tables_deterministic():
    a = gen.reference_tables(SMALL, 5)
    b = gen.reference_tables(SMALL, 5)
    assert gen.content_hash(a) == gen.content_hash(b)
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name])
    assert gen.content_hash(gen.reference_tables(SMALL, 6)) \
        != gen.content_hash(a)


def test_registry_tables_deterministic():
    shape = gen.RegistryShape(n_customers=50, n_parts=30, n_orders=100)
    a, b = gen.registry_tables(shape, 3), gen.registry_tables(shape, 3)
    assert gen.content_hash(a) == gen.content_hash(b)
    assert gen.content_hash(gen.registry_tables(shape, 4)) \
        != gen.content_hash(a)
    assert a["lineitem"]["l_partkey"].between(1, 30).all()


def test_customer_roles_and_schema():
    t = gen.reference_tables(SMALL, 1)
    n_buy, n_evo, n_none = gen.customer_roles(SMALL)
    ids = t["customers"]["id"].tolist()
    buyers, evo, none = (set(ids[:n_buy]), set(ids[n_buy:n_buy + n_evo]),
                         set(ids[n_buy + n_evo:]))
    assert len(none) == n_none
    ordered = set(t["orders"]["customer_id"])
    evented = set(t["events"]["customer_id"])
    assert ordered <= buyers
    assert evo <= evented and not evo & ordered
    assert not none & (ordered | evented)
    # PK(order_id, product_id): a product appears at most once per order
    assert not t["order_items"].duplicated(["order_id", "product_id"]).any()
    assert set(t["events"]["event_type"]) <= set(gen.EVENT_TYPES)


# --- percentile / ratio arithmetic --------------------------------------------

def test_percentile_matches_numpy_linear():
    rng = np.random.default_rng(0)
    xs = list(rng.exponential(size=37))
    for q in (0, 10, 50, 90, 99, 100):
        assert stats.percentile(xs, q) == pytest.approx(np.percentile(xs, q))
    assert stats.percentile([4.0], 50) == 4.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_supported_percentile_needs_ten_beyond():
    assert stats.tail_samples(100, 90) == 10
    assert stats.supported_percentile(100) == 90.0
    assert stats.supported_percentile(99) == 75.0
    assert stats.supported_percentile(20) == 50.0
    assert stats.supported_percentile(19) is None
    assert stats.supported_percentile(1000) == 99.0


def test_ratio_and_spread():
    assert stats.ratio(3, 12) == 0.25
    assert stats.ratio(5, 0) == 0.0
    assert stats.mean([]) == 0.0
    vals = [10.0, 10.0, 10.0, 10.0]
    assert stats.relative_spread(vals) == 0.0
    # quartiles of 1..9 (exclusive method): 2.5 and 7.5, median 5
    assert stats.relative_spread([float(i) for i in range(1, 10)]) == 1.0


def test_host_normalized_cancels_uniform_slowdown():
    lat, probe = [200.0, 300.0, 100.0], [0.02, 0.03, 0.025]
    base = stats.host_normalized(lat, probe)
    assert base == pytest.approx(200.0 * stats.PROBE_REF_MS / 25.0)
    # a host twice as slow doubles both latency and probe: no change
    assert stats.host_normalized([2 * x for x in lat],
                                 [2 * p for p in probe]) \
        == pytest.approx(base)
    # the program twice as slow on the same host doubles the metric
    assert stats.host_normalized([2 * x for x in lat], probe) \
        == pytest.approx(2 * base)


def test_stat_parsing_handles_names_with_spaces_and_parens(tmp_path):
    fields = " ".join(["S"] + [str(i) for i in range(1, 40)])
    path = tmp_path / "stat"
    # utime and stime are fields 14 and 15 of the line (here 11 and 12)
    path.write_text(f"123 (C2 CompilerThre) x) {fields}\n")
    assert cpu._name_and_ticks(str(path)) == ("C2 CompilerThre) x", 23)


def test_cpu_seconds_of_this_process():
    pid = os.getpid()
    total = cpu.jvm_seconds(pid) + cpu.compiler_seconds(pid)
    assert total >= 0.0 and cpu.compiler_seconds(pid) == 0.0
    assert cpu.python_seconds() >= total - 0.05


# --- metric names ------------------------------------------------------------

def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_benchmark_json():
    spec = _spec()
    # every benchmarked workload is runnable; run.py also runs the others
    assert {w["name"] for w in spec["workloads"]} <= set(metrics.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} \
        == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == metrics.PER_LAYER


def test_result_line_prints_every_declared_metric():
    e2e = {"correct": True, "attempted": 3, "failed": 0,
           "metrics": {k: 1.5 for k in metrics.END_TO_END}}
    line = run.result_line(e2e, trace=False)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert list(line["metrics"]) == list(metrics.END_TO_END)
    layers = {"correct": True, "attempted": 1, "failed": 0,
              "metrics": {"graphs.pagerank_ms": 2.0}}
    out = run.result_line(layers, trace=True)["metrics"]
    assert set(out) == set(metrics.PER_LAYER)
    assert out["graphs.pagerank_ms"]["value"] == 2.0
    assert out["queries.recommend_batch_s"]["value"] == 0.0
    with pytest.raises(KeyError):
        run.result_line({**layers, "metrics": {"nope": 1.0}}, trace=True)
    with pytest.raises(KeyError):
        run.result_line({**e2e, "metrics": {"setup_s": 1.0}}, trace=False)


# --- output checks on the reference seed (FIXTURES.md §2/§3) -----------------

def _toy() -> dict[str, pd.DataFrame]:
    ts = pd.Timestamp("2024-04-01", tz="UTC")
    return {
        "customers": pd.DataFrame({"id": ["C1", "C2", "C3"],
                                   "name": ["A", "B", "C"]}),
        "products": pd.DataFrame({"id": ["P1", "P2", "P3", "P4"]}),
        "orders": pd.DataFrame({"id": ["O1", "O2", "O3"],
                                "customer_id": ["C1", "C2", "C1"], "ts": ts}),
        "order_items": pd.DataFrame({
            "order_id": ["O1", "O1", "O2", "O3", "O3"],
            "product_id": ["P1", "P2", "P3", "P4", "P2"],
            "quantity": [1] * 5}),
        "events": pd.DataFrame({
            "id": ["E1", "E2", "E3", "E4", "E5"],
            "customer_id": ["C1", "C1", "C3", "C2", "C2"],
            "product_id": ["P3", "P3", "P1", "P2", "P4"],
            "event_type": ["view", "click", "view", "view", "add_to_cart"],
            "ts": ts}),
    }


def test_q1_reference_matches_golden():
    ref = check.Q1Reference(_toy())
    g = dict(zip(ref.products, ref.global_rank))
    assert {p: round(v, 6) for p, v in g.items()} == {
        "P1": 0.244544, "P2": 0.463293, "P3": 0.047619, "P4": 0.244544}
    assert ref.expected("C1", 3) == []
    (c2,) = ref.expected("C2", 3)
    assert c2["product_id"] == "P1"
    assert round(c2["score"], 6) == 0.836231
    assert round(c2["personalized_pagerank"], 6) == 0.136231
    c3 = ref.expected("C3", 3)
    assert [(r["product_id"], round(r["score"], 6)) for r in c3] == [
        ("P2", 1.0), ("P4", 0.427511), ("P3", 0.3)]
    assert ref.expected("C9", 3) is None
    assert len(ref.expected("C3", 0)) == 1     # top_n clamps up to 1


def test_check_customer_flags_mismatches():
    ref = check.Q1Reference(_toy())
    good = [{k: (round(v, 6) if isinstance(v, float) else v)
             for k, v in r.items()} for r in ref.expected("C3", 2)]
    assert check.check_customer(ref, "C3", 2, 200,
                                {"recommendations": good}) == []
    assert check.check_customer(ref, "C9", 2, 404, {}) == []
    assert check.check_customer(ref, "C9", 2, 200, {"recommendations": []})
    bad = [dict(good[0], score=0.5), good[1]]
    assert check.check_customer(ref, "C3", 2, 200, {"recommendations": bad})
    assert check.check_customer(ref, "C3", 2, 200,
                                {"recommendations": good[:1]})


def test_failed_request_fails_the_run():
    import serving
    ref = check.Q1Reference(_toy())
    good = [{k: (round(v, 6) if isinstance(v, float) else v)
             for k, v in r.items()} for r in ref.expected("C3", 2)]
    ok = {"spec": {"customer_id": "C3", "top_n": 2,
                   "path": "/customers/C3/recommendations?top_n=2"},
          "status": 200, "body": {"recommendations": good}}
    assert serving._check("customer_recs", None, _toy(), [ok]) == []
    for status in (500, None):
        bad = dict(ok, status=status, body={})
        assert serving._check("customer_recs", None, _toy(), [ok, bad])


def test_recs_twins_match_golden(tmp_path):
    gen.write_parquet(_toy(), str(tmp_path))
    con = check.duckdb_views(str(tmp_path), _toy())

    def rows(strategy, cid=None, limit=10):
        return con.execute(check.recs_twin_sql(strategy, cid, limit)).fetchall()

    assert rows("co_occurrence") == [("P2", 2), ("P1", 1), ("P4", 1)]
    assert rows("similarity") == [("P1", 2), ("P2", 2), ("P3", 2), ("P4", 2)]
    assert rows("similarity", "C3") == [("P2", 1), ("P3", 1), ("P4", 1)]
    assert rows("pagerank", limit=2) == [("P2", 2), ("P1", 1)]
    body = {"recommendations": [{"product_id": "P2", "co_count": 2}]}
    assert check.check_recs(con, "co_occurrence", None, 1, body) == []
    assert check.check_recs(con, "co_occurrence", None, 2, body)
    con.close()


def test_oracle_comparator_is_order_insensitive_and_rounds():
    cols = ["a", "b"]
    rows = [{"a": 1, "b": 0.1234564}, {"a": 2, "b": -0.0}]
    other = [{"a": 2, "b": 0.0}, {"a": 1, "b": 0.123456}]
    assert check.normalize_rows(rows, cols) == check.normalize_rows(other, cols)


# --- tracing -------------------------------------------------------------------

def test_spans_nest_and_disable():
    t = Tracer()
    with t.op_scope(7), t.span("outer"):
        with t.span("inner", k=1):
            pass
    inner, outer = t.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["op"] == outer["op"] == 7 and inner["k"] == 1
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    t.enabled = False
    with t.span("ignored"):
        pass
    assert len(t.spans) == 2


def test_event_log_attribution(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "g2"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 5}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {}},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events))
    groups = read_event_log(str(tmp_path))
    assert groups == {"g1": {"jobs": 1, "shuffle_bytes": 100},
                      "g2": {"jobs": 1, "shuffle_bytes": 5}}
    spans = [{"id": 1, "parent": None, "group": "g1", "end": 2.0},
             {"id": 2, "parent": 1, "group": "g2", "end": 1.0}]
    attach_event_counts(spans, groups)
    assert subtree_totals(spans, "shuffle_bytes") == {1: 105, 2: 5}
    assert subtree_totals(spans, "jobs") == {1: 2, 2: 1}
