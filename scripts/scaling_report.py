"""Generate SCALING.md: per-query wall time at sf0.01 vs sf0.1 (10× the
data) and the observed scaling ratio — the empirical check on the
"would this plan survive a 100× scale-up" question PLANS.md argues
structurally. Run: python scripts/scaling_report.py

Methodology matches bench.py: per-query minimum over 2 passes through a
noop sink (steady-state, codegen amortized). Reading the ratios: at
these scale factors many queries are dominated by fixed per-job costs
(~0.3–0.5 s scheduler/plan overhead), so ratio ≪ 10 usually means
"overhead-bound, real work scales fine"; ratio ≈ 10 is linear in the
data; ratio ≫ 10 flags a stage whose work grows faster than the input
(worth reading the plan notes for the documented bound).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, "/root/repo")

SFS = ("/root/testdata/sf0.01", "/root/testdata/sf0.1")
PASSES = 2

# Second decade (sf0.1 → sf1): the driver testdata tops out at sf0.1, so
# the 10× corpus is synthesized by scripts/gen_sfbig.py (run it first;
# shard-concat relational tables, distribution-matched documents/
# embeddings — see its docstring for why copies would be unfair to the
# dedup/ANN queries). Only the expensive queries run there: the cheap
# ones are per-job-overhead-bound and teach nothing at 10×.
SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1")
DEEP_QUERIES = [
    "pagerank_global", "hits_fixed10", "connected_components",
    "connected_components_star", "sssp_weighted_fixed8", "graph_kcore",
    "shortest_paths_landmark", "embedding_topk_lsh", "embedding_topk_ivf",
    "dedup_minhash_lsh", "dedup_winnow_substrings", "dedup_ngram_jaccard",
    "recommend_batch", "cooccurrence_topn",
    # blend-path coverage (VERDICT r5 #6): the Q1/Q2 composites
    "similarity_jaccard_topk", "strategy_breakdown_focal",
    # r6/r7 additions with documented bounds (VERDICT r6 #8)
    "dedup_semantic", "vocab_hll_by_source", "hybrid_rrf_topk",
    "event_transitions", "events_value_trend",
    "embedding_truncation_recall", "pipeline_curate_pack",
    # r8 additions: sketch aggregates — both should be ~linear scans
    # with bounded-state shuffles (bucket table / bitmap words)
    "events_value_quantile_sketch", "decontaminate_bloom",
    # r8/r9 additions (VERDICT r8 #8 + #1): HyperANF's register state is
    # ball-bounded; auto-nlist SemDeDup must read near-linear where the
    # pinned-nlist form read >10×; bm25 re-measured after the 1-scan fuse
    "graph_hyperanf_nf", "dedup_semantic_auto", "bm25_topk",
    # late-r9 additions: BPE train/encode iterate on the vocab table
    # (corpus scanned once — d2 should track vocab growth, sublinear);
    # the overlap matrix and pruned decontamination are sketch-bounded
    "bpe_train_merges", "bpe_encode_stats", "vocab_overlap_sources",
    "decontaminate_bloom_pruned", "graph_hyperanf_diameter",
    # r10 additions (VERDICT r9 #7): second-decade rows for the late-r9
    # entries — hash-draw negative sampling (should track |users|·k,
    # linear), the perceptual media dedups (decode-bound pandas UDFs,
    # linear in media bytes), and format-detect routing (row-local scan)
    "training_negatives", "dedup_image_phash", "dedup_audio_envelope",
    "media_format_detect",
    # late-r10 additions: second-decade rows for remaining scale-relevant
    # paths — the stored-index incremental dedup (hot-bucket-capped probe
    # against a standing corpus artifact), Hamming-banded SimHash, the
    # iterative LPA loop, the salted skew aggregate (the 100 TB hot-key
    # defense should be flat-ish), and the 3-hop CF join
    "dedup_incremental_minhash", "dedup_simhash",
    "graph_lpa_communities", "events_skew_whale_counts", "customer_cf",
]


# Measured-once A/B appendices (r10 blocked PPR, r9 bucketed join,
# r10 two-level SemDeDup) — preserved verbatim across regenerations;
# re-measure with one-off scripts / scripts/bench_bucketed_ab.py if the
# underlying operators change. (The r10 shadowing trap — graphs.pagerank
# resolving to the re-exported FUNCTION — was fixed in r11: the package
# now keeps the submodule attribute and exports the function as
# `pagerank_scores`, so `import …graphs.pagerank as m` pokes work.)
_APPENDICES = """## Appendix: blocked batch PPR A/B (re-measured r10)

The ≤64-key blocked column dispatch (`graphs/pagerank._pagerank_batch_blocked`)
vs the long (key, id) form, fixed-20 iterations, warm, min over 2
passes per arm (the long arm forced by zeroing `_BLOCKED_KEYS_MAX`):

| workload | long (s) | blocked (s) | blocked speedup |
|---|---|---|---|
| sf0.1, k=3 | 22.7 | 15.9 | 1.43× |
| sf0.1, k=8 | 27.4 | 20.0 | 1.37× |
| sf0.1, k=32 | 69.1 | 41.3 | 1.67× |
| sf1, k=3 (ppr_fixed20_batch) | 100.4 | 42.5 | 2.36× |

Blocked wins at EVERY measured (k, sf) and the gap widens with both
key count and data size — the long form's per-iteration contrib join
emits |E|·k rows into the (key, dst) aggregate while blocked emits |E|
rows with k summed columns, so the shuffled bytes and aggregate hash
table shrink ~k× per sweep. The sf1 gap grew from 1.43× when first
measured in r6 to 2.36×: long-form shared costs eliminated since then
(edge pinning, broadcast gates, freeze snapshots) exposed the k-fold
shuffle as the remaining difference. Probe cadence is NOT a factor:
the per-key delta probe runs every 3rd iteration in both forms (an
every-iteration probe measured as a wash in r6), so freeze points
agree across the _BLOCKED_KEYS_MAX boundary.

## Appendix: bucketed fact-to-fact join A/B at sf1 (measured r9)

`write_bucketed` (`sources/layout.py`) on the sf1 lineitem ⋈ orders
per-order rollup (6M ⋈ 1.5M rows, 1.5M output groups; join AND
aggregate key on the bucket column), `scripts/bench_bucketed_ab.py`,
min over 3 passes, broadcast disabled so the plain arm pays its SMJ
shuffles:

| variant | sf1 (s) | Exchanges in plan |
|---|---|---|
| plain sort-merge join | 1.26 | 2 (one per join side, reused by the agg) |
| bucketed ×32 both sides | 0.85 | **0** |
| one-time bucketed write | 6.04 | — (paid once per corpus refresh) |

1.48× per query at local[32] where the shuffle is a memory copy; on a
real cluster the deleted Exchanges are NETWORK, so the gap widens with
data size and executor count — the write-once-shuffle-never-again
contract the 100 TB fact-to-fact design relies on. The zero-Exchange
plan and result parity vs the shuffled form are asserted in the
script and pinned in `tests/test_layout.py`.

## Appendix: two-level vs flat SemDeDup assignment A/B (measured r10, extended r11)

`semantic_dedup_auto` stored-centroid path, same schema/row count both
arms (cell assignments DIFFER — two-level is approximate; quantified
below), warm (both paths pre-run once), min over 2 passes per arm:

| corpus | nlist | flat (s) | two-level (s) | premium |
|---|---|---|---|---|
| sf0.1 (2k vecs) | 63 | 1.50 | 2.46 | 1.6× |
| sf1 (20k vecs) | 625 | 2.96 | 5.63 | 1.9× |

At every TESTABLE scale the flat path wins — its fine-matrix broadcast
is ≤ 625·64·8 B ≈ 320 KB and per-vector FLOPs trivial, while two-level
pays a cogroup shuffle that grows with the corpus. The two-level path
exists for the regime no local test reaches: nlist ∝ n means the flat
broadcast hits ~51 MB at 10⁸ vectors and 16 GB (un-broadcastable) at
10⁹, with O(n²) total FLOPs. Hence the r10 auto-dispatch:
`two_level=None` routes by measured nlist (boundary 2048 =
`ann._TWO_LEVEL_MIN_NLIST`), so production callers pay the premium only
once it buys something; the registry entry pins `two_level=True` so the
driver gate exercises — and hash-verifies — the two-level dataflow.

### Approximation quality (measured 2026-08-16, r11 — scripts/two_level_disagreement.py)

Two-level assignment errs exactly when a vector's true fine 1-NN lives
outside its probed coarse fan-in. Flat vs two-level at probe=1, plus
the downstream SemDeDup `kept` flips:

| corpus | n | nlist | n_coarse | cell disagreement | kept flips @0.45 | kept flips @0.95 |
|---|---|---|---|---|---|---|
| sf0.1 | 2,000 | 63 | 8 | 66.65% | 33 (1.65%) | **0** |
| sf1 | 20,000 | 625 | 25 | 80.6% | 1,767 (8.8%) | **0** |
| 100k one-off | 100,000 | 3,125 | 56 | 85.5% | 14,267 (14.3%) | **0** |

Reading: the disagreement is large ON THIS CORPUS by construction —
64-dim near-orthogonal vectors make the fine centroids themselves
near-orthogonal, so the coarse level (first ⌈√nlist⌉ fine centroids)
carries almost no routing signal. A clustered-blob control (63
Gaussian blobs, σ 0.15) measures the SAME (61.1% at probe=1), because
63 random cluster centers at dim 64 are also near-orthogonal — at
nlist ≲ dim there is no hierarchy for a second level to exploit. The
production regime differs twice over: (a) at auto-nlist scale
nlist ≫ dim, fine centroids genuinely cluster, and production k-means
the coarse level rather than taking the first √nlist (same dataflow);
(b) the decision that matters is `kept`, and at the 0.95 production
threshold the flips are ZERO at every measured scale — near-dup pairs
either land together under both assignments or each cell still
contains a witness duplicate; at the registry's 0.45 stress threshold
they reach 8.8–14.3%, which is why the registry entry pins an explicit
`two_level` and the oracle replays the exact two-level routing.

### coarse_probe recall knob (added r11)

`_assign_cells_two_level(coarse_probe=p)` ranks each vector against the
fan-ins of its top-p coarse cells. Probe sets are nested (stable top-p
prefix), so per-vector correctness is MONOTONE in p, and p = n_coarse
is exact flat 1-NN by construction — both pinned in
`tests/test_dedup_ann.py::test_two_level_disagreement_bounded_by_coarse_probe`.
Measured disagreement vs p (same corpora):

| corpus | p=1 | p=2 | p=4 | p=8 | p=16 | p=n_coarse |
|---|---|---|---|---|---|---|
| sf0.1 (n_coarse 8) | 66.7% | 51.9% | 28.9% | 0% | — | 0% |
| sf1 (n_coarse 25) | 80.6% | 71.1% | 56.4% | 35.8% | 10.9% | 0% |
| clustered blobs (n_coarse 8) | 61.1% | 44.4% | 21.2% | 0% | — | 0% |

At testable scales a material probe count approaches flat FLOPs (p=16
of n_coarse=25 probes ~64% of all fine cells), but the knob is priced
for the design point: at 10⁹ vectors (nlist 3.2e7, n_coarse 5657)
probe=16 ranks ~90k fine candidates per vector — 0.3% of flat — so
buying recall is cheap exactly where flat is impossible.

### Auto-dispatch boundary crossing (r11, verdict next-round #8)

A one-off deterministic 100k-vector corpus (seed-7 unit-norm normals,
~10% planted near-dup twins — gen_sfbig's embedding recipe at 5× sf1)
pushes the measured nlist to 3,125 > `_TWO_LEVEL_MIN_NLIST` = 2048, so
`semantic_dedup_auto(two_level=None)` selects the two-level path ON ITS
OWN — and emits the r11 one-time approximation warning (asserted by the
script):

| corpus | n | nlist | auto picks | wall (s) | per 5× data |
|---|---|---|---|---|---|
| sf1 | 20,000 | 625 | flat | 2.70 | 1× |
| 100k | 100,000 | 3,125 | two-level | 6.01 | 2.23× |

Sub-linear through the boundary: the cogroup premium is a one-time
constant and per-vector work is √nlist-ish, so the production
configuration enters its scale regime without a step change.

## Appendix: pinned-cache iterative loops (r11 rework + r12 regime gate, measured)

`localCheckpoint` does NOT preserve hash partitioning in Spark 4.1
(measured: two frames repartitioned on the same key and checkpointed
still get a fresh Exchange+Sort pair EACH under their join) — so the
pre-r11 "pre-partition edges by src once" iterative shape silently
re-shuffled and re-sorted the full edge table under every superstep's
sort-merge join in the big regime. The r11 `_pin_for_iteration`
(repartition → sortWithinPartitions → persist) fixes the mechanism: an
InMemoryTableScan REPORTS the cached plan's outputPartitioning and
outputOrdering, so the per-superstep join reuses the cache with zero
Exchange and zero Sort on the edge side (plan-pinned in
tests/test_pagerank.py::test_pinned_edge_cache_joins_without_edge_exchange_or_sort).

Broadcast-hint policy was re-measured per loop with interleaved
same-process A/Bs at sf0.1 (old and new module objects swapped via
sys.modules between passes — host drift between separate bench runs
was 1.6–2.5× on this rig and had previously inverted a conclusion):

| loop | state shape | policy | old (s) | new (s) |
|---|---|---|---|---|
| pagerank (single vector) | narrow (id, rank) | pinned + gated state hint, merge-pinned aggregates | 10.9–11.5 | 9.0–9.2 |
| ppr_fixed20_batch (blocked, 64 keys) | wide 65-col | pinned + cell-gated hints | 20.0–33.6 | 17.1–20.6 |
| hits_fixed10 | two narrow frames | pinned both directions | 10.7–13.1 | 10.0–12.4 |
| graph_lpa_communities | narrow labels | pinned, no hints | 3.7–5.1 | 3.5–4.7 |
| connected_components_star | shrinking star set | unchanged inner loop | 8.8–10.8 | 8.5–10.7 |
| graph_hyperanf_nf | register rows | pinned, no hints | 12.5–23.7 | 11.9–12.6 |
| sssp_weighted_fixed8 | keyed (id, landmark) | regime-gated (see below) | 8.5–20.0 | 8.3–9.1 |
| shortest_paths_landmark | keyed (id, landmark) | regime-gated | 6.9–8.7 | 6.1–6.8 |

Three measured rules fell out:

1. **Narrow vertex state: broadcast the STATE, never the aggregates.**
   Catalyst's stats would broadcast a checkpointed state frame on its
   own, but the shipped loop pins the choice explicitly — a size-gated
   F.broadcast hint on the state side and .hint("merge") on every
   per-iteration AGGREGATE (contrib/sink/argmax) — so no session
   autoBroadcastJoinThreshold can move an aggregation subplan onto a
   broadcast side. The OLD shape hinted the aggregates themselves,
   which serialized each iteration into 3 driver-blocking broadcast
   sub-jobs — 20% slower for pagerank, and catastrophic (3–6×) under
   host contention.
2. **Wide or keyed state keeps a size-computed hint.** The blocked
   form's 65-column state (~10.4 MB at sf0.1) and the landmark loops'
   (id, landmark) pair state fall just past Catalyst's 10 MB
   auto-broadcast into per-iteration Exchange+Sort of the state frame;
   the explicit gate (state cells ≤ 5M) restores the broadcast while it
   is genuinely small.
3. **When the EDGE side streams through a broadcast-hash join, a
   row-format checkpoint beats the columnar cache** (~15% on SSSP: the
   cache pays a columnar→row decode per scan, and its partitioning buys
   nothing under a BHJ). So the landmark loops pin only in the big
   regime — which is also the only regime where the pin's partitioning
   is load-bearing.

Partition sizing is state-driven: state rows at 50k/partition, edge
rows at the 20× looser 1M/partition (edges sort once at pin time and
are scanned thereafter), and the landmark loops size by the
|E|·|landmarks| relax work product (an edge-row sizing left a 19M-row
relax stage on 3 tasks — measured ~25% regression before the fix).
At 100 TB the partition cap (cluster default parallelism) binds and
`num_partitions` is the explicit override.

### r12: the regime gate extended to pagerank / batch PPR / HITS / CC / LPA

r11 shipped rule 3 only for the landmark loops; pagerank / batch PPR /
HITS / CC / LPA still pinned edges UNCONDITIONALLY — so at every
sub-gate scale (including the driver's sf0.1) each superstep streamed
the columnar edge cache through a broadcast-hash join, paying the
per-scan decode for partitioning the BHJ never uses. The driver's r11
bench regressed the graph family 1.08× normalized (ppr_fixed20_batch
1.45×) exactly there. r12 applies the gate everywhere the state side
broadcasts (later refined by the valid sf1 re-run below: the checkpoint
branch additionally requires the streamed frame under the measured
_EDGE_PIN_ROWS row bound — no sf0.1 plan changes): edges (and the batch PPR forms' static p) become
ROW-FORMAT checkpoints, re-partitioned once to the loop's partition
count (`_repartition_checkpoint`). The re-partition is load-bearing:
the first checkpoint inherits the ETL's AQE-coalesced partitioning
(often 1–4 partitions at sf0.1), which caps every superstep scan's
parallelism — without it the gated shape measured SLOWER than the pin
(hits 0.88×, pagerank_fixed20 0.93× on the first r12 A/B).

Interleaved same-process A/Bs (sys.modules swap, min-of-3,
`scripts/ab_gated_pins.py`), run on BOTH session classes — the
driver-default 10 MB-auto-broadcast session (where r11's builder A/Bs
were never run, which is how the regression shipped) and the tuned
64 MB bench session (what bench.py runs under):

| query | driver-default old→new (s) | tuned old→new (s) |
|---|---|---|
| pagerank_fixed20 | 12.12 → 10.82 (**1.12×**) | 12.65 → 10.97 (**1.15×**) |
| ppr_fixed20_batch | 15.30 → 15.70 (0.97×, par) | 18.98 → 14.44 (**1.31×**) |
| ppr_batch_focal | 11.91 → 10.66 (**1.12×**) | 13.31 → 10.41 (**1.28×**) |
| hits_fixed10 | 16.12 → 8.92 (**1.81×**) | 13.16 → 8.89 (**1.48×**) |
| pagerank_global | 8.51 → 7.85 (1.08×) | 10.47 → 13.73 (0.76×, in noise band) |
| *noise markers (identical code both variants)* | | |
| graph_hyperanf_nf | 9.31 → 13.85 (0.67×) | 9.26 → 10.30 (0.90×) |
| graph_hyperanf_diameter | 15.24 → 12.18 (1.25×) | 18.44 → 20.55 (0.90×) |
| connected_components_star | 7.89 → 6.19 (1.28×) | 7.17 → 8.96 (0.80×) |

The noise markers bound host noise at ±25–30% per A/B draw even
interleaved; the four target queries improve past that band on at
least one session class and never regress past it on the other.

HyperANF stays PINNED by measurement, not prescription: its register
state carries no broadcast hint and saturates toward |V|·m rows — 47M
cells at the sf0.1 purchase graph (185k vertices × 256 registers), far
past any session threshold — so the superstep join runs sort-merge for
most of the run and the pin's partitioning is load-bearing. ANF's call
of the gate (`graphs/superstep.py`) uses that saturation bound (|V|·m vs the 5M-cell
gate), so both r12 A/B variants executed identical ANF plans at sf0.1;
the nf/diameter swings above are pure host noise.

connected_components_star's r11 driver move (1.26× normalized, r11
verdict #7): its inner loop and partition sizing are bit-identical
r10→r11 (diff checked), and the interleaved A/B measures old/new par —
the move was 2-pass min noise on a ~8 s query; bench.py now gives it
(and the other verdict-#5 small swingers) extra draws.

### Second-decade check at sf1 — re-attempted 2026-08-17/18, VALID, and it refined the gate

The first r12 sf1 attempt failed its own noise gate (markers 0.49–0.96×
with 2.8× per-draw swings — recorded as a method-faithful null, kept in
bench_results/ab/ab_gated_pins_sf1_*_r12.json). The RE-ATTEMPT on a
quieter host PASSED the gate on both session classes
(bench_results/ab/ab_gated_pins_sf1_*_r12_rerun.json; min-of-3,
markers = traversal-module queries, same bytes in both arms):

| query (sf1) | driver-default old/new | tuned old/new |
|---|---|---|
| pagerank_fixed20 (23.9M-row adjacency) | **0.75** | **0.87** |
| hits_fixed10 (7.7M-row bipartite) | **0.83** | **0.91** |
| ppr_batch_focal (blocked form) | **0.78** | **1.34** |
| *marker:* connected_components_star | 0.92 | 0.93 |
| *marker:* graph_lpa_communities | 0.97 | 0.95 |

old = the r11 unconditional PIN; new = the r12 checkpoint gate;
old/new < 1 means the pin is faster. Reading: **rule 3 INVERTS with
edge volume.** The checkpoint won everywhere it was measured at sf0.1
(frames up to the 2.39M-row co-occurrence adjacency) but loses
1.10–1.33× at sf1 edge volumes on BOTH session classes for the
single-vector pagerank and HITS loops — past the markers' band in all
four cells. Mechanism: the BHJ streams the edge side either way, but
the checkpoint pays a per-row deserialization that is linear in rows,
while the pinned cache's columnar decode amortizes over vectorized
batches — a fixed per-scan cost that dominates only on small frames.

The gate therefore gained a second condition (`_EDGE_PIN_ROWS = 4M`,
now in `graphs/superstep.py` with the rest of the gate): checkpoint only while the state broadcasts AND the
streamed frame stays under the measured row bound — the geometric
midpoint of the bracket (checkpoint wins <= 2.39M rows, pin wins >=
7.7M). Every sf0.1 loop frame measures below the bound (cooc adjacency
2.392M, CC symmetrized list 2.392M, purchase bipartite 0.77M), so the
driver-bench plans are bit-identical to the pre-refinement r12 shape
(branch-probe verified); at sf1 pagerank and HITS flip to the pin that
won the A/B. Applied to the single-vector pagerank, HITS, CC, and the
landmark/SSSP loops (same narrow-state streamed-BHJ shape; the
landmark pair AND CC are extrapolated, not separately measured at sf1
— the A/B arms were pagerank_fixed20/hits_fixed10/ppr_batch_focal and
connected_components_star (no pin) served as a marker, so CC's sf1
flip to the pin is unconfirmed; noted here so a future A/B knows). HyperANF keeps its
|V|*m saturation gate plus the same row bound.

**Batch PPR: held back in r12, applied in r13.** ppr_batch_focal was
the one target where the two session classes CONTRADICTED past both
marker bands in r12 (driver-default: pin 1.28× faster; tuned:
checkpoint 1.34× faster), so r12 kept the pure rule-3 gate on the batch
forms. The r13 re-run on a quieter host (markers 0.925–1.008 on both
classes; `bench_results/ab/ab_batchppr_sf1_r13.json`) did not reproduce
the contradiction: tuned favored the pin past the band (old/new 0.825)
and driver-default was par (0.96). The `_EDGE_PIN_ROWS` bound therefore
applies to batch PPR too, on the same measured 4M bracket as every
other loop; no sf0.1 plan changes, since every sf0.1 loop frame is
under the bound. Since then a single PageRank loop
(`_pagerank_batch_blocked`) serves `pagerank()` and every
`pagerank_batch` size. Every superstep loop (PageRank, HITS, BFS,
Bellman-Ford, CC, LPA, HyperANF) now takes its gate, its state-side
hint and its pin lifetime from `graphs/superstep.py`.

**A third, driver-local regime, PageRank only so far.** Below
`superstep.LOCAL_EDGE_ROWS` (2,412,143 rows: the inputs of one call
together, collected through Arrow in one query, and the answer's keys ×
vertices) PageRank runs on the driver as a numpy power iteration
(`np.bincount` per key and step): the inputs' own stages and one collect,
no job per superstep. Past the bound, or on a null, the Spark loop and
the gate above apply unchanged. On `ppr_fixed20_batch`'s inputs
(`scripts/ab_local_pagerank.py`, 4 vCPUs, 1 GB driver heap, adjacency
built inside each call) it used 2.8 / 2.1 / 3.2 / 18.9 s of CPU against
the Spark loop's 16.2 / 12.6 / 12.6 / 53.0 s on perfbench's batch
tables, sf0.001, sf0.01 and sf0.1 (2.41M input rows), every rank within
1e-12 (`bench_results/ab/ab_local_pagerank.json`). Every sf0.1 PageRank
input is within the bound, so the sf0.1 `pagerank_*` / `ppr_*` timings
in the tables above predate it; the sf1 adjacency (23.9M rows) stays on
the Spark loop.

#### The earlier null attempt (kept for method history)

The same harness was pointed at the gen_sfbig sf1 corpus on both
session classes (driver-default: 8 queries, min-of-2; tuned: 6
queries, min-of-3). Both runs FAILED their own noise gate and are
recorded as method-faithful nulls, not as evidence. The identical-code
markers — graph_hyperanf_nf/diameter (both variants pin: ~1.85M
vertices × 256 registers ≫ the 5M-cell gate at sf1) and
connected_components_star (traversal.py is not in AB_MODULES, so both
arms run the same bytes) — read 0.49–0.96× old-over-new, with
per-draw swings on identical plans reaching 2.8× (hyperanf_nf 42.9 s
→ 119.3 s between adjacent tuned rounds): the host that night drew
systematically slower states for whichever arm ran second, far past
the ±25–30% band the sf0.1 A/Bs were bounded by. Within that span no
conclusion separates the variants; the one safe reading is that NO
gated loop fell below the marker floor (worst gated reading 0.646 vs
marker floor 0.493), i.e. nothing suggests the r12 gate regresses at
sf1. Two structural facts make the sf0.1 table the operative evidence
anyway: (1) every gated loop is still in the BROADCAST regime at sf1 —
the purchase graph's vertex state crosses the 5M gate only past ~sf3 —
so sf1 exercises exactly the plan shape sf0.1 measured; (2) the big
regime's pin-vs-checkpoint choice was measured directly by the r11
landmark-loop A/Bs that produced rule 3. Re-attempt on a quiet host
before citing any sf1 number for the gate.

""".split("\n")


def main() -> None:
    from graph_database_spark.session import get_spark
    from graph_database_spark.registry import AB_QUERIES, QUERIES
    from bench import BENCH_QUERIES

    spark = get_spark("scaling")
    spark.sparkContext.setLogLevel("ERROR")

    # AB_QUERIES holds harness-only pedagogical baselines (dedup_semantic,
    # demoted from the driver registry in r11) — measured here so the A/B
    # keeps a current number, but never exported via __spark_entry__.
    QUERIES = {**QUERIES, **AB_QUERIES}
    names = [n for n in BENCH_QUERIES if n in QUERIES]
    # self-heal like bench.py: registry entries missing from the curated
    # list (including every DEEP_QUERIES addition) still get both-decade
    # rows instead of KeyErroring the deep table
    names += [n for n in QUERIES if n not in set(names)]
    times: dict[str, dict[str, float]] = {n: {} for n in names}
    for sf_dir in SFS:
        for _ in range(PASSES):
            for name in names:
                t0 = time.perf_counter()
                try:
                    QUERIES[name](spark, sf_dir).write \
                        .format("noop").mode("overwrite").save()
                except Exception as exc:  # noqa: BLE001
                    # record NaN only if NO pass has succeeded — a failing
                    # pass must not clobber a valid timing
                    times[name].setdefault(sf_dir, float("nan"))
                    print(f"ERR {name} @ {sf_dir}: {exc}", file=sys.stderr)
                    continue
                dt = time.perf_counter() - t0
                cur = times[name].get(sf_dir)
                if cur is None or cur != cur or dt < cur:
                    times[name][sf_dir] = dt

    lines = [
        "# SCALING — per-query wall time, sf0.01 → sf0.1 (10× data)",
        "",
        "Auto-generated by `scripts/scaling_report.py` (per-query min over "
        f"{PASSES} passes, noop sink, local[32]). Ratio ≪ 10 ⇒ fixed "
        "per-job overhead dominates; ≈ 10 ⇒ linear; ≫ 10 ⇒ a stage grows "
        "faster than the input (see PLANS.md for the documented bound).",
        "",
        "| query | sf0.01 (s) | sf0.1 (s) | ratio |",
        "|---|---|---|---|",
    ]
    total_small = total_big = 0.0
    for name in names:
        a = times[name].get(SFS[0], float("nan"))
        b = times[name].get(SFS[1], float("nan"))
        total_small += a
        total_big += b
        ratio = b / a if a and a == a and b == b else float("nan")
        lines.append(f"| {name} | {a:.2f} | {b:.2f} | {ratio:.1f}× |")
    lines += [
        f"| **total ({len(names)} queries)** | **{total_small:.1f}** "
        f"| **{total_big:.1f}** | **{total_big / total_small:.1f}×** |",
        "",
    ]

    # ---- second decade: sf0.1 → sf1 on the expensive queries ----
    if os.path.exists(os.path.join(SF1_DIR, "lineitem.parquet")):
        deep = [n for n in DEEP_QUERIES if n in QUERIES]
        t1: dict[str, float] = {}
        for _ in range(PASSES):
            for name in deep:
                t0 = time.perf_counter()
                try:
                    QUERIES[name](spark, SF1_DIR).write \
                        .format("noop").mode("overwrite").save()
                except Exception as exc:  # noqa: BLE001
                    t1.setdefault(name, float("nan"))
                    print(f"ERR {name} @ {SF1_DIR}: {exc}", file=sys.stderr)
                    continue
                dt = time.perf_counter() - t0
                cur = t1.get(name)
                if cur is None or cur != cur or dt < cur:
                    t1[name] = dt
        lines += [
            "## Second decade: sf0.1 → sf1 (10× again, expensive queries)",
            "",
            "sf1 = 6M lineitem / 1M events / 50k docs / 20k embeddings,",
            "synthesized by `scripts/gen_sfbig.py` (shard-concat relational",
            "tables, distribution-matched fresh documents/embeddings — NOT",
            "key-shifted copies, which would plant 10-way duplicates and",
            "quadratically inflate the near-dup candidate sets). A plan that",
            "is sublinear across BOTH decades has no hidden super-linear",
            "stage waiting at 100 TB.",
            "",
            "| query | sf0.01 (s) | sf0.1 (s) | sf1 (s) | d1 ratio | d2 ratio |",
            "|---|---|---|---|---|---|",
        ]
        tot01 = tot1 = totdeep = 0.0
        for name in deep:
            a = times.get(name, {}).get(SFS[0], float("nan"))
            b = times.get(name, {}).get(SFS[1], float("nan"))
            c = t1.get(name, float("nan"))
            tot01 += a
            tot1 += b
            totdeep += c
            r1 = b / a if a and a == a and b == b else float("nan")
            r2 = c / b if b and b == b and c == c else float("nan")
            lines.append(f"| {name} | {a:.2f} | {b:.2f} | {c:.2f} "
                         f"| {r1:.1f}× | {r2:.1f}× |")
        lines += [
            f"| **total ({len(deep)})** | **{tot01:.1f}** | **{tot1:.1f}** "
            f"| **{totdeep:.1f}** | **{tot1 / tot01:.1f}×** "
            f"| **{totdeep / tot1:.1f}×** |",
            "",
            "Reading the second decade: a d2 ratio APPROACHING 10× on a",
            "pair-generation query (similarity_jaccard_topk,",
            "recommend_batch) is LINEAR scaling finally",
            "unmasked — per-key density is constant by construction (e.g.",
            "~30 customers/product at every sf). dedup_minhash_lsh left",
            "this group when the r10 hot-bucket cap landed: re-measured",
            "2026-08-16 (r11, min over 3 passes, empty-job calib 0.026 s)",
            "it reads 3.89 s at sf0.1 / 9.73 s at sf1 = d2 2.5× — the one",
            "number that supersedes both the r10 degraded-host table row",
            "(5.5×) and commit f082a50's interim-corpus 3.1× claim.",
            "Candidate work on the pair-generation pair grows",
            "with the corpus and at sf1 stops hiding under fixed per-job",
            "overhead. Linear shuffle-bound work is the 100 TB design",
            "point (add executors); only ratios MATERIALLY ABOVE 10×",
            "would indicate a super-linear stage. The iterative-graph",
            "family sits at 2–4× because its per-iteration frames are",
            "vertex-sized (and since r6 the state broadcast is gated on",
            "that vertex count, not the edge count — the r5 hits_fixed10",
            "6.5× cliff was that gate flipping at 5.99M edges; it now",
            "reads 2.9×). dedup_semantic's d2 above 10× is the documented",
            "fixed-nlist bound: its 16 centroids are pinned, so cell",
            "occupancy grows linearly with the corpus and the within-cell",
            "pair join quadratically — the entry is kept as the",
            "pedagogical A/B baseline ONLY — and since r11 it lives in",
            "AB_QUERIES (measured here, value-gated locally, never",
            "exported through the driver registry; r10 verdict #7a).",
            "dedup_semantic_auto is the fix MEASURED: nlist =",
            "⌈n/32⌉ grows with the corpus (16 cells at sf0.01 → 63 at",
            "sf0.1 → 625 at sf1), max cell occupancy stays flat, and its",
            "MEASURED d2 is ~2× against the pinned twin's 28.5× — the",
            "SemDeDup paper's bounded-occupancy design, with centroids",
            "stored so the oracle still replays assignment exactly. Since",
            "r10 its ASSIGNMENT is two-level (⌈√nlist⌉-coarse quantizer,",
            "fine centroids shuffled as data via cogrouped applyInPandas),",
            "so per-vector FLOPs are ~2√nlist·dim instead of nlist·dim and",
            "the only closure broadcast is the coarse matrix — ~2.9 MB at",
            "10⁹ vectors where the flat form would broadcast 16 GB.",
            "",
            "connected_components_star's d2 (3.0× on the r10 regen; the",
            "earlier 5.3× reading was host-noise-inflated) was",
            "instrumented per-round at sf1 (r10): the",
            "co-occurrence graph feeds 12.0M input edges (linear in sf),",
            "round 0 contracts them 30× to 389k and costs ~58% of the",
            "total, round 1 reaches the 200k-edge fixed point, round 2 is",
            "the convergence probe. Intermediate star sets SHRINK every",
            "round — there is no growing frame; the d2 is round 0's",
            "linear edge shuffle unmasking from under fixed per-job",
            "overhead (3 rounds × ~6 jobs each at any sf). The",
            "path-graph worry (tree-height halving needing ~30 rounds)",
            "does not arise on this corpus: co-occurrence graphs are",
            "low-diameter by construction.",
            "",
        ]
        lines += _APPENDICES
    else:
        lines += [
            f"_(second-decade table skipped: {SF1_DIR} not generated — "
            "run `python scripts/gen_sfbig.py` first)_",
            "",
        ]

    with open("/root/repo/SCALING.md", "w") as f:
        f.write("\n".join(lines))
    print(f"wrote SCALING.md: total {total_small:.1f}s -> {total_big:.1f}s "
          f"({total_big / total_small:.1f}x) over {len(names)} queries")


if __name__ == "__main__":
    main()
