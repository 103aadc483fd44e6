"""Distributed frequency sketches (beyond-reference, 100 TB curation).

Exact corpus-wide heavy hitters via a two-phase Misra-Gries sketch:

1. **Sketch pass** — every partition maintains at most `k` counters over
   its token stream (Arrow-batched mapInPandas; per batch a vectorized
   value_counts merge + the classic MG mass-decrement eviction). A
   partition holding n_p tokens undercounts any token by at most
   n_p/(k+1), so the SUMMED partition summaries undercount any token by
   at most N/(k+1) — the standard mergeability bound.
2. **Recount pass** — every token whose summed sketch count could still
   reach the threshold (mg_sum + N/(k+1) >= min_count) is a candidate;
   candidates (≤ k·partitions rows, in practice far fewer) broadcast
   back as a semi-join filter and get EXACT counts.

The result is exactly `GROUP BY token HAVING count >= min_count` — the
sketch only bounds the shuffle: instead of shuffling the full corpus
vocabulary (the dominant cost of a naive word count at 100 TB), phase 1
shuffles k rows per partition and phase 2 shuffles only occurrences of
candidate tokens. The DuckDB oracle runs the naive form; hash-equality
IS the exactness guarantee, making this a sketch whose approximation
error is provably repaired, not tolerated.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from .dedup import HASH_P, MINHASH_A, MINHASH_B, md5_long
from .util import spread

_SUMMARY_SCHEMA = "token string, mg_count long, part_total long"

# Mersenne prime 2³¹−1 (see operators/dedup.py): (a·h + b) mod P stays
# under 2⁶² for h, a < P — overflow-safe in every engine.
CMS_P = 2_147_483_647
_rng = np.random.RandomState(6174)
#: Universal-hash coefficients for the count-min depth rows, fixed seed —
#: shared with the DuckDB oracle SQL (registry embeds them as literals).
CMS_A: list[int] = [int(x) for x in _rng.randint(1, CMS_P, size=8)]
CMS_B: list[int] = [int(x) for x in _rng.randint(0, CMS_P, size=8)]
del _rng


def _cms_slots(token: Column, depth: int, width: int) -> Column:
    """array<long> of the token's slot per depth row d: universal hash of
    the md5 base, mod width."""
    base = md5_long(token) % F.lit(CMS_P)
    return F.array(*[
        ((F.lit(CMS_A[d]) * base + F.lit(CMS_B[d])) % F.lit(CMS_P))
        % F.lit(width)
        for d in range(depth)])


def count_min_sketch(tokens: DataFrame, depth: int = 4,
                     width: int = 2048) -> DataFrame:
    """(depth, slot, n): the count-min sketch of the `token` column — the
    APPROXIMATE drop-in beside exact Misra-Gries `heavy_hitters` for when
    even k·partitions of candidate recount is too big (streaming ingest,
    per-shard cardinality far above k).

    The sketch IS a groupBy: every occurrence increments counter
    (d, h_d(token)) for each of `depth` universal hash rows, so the whole
    structure is one posexplode (depth rows per token) + one count
    aggregate with map-side combine — the shuffle is bounded by
    depth·width rows PER PARTITION regardless of corpus size or
    vocabulary. Order-independent by construction, hence mergeable
    across partitions/streams (sum) and deterministic under any
    partitioning — which is also why the classic conservative-update
    variant is NOT used here: its per-increment state makes the result
    depend on row order within a partition, breaking both mergeability
    and reproducible (oracle-comparable) output.

    Estimates (`cms_estimate`) satisfy est ≥ true always, and
    est − true ≤ e/width · N with probability 1 − e^(−depth) per token
    (Cormode & Muthukrishnan, J. Algorithms '05)."""
    return (tokens
            .select(F.posexplode(
                _cms_slots(F.col("token"), depth, width))
                .alias("depth", "slot"))
            .groupBy("depth", "slot")
            .agg(F.count(F.lit(1)).alias("n")))


def cms_estimate(sketch: DataFrame, probes: DataFrame, depth: int = 4,
                 width: int = 2048) -> DataFrame:
    """(token, n_cms) for each probe token: min over depth rows of the
    sketch counter at the token's slot. The sketch (≤ depth·width rows)
    broadcasts; probing never rescans the corpus."""
    slots = (probes
             .select("token",
                     F.posexplode(_cms_slots(F.col("token"), depth, width))
                     .alias("depth", "slot")))
    return (slots
            .join(F.broadcast(sketch), ["depth", "slot"], "left")
            .groupBy("token")
            .agg(F.min(F.coalesce(F.col("n"), F.lit(0)))
                 .alias("n_cms")))


def _mg_summaries(tokens: DataFrame, k: int) -> DataFrame:
    """Per-partition Misra-Gries summaries of the `token` column.

    Emits (token, mg_count, 0) for each surviving counter plus ONE
    (NULL, 0, n_p) marker row carrying the partition's token total, so
    the global N rides out of the same scan instead of needing its own.
    """
    budget = k

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        total = 0
        for pdf in batches:
            col = pdf["token"]
            total += len(col)
            for tok, c in col.value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(c)
            over = len(counters) - budget
            if over > 0:
                vals = np.fromiter(counters.values(), dtype=np.int64)
                # subtract the `over`-th smallest count from everyone:
                # >= `over` counters hit zero and drop, and each decrement
                # of m touches > budget counters, so the total undercount
                # mass stays <= n_p and any token's undercount <= n_p/(k+1)
                m = int(np.partition(vals, over - 1)[over - 1])
                counters = {t: c - m for t, c in counters.items() if c > m}
        out = pd.DataFrame({
            "token": list(counters.keys()) + [None],
            "mg_count": list(counters.values()) + [0],
            "part_total": [0] * len(counters) + [total],
        })
        yield out

    return tokens.mapInPandas(summarize, schema=_SUMMARY_SCHEMA)


def corpus_tokens(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """One lowercased whitespace token per row (empty tokens dropped) —
    the same tokenization the text-analysis oracles replay with DuckDB's
    string_split_regex(trim(lower(text)), '\\s+')."""
    return (spread(documents)
            .select(F.explode(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
                .alias("token"))
            .filter(F.col("token") != ""))


def heavy_hitters(tokens: DataFrame, min_frac: float,
                  k: int = 4096) -> DataFrame:
    """(token, n_occurrences) for every token with frequency >=
    ceil(min_frac · N), N = total tokens. Exact output, sketch-bounded
    shuffles (see module docstring). k is raised to at least
    ceil(1/min_frac): a token evicted from every summary is never a
    candidate, which is exact only while the slack N/(k+1) stays below
    min_frac · N."""
    k = max(k, math.ceil(1 / min_frac))
    summaries = _mg_summaries(tokens, k).localCheckpoint()
    totals = summaries.agg(
        F.sum("part_total").alias("n"),
        # partitions = number of marker rows; slack = Σ n_p/(k+1)
        F.floor(F.sum("part_total") / (k + 1)).alias("slack"))
    merged = (summaries.filter(F.col("token").isNotNull())
              .groupBy("token").agg(F.sum("mg_count").alias("mg")))
    cands = (
        merged.crossJoin(F.broadcast(totals))
        .filter(F.col("mg") + F.col("slack")
                >= F.ceil(F.lit(min_frac) * F.col("n")))
        .select("token")
    )
    threshold = F.ceil(F.lit(min_frac) * F.col("n"))
    return (
        tokens.join(F.broadcast(cands), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .crossJoin(F.broadcast(totals.select("n")))
        .filter(F.col("n_occurrences") >= threshold)
        .select("token", "n_occurrences")
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch (Flajolet, Fusy, Gandouet, Meunier,
# "HyperLogLog: the analysis of a near-optimal cardinality estimation
# algorithm", AofA 2007) — completes the sketch family: Misra-Gries
# (exact heavy hitters), count-min (frequencies), HLL (cardinalities).
# ---------------------------------------------------------------------------

HLL_P = 8                    #: register index bits
HLL_M = 1 << HLL_P           #: 256 registers → σ ≈ 1.04/√m ≈ 6.5%
HLL_W = 60 - HLL_P           #: rank bits left of the 60-bit md5 base
#: Flajolet et al.'s bias constant α_m for m ≥ 128
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)


def hll_sketch(tokens: DataFrame, col: str = "token",
               group_cols: tuple[str, ...] = ()) -> DataFrame:
    """(group…, register, max_rank): the HLL register table per group.

    register = low p bits of the portable 60-bit md5 hash; rank = count
    of leading zeros in the remaining w bits, plus 1 — computed
    INTEGER-EXACTLY as W + 1 − length(bin(w)) (bin() exists with
    identical semantics in Spark and DuckDB; no floating log2 whose
    boundary rounding could differ between engines). The sketch IS a
    max-aggregate, so it is order-independent, mergeable across
    partitions/streams (max), bounded by m rows per group forever, and
    maintainable by Structured Streaming as an ordinary streaming
    aggregation (`streaming/sketches.streaming_hll`).
    """
    base = md5_long(F.col(col))
    w = F.shiftright(base, HLL_P)
    rank = F.when(w == 0, F.lit(HLL_W + 1)) \
        .otherwise(F.lit(HLL_W + 1) - F.length(F.bin(w)))
    return (tokens
            .groupBy(*group_cols, (base % HLL_M).alias("register"))
            .agg(F.max(rank).cast("int").alias("max_rank")))


def hll_estimate(sketch: DataFrame,
                 group_cols: tuple[str, ...] = ()) -> DataFrame:
    """(group…, hll_estimate): the HLL cardinality estimate per group.

    The harmonic indicator Σ 2^(−M_j) is computed as the INTEGER
    Σ 2^(W+1−M_j) (empty registers contribute 2^(W+1); every term and
    the 256-term total fit a BIGINT exactly), so the only floating
    arithmetic is one literal·2^(W+1)/S division — bit-identical in any
    engine. Small-range correction (raw ≤ 2.5m with empty registers →
    linear counting m·ln(m/V)) applies ln to integers only, rounded 9 dp
    before the final 6-dp round — the repo's cross-engine ln discipline.
    """
    scale = HLL_W + 1
    g = list(group_cols)
    agg = (sketch.groupBy(*g)
           .agg(F.count(F.lit(1)).alias("__present"),
                # python shiftleft() wants a literal shift — the SQL
                # form takes a column expression
                F.sum(F.expr(
                    f"shiftleft(cast(1 as bigint), {scale} - max_rank)"))
                 .alias("__s_present")))
    s_total = (F.col("__s_present")
               + (F.lit(HLL_M) - F.col("__present"))
               * F.lit(1 << scale).cast("long"))
    v_zero = F.lit(HLL_M) - F.col("__present")
    raw = (F.lit(HLL_ALPHA * HLL_M * HLL_M) * F.lit(float(1 << scale))
           / s_total.cast("double"))
    linear = F.lit(float(HLL_M)) * F.round(
        F.log(F.lit(float(HLL_M))) - F.log(v_zero.cast("double")), 9)
    est = F.when((raw <= 2.5 * HLL_M) & (v_zero > 0), linear) \
        .otherwise(raw)
    return agg.select(*g, F.round(est, 6).alias("hll_estimate"))


def hll_sql(token_source_cte: str, group_col: str | None = None) -> str:
    """The DuckDB twin of hll_sketch→hll_estimate over a CTE named
    `toks` (columns: token [, {group_col}]) — registry entries embed it
    so the oracle replays the exact register/rank/sum pipeline."""
    scale = HLL_W + 1
    g = f"{group_col}, " if group_col else ""
    gby = f"GROUP BY {group_col}" if group_col else ""
    return f"""
WITH toks AS ({token_source_cte}),
hashed AS (
  SELECT {g}CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS base
  FROM toks),
regs AS (
  SELECT {g}base % {HLL_M} AS register,
         MAX(CASE WHEN base // {HLL_M} = 0 THEN {HLL_W + 1}
                  ELSE {HLL_W + 1} - LENGTH(bin(base // {HLL_M})) END)
           AS max_rank
  FROM hashed GROUP BY {g}register),
agg AS (
  SELECT {g}COUNT(*) AS present,
         SUM((1::BIGINT << ({scale} - max_rank))) AS s_present
  FROM regs {gby})
SELECT {g}{_hll_est_case_sql()} AS hll_estimate
FROM agg
"""


def hll_pairwise_overlap(sketch: DataFrame, group_col: str) -> DataFrame:
    """(a, b, est_a, est_b, est_union, est_overlap, jaccard) for every
    unordered group pair a < b of a grouped HLL register table
    (`hll_sketch(..., group_cols=(group_col,))` output).

    HLL union is EXACT at the sketch level: the per-register max-merge
    of two sketches equals the sketch of the union (Flajolet et al.
    2007), so est_union carries the same σ ≈ 1.04/√m as any single
    estimate; the intersection comes from inclusion-exclusion
    (est_a + est_b − est_union, clamped ≥ 0 for the Jaccard ratio) —
    the standard mixture-planning / cross-source-contamination readout
    (how much vocabulary two corpus sources share) without ever
    materializing either vocabulary.

    Scale shape: everything here is SKETCH-sized — the corpus was
    scanned once to build `sketch` (≤ m rows per group forever), and
    the pair matrix works on ≤ |groups|²·m register rows with the pair
    frame broadcast; nothing rescans or shuffles the corpus. Estimates
    are 6-dp rounded before the inclusion-exclusion arithmetic, so an
    external engine replays every value bit-for-bit."""
    est = hll_estimate(sketch, group_cols=(group_col,))
    s = sketch.select(F.col(group_col).alias("__g"),
                      "register", "max_rank")
    groups = s.select(F.col("__g")).distinct()
    pairs = (groups.select(F.col("__g").alias("a"))
             .join(groups.select(F.col("__g").alias("b")),
                   F.col("a") < F.col("b"))
             .localCheckpoint())  # tiny; feeds two register joins
    a_regs = (s.join(F.broadcast(pairs), F.col("a") == F.col("__g"))
              .select("a", "b", "register", "max_rank"))
    b_regs = (s.join(F.broadcast(pairs), F.col("b") == F.col("__g"))
              .select("a", "b", "register", "max_rank"))
    union_sketch = (a_regs.unionByName(b_regs)
                    .groupBy("a", "b", "register")
                    .agg(F.max("max_rank").alias("max_rank")))
    u = hll_estimate(union_sketch, group_cols=("a", "b")) \
        .withColumnRenamed("hll_estimate", "est_union")
    ea = est.select(F.col(group_col).alias("a"),
                    F.col("hll_estimate").alias("est_a"))
    eb = est.select(F.col(group_col).alias("b"),
                    F.col("hll_estimate").alias("est_b"))
    out = (u.join(F.broadcast(ea), "a").join(F.broadcast(eb), "b")
           .withColumn("est_overlap",
                       F.round(F.col("est_a") + F.col("est_b")
                               - F.col("est_union"), 6)))
    jac = F.round(F.greatest(F.col("est_overlap"), F.lit(0.0))
                  / F.col("est_union"), 6)
    return out.select("a", "b", "est_a", "est_b", "est_union",
                      "est_overlap", jac.alias("jaccard"))


def _hll_est_case_sql() -> str:
    """The estimate CASE over (present, s_present) columns — the SQL
    twin of `hll_estimate`'s arithmetic, shared by `hll_sql` and
    `hll_overlap_sql` so the two can never drift."""
    scale = HLL_W + 1
    raw = (f"(CAST({HLL_ALPHA * HLL_M * HLL_M!r} AS DOUBLE) "
           f"* CAST({float(1 << scale)!r} AS DOUBLE) "
           f"/ CAST(s_present + ({HLL_M} - present) "
           f"* (1::BIGINT << {scale}) AS DOUBLE))")
    return f"""CAST(ROUND(
  CASE WHEN {raw} <= {2.5 * HLL_M}
            AND ({HLL_M} - present) > 0
       THEN CAST({float(HLL_M)!r} AS DOUBLE)
            * ROUND(LN(CAST({float(HLL_M)!r} AS DOUBLE))
            - LN(CAST({HLL_M} - present AS DOUBLE)), 9)
       ELSE {raw}
  END, 6) AS DOUBLE)"""


def hll_overlap_sql(token_source_cte: str, group_col: str) -> str:
    """DuckDB twin of hll_sketch → hll_pairwise_overlap over a CTE
    named `toks` (columns: token, {group_col}) — replays the register
    build, the per-register max-merge union, and the 6-dp
    inclusion-exclusion exactly."""
    scale = HLL_W + 1
    g = group_col
    est_case = _hll_est_case_sql()
    return f"""
WITH toks AS ({token_source_cte}),
hashed AS (
  SELECT {g}, CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS base
  FROM toks),
regs AS (
  SELECT {g}, base % {HLL_M} AS register,
         MAX(CASE WHEN base // {HLL_M} = 0 THEN {HLL_W + 1}
                  ELSE {HLL_W + 1} - LENGTH(bin(base // {HLL_M})) END)
           AS max_rank
  FROM hashed GROUP BY {g}, register),
gs AS (SELECT DISTINCT {g} FROM regs),
pairs AS (SELECT ga.{g} AS a, gb.{g} AS b
          FROM gs ga JOIN gs gb ON ga.{g} < gb.{g}),
single_agg AS (
  SELECT {g}, COUNT(*) AS present,
         SUM((1::BIGINT << ({scale} - max_rank))) AS s_present
  FROM regs GROUP BY {g}),
single_est AS (SELECT {g}, {est_case} AS est FROM single_agg),
uregs AS (
  SELECT p.a, p.b, r.register, MAX(r.max_rank) AS max_rank
  FROM pairs p JOIN regs r ON r.{g} = p.a OR r.{g} = p.b
  GROUP BY 1, 2, 3),
u_agg AS (
  SELECT a, b, COUNT(*) AS present,
         SUM((1::BIGINT << ({scale} - max_rank))) AS s_present
  FROM uregs GROUP BY a, b),
u_est AS (SELECT a, b, {est_case} AS est_union FROM u_agg)
SELECT u.a, u.b, ea.est AS est_a, eb.est AS est_b, u.est_union,
       CAST(ROUND(ea.est + eb.est - u.est_union, 6) AS DOUBLE)
         AS est_overlap,
       CAST(ROUND(GREATEST(
              CAST(ROUND(ea.est + eb.est - u.est_union, 6) AS DOUBLE),
              0.0) / u.est_union, 6) AS DOUBLE) AS jaccard
FROM u_est u
JOIN single_est ea ON ea.{g} = u.a
JOIN single_est eb ON eb.{g} = u.b
"""


# ---------------------------------------------------------------------------
# HDR-histogram quantile sketch (Gil Tene's High Dynamic Range histogram;
# same log-bucket idea as DDSketch, Masson/Rim/Lee VLDB'19 — but the bucket
# boundary is INTEGER-EXACT: keep the top HDR_SUB_BITS+1 significant bits,
# zero the rest, no floating log whose boundary rounding could differ
# between engines). Completes the sketch family: Misra-Gries (heavy
# hitters), count-min (frequencies), HLL (cardinalities), HDR (quantiles).
# ---------------------------------------------------------------------------

HDR_SUB_BITS = 4  #: significand bits kept → relative error < 2⁻⁴ = 6.25%


def hdr_bucket_expr(int_col: str, sub_bits: int = HDR_SUB_BITS) -> Column:
    """Bucket LOWER BOUND of a non-negative integer column: the value
    with all but its top sub_bits+1 significant bits zeroed —
    `(c >> s) << s`, s = max(bit_length(c) − (sub_bits+1), 0).

    Distinct buckets have distinct lower bounds that sort in value
    order, so the bound doubles as the sortable bucket key AND the
    quantile estimate: for any member v of the bucket,
    bound ≤ v < bound·(1 + 2^−sub_bits) (exact when bit_length ≤
    sub_bits+1). bit_length = length(bin(c)) — bin() has identical
    semantics in Spark and DuckDB, which is what makes the whole sketch
    oracle-replayable. Negative inputs fail LOUDLY (bin() of a negative
    is its 64-bit two's complement, which would silently collapse every
    negative into one −2^59 bucket) — mirror signs around zero first."""
    s = f"greatest(length(bin({int_col})) - {sub_bits + 1}, 0)"
    return F.expr(
        f"CASE WHEN {int_col} < 0 THEN raise_error("
        f"'hdr_bucket_expr: negative value in {int_col} — mirror signs "
        f"around zero first') "
        f"ELSE shiftleft(shiftright({int_col}, {s}), {s}) END")


def hdr_sketch(rows: DataFrame, int_col: str,
               group_cols: tuple[str, ...] = (),
               sub_bits: int = HDR_SUB_BITS) -> DataFrame:
    """(group…, bucket, n): the HDR histogram per group — a plain
    groupBy-count over ≤ (64−sub_bits)·2^sub_bits buckets per group
    forever, so it is order-independent, mergeable by ADDITION across
    partitions/shards/streams, and maintainable by Structured Streaming
    as an ordinary streaming aggregation (`streaming_hdr`)."""
    return (rows
            .groupBy(*group_cols,
                     hdr_bucket_expr(int_col, sub_bits).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n")))


def hdr_quantiles(sketch: DataFrame, qs: tuple[float, ...],
                  group_cols: tuple[str, ...] = ()) -> DataFrame:
    """(group…, n, p<q>…) quantile estimates from an HDR sketch: the
    smallest bucket whose cumulative count reaches rank ceil(q·N). The
    estimate is the bucket lower bound — a deterministic ≤ 2^−sub_bits
    relative underestimate of the true rank-q value. The window runs
    over the SKETCH (bounded rows per group), never the raw data.

    Rank math is integer-exact: q is scaled to q₄ = round(q·10⁴) and the
    reach test is 10⁴·cum ≥ q₄·N in BIGINT — equivalent to cum ≥ ⌈q·N⌉
    for integer cum, but with no binary-double boundary (CEIL(0.9*N) in
    a float engine can disagree with a DECIMAL engine at exact-multiple
    N). q must have ≤ 4 decimal digits."""
    from pyspark.sql import Window

    w = (Window.partitionBy(*[F.col(g) for g in group_cols])
         .orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = sketch.withColumn("__cum", F.sum("n").over(w))
    # per-group N via an unbounded frame over the same (tiny) sketch —
    # rank ceil(q·N) then selects the smallest bucket reaching it
    wN = (Window.partitionBy(*[F.col(g) for g in group_cols])
          .rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing))
    cum = cum.withColumn("__N", F.sum("n").over(wN))
    for q in qs:
        assert abs(q * 10000 - round(q * 10000)) < 1e-9, \
            f"quantile {q} needs more than 4 decimal digits"
    sel = [F.min(F.when(
               F.col("__cum") * F.lit(10000)
               >= F.lit(int(round(q * 10000))) * F.col("__N"),
               F.col("bucket"))).alias(f"p{int(round(q * 100))}")
           for q in qs]
    return (cum.groupBy(*group_cols)
            .agg(F.max("__N").cast("long").alias("n"), *sel))


# ---------------------------------------------------------------------------
# Bloom filter (Bloom, CACM 1970) — the set-membership sketch: build a
# bounded bitmap over a key set, then test membership map-side with NO
# join against the key set itself. False positives only (rate set by
# bits-per-key), never false negatives — which is exactly the contract
# decontamination pruning needs: a doc that shares an n-gram with the
# benchmark is ALWAYS flagged; a few clean docs flagged spuriously just
# ride along to the exact verify (or are cheap over-removal).
# ---------------------------------------------------------------------------

#: bits per bitmap word. 32 keeps the max mask shift at bit 31, clear of
#: the 1<<63 two's-complement trap in engines that raise. The DuckDB
#: oracle twins (`queries/text._bloom_sql`) embed the 32/shift-5 layout
#: as literals — change it here and there together.
BLOOM_WORD_BITS = 32
_BLOOM_WORD_SHIFT = BLOOM_WORD_BITS.bit_length() - 1  # log2(32) = 5


def _bloom_positions(key: Column, num_bits: int, k: int) -> Column:
    """array<long> of k bit positions: universal rehashes of the portable
    60-bit md5 base (same coefficient pool as MinHash — one digest per
    key, k arithmetic rehashes)."""
    base = md5_long(key) % F.lit(HASH_P)
    return F.array(*[
        ((F.lit(MINHASH_A[i]) * base + F.lit(MINHASH_B[i])) % F.lit(HASH_P))
        % F.lit(num_bits)
        for i in range(k)])


def _bloom_mask(pos_col: str) -> Column:
    """1 << (position within its word), as a BIGINT — bit index ≤ 31."""
    return F.expr(f"shiftleft(cast(1 as bigint), "
                  f"cast({pos_col} % {BLOOM_WORD_BITS} as int))")


def bloom_build(keys: DataFrame, key_col: str, num_bits: int = 1 << 21,
                k: int = 4) -> DataFrame:
    """(word, bits): the Bloom bitmap of `keys` as ≤ num_bits/32 rows —
    a pure bit_or aggregate, so the build is one scan with map-side
    combine, mergeable across shards/streams by further bit_or. Default
    2^21 bits ≈ 256 KiB: broadcastable at any benchmark size that fits
    an eval suite. Per-probe FP ≈ (1−e^(−k/bpk))^k: at 30 bits/key and
    k=4 that is ≈ 2.4e-4; reaching ≲ 2e-5 needs ≈ 64 bits/key (or a
    larger k tuned to the ratio, k* = bpk·ln2).

    The build parameters ride along as schema metadata on `bits`
    (StructField metadata survives checkpoints and parquet round-trips),
    so a probe against a mismatched bitmap fails loudly at plan time
    instead of silently returning false negatives — see
    `_bloom_check_meta`."""
    pos = keys.select(
        F.explode(_bloom_positions(F.col(key_col), num_bits, k)).alias("p"))
    return (pos
            .groupBy(F.shiftright(F.col("p"), _BLOOM_WORD_SHIFT)
                     .alias("word"))
            .agg(F.bit_or(_bloom_mask("p"))
                 .alias("bits",
                        metadata={"bloom_num_bits": num_bits,
                                  "bloom_k": k})))


def _bloom_check_meta(bloom: DataFrame, **expect: int) -> None:
    """Assert that the probe-side Bloom parameters match the build-side
    metadata stamped by `bloom_build` (and enriched by wrappers such as
    `sampling.benchmark_shingle_bloom`, which adds `bloom_shingle_n`).
    A hand-built (word, bits) frame without metadata passes untouched —
    the check only protects artifacts that carry their provenance."""
    meta = bloom.schema["bits"].metadata or {}
    bad = {key: (meta[key], want) for key, want in expect.items()
           if key in meta and meta[key] != want}
    if bad:
        detail = ", ".join(f"{key}: artifact has {have}, probe wants "
                           f"{want}" for key, (have, want) in bad.items())
        raise ValueError(
            f"Bloom artifact/probe parameter mismatch ({detail}) — "
            f"probing with different parameters than the build silently "
            f"voids the no-false-negative guarantee")


def bloom_may_contain(probes: DataFrame, bloom: DataFrame, key_col: str,
                      num_bits: int = 1 << 21, k: int = 4) -> DataFrame:
    """The rows of `probes` whose `key_col` is POSSIBLY in the bloomed
    set (all k bits set) — false positives possible, false negatives
    impossible. Implemented as k successive broadcast word-lookups ANDed
    into one filter: no explode, no regroup, so the probe side is
    GENUINELY one map-side pass (zero probe-row shuffle) and duplicate
    probe rows are preserved verbatim. `num_bits`/`k` must match the
    build — enforced against the artifact's schema metadata when
    present (`_bloom_check_meta`)."""
    _bloom_check_meta(bloom, bloom_num_bits=num_bits, bloom_k=k)

    # materialize the bitmap ONCE: Catalyst re-expands an un-materialized
    # build subtree under each of the k broadcast joins (k redundant
    # benchmark scans); the frame is ≤ num_bits/32 rows, checkpoint-cheap
    bloom = bloom.localCheckpoint()
    out = probes.withColumn(
        "__bloom_base", md5_long(F.col(key_col)) % F.lit(HASH_P))
    cond = F.lit(True)
    for i in range(k):
        pos = ((F.lit(MINHASH_A[i]) * F.col("__bloom_base")
                + F.lit(MINHASH_B[i])) % F.lit(HASH_P)) % F.lit(num_bits)
        out = out.withColumn(f"__bp{i}", pos)
        side = F.broadcast(bloom.select(
            F.col("word").alias(f"__bw{i}"),
            F.col("bits").alias(f"__bb{i}")))
        out = out.join(
            side,
            F.shiftright(F.col(f"__bp{i}"), _BLOOM_WORD_SHIFT)
            == F.col(f"__bw{i}"), "left")
        mask = _bloom_mask(f"__bp{i}")
        cond = cond & F.col(f"__bb{i}").isNotNull() \
            & (F.col(f"__bb{i}").bitwiseAND(mask) == mask)
    return out.filter(cond).select(*probes.columns)
