"""Deterministic sampling, splitting, and decontamination for training-data
curation (beyond-reference, per the build brief).

Everything keys off the engine-portable 60-bit md5 hash
(`dedup.md5_long`), NOT `rand()`: random sampling is partition-layout
dependent (a repartition changes the sample), while hash-of-key sampling
is a pure per-row projection — reproducible across engines, runs, and
cluster sizes, re-runnable on late-arriving data without resampling the
world. That property is what makes these usable in a 100 TB pipeline:

- split/sample are map-side only (zero shuffle on the big side; the
  filter pushes to the scan's data filters),
- the n-gram decontamination check broadcasts the benchmark's shingle
  set against the streamed training corpus — the standard
  "remove any training doc sharing an n-gram with the eval set"
  pass (the GPT-3/LLaMA decontamination recipe), with the corpus side
  never shuffled until the tiny per-doc hit count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .dedup import md5_long, word_shingles
from .util import spread

# Measured-count gate for dimension-sized frames this module sorts in
# one task and broadcasts (matches graphs.superstep._BROADCAST_STATE_ROWS).
_CATALOG_MAX_ROWS = 5_000_000

#: hash-space denominator for rate thresholds — rates are exact to 1e-6
SAMPLE_BUCKETS = 1_000_000


def hash_bucket(key: Column) -> Column:
    """Uniform bucket in [0, SAMPLE_BUCKETS) from the portable md5 hash of
    the key's string form. DuckDB twin:
    CAST(('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000.
    """
    return md5_long(key.cast("string")) % F.lit(SAMPLE_BUCKETS)


def assign_split(df: DataFrame, key_col: str = "doc_id",
                 weights: tuple[tuple[str, float], ...] = (
                     ("train", 0.8), ("val", 0.1), ("test", 0.1)),
                 ) -> DataFrame:
    """Add a deterministic `split` column partitioning rows by weight.

    Cumulative-threshold assignment over the hash bucket: a row's split
    never changes when data is added, removed, or repartitioned — the
    invariant a train/val/test split must hold across pipeline re-runs.
    """
    total = sum(w for _, w in weights)
    b = hash_bucket(F.col(key_col))
    expr = None
    cum = 0.0
    for name, w in weights[:-1]:
        cum += w / total
        cond = b < F.lit(int(round(cum * SAMPLE_BUCKETS)))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = weights[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def stratified_sample(df: DataFrame, fractions: dict[str, float],
                      strata_col: str = "source",
                      default_fraction: float = 0.0,
                      key_col: str = "doc_id") -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff its hash bucket
    falls under its stratum's rate — the domain-mixing primitive (e.g.
    up-sample curated sources, down-sample crawl) expressed as one
    map-side filter with no shuffle and no RNG state.
    """
    rate = None
    # sort on str(key): a NULL stratum (None key, e.g. from a groupBy over
    # data with missing sources) must not crash the driver-side ordering
    for stratum, frac in sorted(fractions.items(), key=lambda kv: str(kv[0])):
        thr = F.lit(int(round(frac * SAMPLE_BUCKETS)))
        cond = (F.col(strata_col).isNull() if stratum is None
                else F.col(strata_col) == stratum)
        rate = F.when(cond, thr) if rate is None else rate.when(cond, thr)
    default_thr = F.lit(int(round(default_fraction * SAMPLE_BUCKETS)))
    rate = default_thr if rate is None else rate.otherwise(default_thr)
    return df.filter(hash_bucket(F.col(key_col)) < rate)


def mixture_plan(df: DataFrame, targets: dict[str, float],
                 sample_frac: float, strata_col: str = "source") -> DataFrame:
    """(source, n_docs, target_docs, rate): the domain-mixture plan — how
    hard to sample each stratum so the output approximates the target
    mixture `targets` within a total budget of `sample_frac · |df|` rows.

    target_docs = ⌊budget · w_s⌋ (w_s = 0 for unlisted strata);
    rate = min(1, target_docs / n_docs) — a stratum smaller than its
    target saturates at rate 1 (capped, not re-normalized, so the plan is
    a pure per-stratum expression both engines compute identically).
    Weights and the budget fraction are quantized to 6dp DECIMALs so the
    ⌊·⌋ boundary is exact — double literals can land an ulp below an
    integer and floor one short in one engine but not the other.

    Plan shape: one groupBy on the stratum key, a 1-row grand total
    broadcast back — no window over the full data, no second scan. Feed
    the rates to `stratified_sample` (see `apply_mixture_plan`) for the
    map-side filter that realizes the mix.
    """
    def _dec(x: float):
        return F.lit(f"{x:.6f}").cast("decimal(12,6)")

    w = None
    for stratum, weight in sorted(targets.items()):
        cond = F.col(strata_col) == stratum
        w = F.when(cond, _dec(weight)) if w is None \
            else w.when(cond, _dec(weight))
    w = _dec(0.0) if w is None else w.otherwise(_dec(0.0))
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("total"))
    return (counts.crossJoin(F.broadcast(total))
            .select(strata_col, "n_docs",
                    F.floor(_dec(sample_frac) * F.col("total") * w)
                     .cast("long").alias("target_docs"))
            .withColumn("rate", F.round(
                F.least(F.lit(1.0),
                        F.col("target_docs").cast("double")
                        / F.col("n_docs")), 6)))


def temperature_mixture_plan(df: DataFrame, alpha: float = 0.5,
                             sample_frac: float = 0.1,
                             strata_col: str = "source",
                             tokens_col: str = "ws_tokens") -> DataFrame:
    """(source, token_mass, weight, target_tokens, rate): the
    temperature-sampling mixture — weights ∝ mass^α instead of fixed
    targets, the standard multilingual/multi-domain recipe (α < 1
    upweights small domains; mBERT/XLM-R exponent smoothing, LLaMA's
    domain sampling) budgeted over TOKEN mass, not doc counts.

    Cross-engine exactness: mass^0.5 is IEEE sqrt (correctly rounded,
    bit-identical everywhere); each sqrt is rounded to 6 dp and summed
    as DECIMAL (order-free), so the normalizing total is exact; the
    weight division and the target product run in doubles with the
    SAME operation order as the oracle SQL — identical IEEE sequences
    give identical results even at floor boundaries. α is fixed at 0.5
    because general pow() is NOT cross-engine reproducible — other
    exponents would need a documented tolerance instead of a
    hash-exact oracle.

    Plan shape: one stratum aggregate + a 1-row broadcast total, same
    as `mixture_plan`. Feed rate to `stratified_sample` to realize it.
    """
    if alpha != 0.5:
        raise ValueError("only alpha=0.5 is engine-exact (IEEE sqrt); "
                         "general pow() drifts across engines")
    mass = df.groupBy(strata_col).agg(
        F.sum(tokens_col).cast("long").alias("token_mass"))
    s6 = F.round(F.sqrt(F.col("token_mass").cast("double")), 6) \
        .cast("decimal(24,6)")
    with_s = mass.withColumn("__s6", s6)
    total = with_s.agg(F.sum("__s6").alias("__tot"),
                       F.sum("token_mass").alias("__mass_tot"))
    weight = F.round(F.col("__s6").cast("double")
                     / F.col("__tot").cast("double"), 6)
    # (frac * mass_tot) * weight, left-associated in doubles — the
    # oracle spells the identical order, so the floor boundary agrees
    target = F.floor((F.lit(float(sample_frac))
                      * F.col("__mass_tot").cast("double"))
                     * F.col("weight")).cast("long")
    return (with_s.crossJoin(F.broadcast(total))
            .withColumn("weight", weight)
            .select(strata_col, "token_mass", "weight",
                    target.alias("target_tokens"))
            .withColumn("rate", F.when(F.col("token_mass") > 0, F.round(
                F.least(F.lit(1.0),
                        F.col("target_tokens").cast("double")
                        / F.col("token_mass")), 6))
                # a stratum whose rows carry zero tokens has a 0-token
                # budget: rate 0, NOT the 1.0 that least() would produce
                # by skipping the NULL 0/0 division
                .otherwise(F.lit(0.0))))


def apply_mixture_plan(df: DataFrame, plan: DataFrame,
                       strata_col: str = "source",
                       key_col: str = "doc_id") -> DataFrame:
    """Realize a `mixture_plan` as a deterministic stratified sample. The
    plan is one row per stratum — a bounded driver-side collect (the same
    small-dimension pattern as the IVF centroid fetch), turned into the
    map-side hash filter `stratified_sample` applies."""
    rates = {r[strata_col]: float(r["rate"]) for r in plan.collect()}
    return stratified_sample(df, rates, strata_col=strata_col,
                             default_fraction=0.0, key_col=key_col)


def _contamination_shingles(train: DataFrame, benchmark: DataFrame,
                            n: int, text_col: str
                            ) -> tuple[DataFrame, DataFrame]:
    """((doc_id, shingle) train side, (shingle) distinct bench side) —
    the SHARED shingle prep of `ngram_contamination` and
    `bloom_contamination`: the two paths must stay shingle-for-shingle
    identical or the Bloom superset guarantee (flagged ⊇ exact) breaks.
    spread(): a small parquet scans as ONE partition and shingling is
    CPU-bound — repartition the narrow input to full parallelism first
    (same guard as dedup._doc_shingles)."""
    bench_shingles = (
        benchmark
        .select(F.explode(word_shingles(F.col(text_col), n)).alias("shingle"))
        .distinct()
    )
    train_shingles = (
        spread(train)
        .select("doc_id",
                F.explode(word_shingles(F.col(text_col), n)).alias("shingle"))
    )
    return train_shingles, bench_shingles


def ngram_contamination(train: DataFrame, benchmark: DataFrame,
                        n: int = 5, text_col: str = "text") -> DataFrame:
    """(doc_id, n_shared): training docs sharing ≥1 word n-gram with the
    benchmark corpus, with the count of distinct shared n-grams.

    The benchmark side (eval sets — tiny by definition) collapses to a
    distinct shingle set and BROADCASTS; the training corpus explodes to
    (doc_id, shingle) and inner-joins it map-side, so the 100 TB side is
    scanned once with no shuffle before the per-doc count. Docs with
    n_shared > 0 are the contamination-removal candidates.
    """
    train_shingles, bench_shingles = _contamination_shingles(
        train, benchmark, n, text_col)
    return (
        train_shingles
        .join(F.broadcast(bench_shingles), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def negative_samples(positives: DataFrame, catalog: DataFrame,
                     k: int = 3,
                     user_col: str = "customer_id",
                     item_col: str = "product_id") -> DataFrame:
    """(user, item, draw): k deterministic negative examples per user —
    the contrastive/recommender training-data primitive (BPR, word2vec
    negative sampling, two-tower recsys all start here).

    Draw i for a user picks the catalog item at dense position
    md5(user:'#':i) mod |catalog| — pure hash math, so the sample is
    REPRODUCIBLE under any partitioning and an external engine replays
    it exactly (`rand()` would re-deal per layout). Draws that collide
    with the user's own positives are DROPPED, not re-drawn (the
    standard uniform-sampling contract: expected loss per draw is
    |user positives| / |catalog|, negligible against a real catalog;
    rejection loops would make the output depend on iteration order).

    Scale shape: the catalog is a dimension — its row_number window is
    one dimension-sized sort, broadcast into the draw join; the draws
    frame is |users|·k rows built by a row-local sequence explode; the
    positive-collision anti-join shuffles on the (user, item) key.
    Nothing corpus-sized sorts or collects. The dimension assumption is
    ENFORCED: the ranked catalog is a single-task global sort and then a
    broadcast, so a fact-sized `catalog` must fail loudly here rather
    than hang one task / OOM the driver (same measured-count gate as the
    PageRank state broadcast)."""
    n = catalog.count()
    if n > _CATALOG_MAX_ROWS:
        raise ValueError(
            f"negative_samples: catalog has {n} rows > "
            f"{_CATALOG_MAX_ROWS} — it must be a dimension table (the "
            "row_number window is a single-task sort and the ranked "
            "frame is broadcast). Pre-aggregate or sample the catalog.")
    from pyspark.sql import Window

    ranked = catalog.select(
        F.col(item_col),
        (F.row_number().over(Window.orderBy(item_col)) - 1).alias("__pos"))
    users = positives.select(user_col).distinct()
    draws = (users
             .select(user_col,
                     F.explode(F.sequence(F.lit(1), F.lit(k)))
                     .alias("draw"))
             .withColumn(
                 "__pos",
                 md5_long(F.concat_ws("#", F.col(user_col).cast("string"),
                                      F.col("draw").cast("string")))
                 % F.lit(n)))
    return (draws.join(F.broadcast(ranked), "__pos")
            .join(positives.select(user_col, item_col).distinct(),
                  [user_col, item_col], "left_anti")
            .select(user_col, item_col, F.col("draw").cast("int")))


def bloom_pruned_contamination(train: DataFrame, benchmark: DataFrame,
                               n: int = 5, num_bits: int = 1 << 21,
                               k: int = 4, text_col: str = "text",
                               bloom: DataFrame | None = None
                               ) -> DataFrame:
    """(doc_id, n_shared): EXACTLY `ngram_contamination`'s answer, but
    the training side probes a Bloom bitmap of the benchmark shingles
    FIRST — no false negatives means the Bloom survivors are a superset
    of the true hits, and the exact benchmark-set join then touches only
    those survivors. At 100 TB the full corpus pays one fixed-size
    (≤ 256 KiB) bitmap broadcast map-side; the exact shingle broadcast
    join runs on the (tiny) pruned candidate set instead of every
    corpus shingle.

    `bloom` is the precomputed `sketches.bloom_build` artifact of the
    benchmark's n-shingles (the third standing-corpus artifact in
    `streaming/pipeline`, alongside the hash set and MinHash index) —
    built here when absent. num_bits/k/n must match the build: the
    artifact carries them as schema metadata (`benchmark_shingle_bloom`
    stamps `bloom_shingle_n`; `bloom_build` stamps num_bits/k) and a
    mismatched probe raises at plan time — probing n=5 shingles against
    an n=4 bitmap would otherwise silently produce false negatives,
    voiding the exactness guarantee."""
    from .sketches import _bloom_check_meta, bloom_build, bloom_may_contain

    train_shingles, bench_shingles = _contamination_shingles(
        train, benchmark, n, text_col)
    if bloom is None:
        bloom = bloom_build(bench_shingles, "shingle", num_bits, k)
    _bloom_check_meta(bloom, bloom_shingle_n=n)
    survivors = bloom_may_contain(train_shingles, bloom, "shingle",
                                  num_bits, k)
    return (survivors
            .join(F.broadcast(bench_shingles), "shingle")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shared")))


def benchmark_shingle_bloom(benchmark: DataFrame, n: int = 4,
                            num_bits: int = 1 << 21, k: int = 4,
                            text_col: str = "text") -> DataFrame:
    """The (word, bits) Bloom bitmap of the benchmark's word n-shingles
    — the decontamination artifact a standing corpus precomputes once
    per benchmark refresh (default n matches `curate_documents`'s
    contamination_ngram=4; it must equal the n probed against it —
    enforced: the shingle width is stamped into the artifact's schema
    metadata and `bloom_pruned_contamination` refuses a mismatched
    probe, so the n=4-build/n=5-probe default-collision trap fails
    loudly instead of silently missing contamination)."""
    from .sketches import bloom_build

    bench_shingles = (
        benchmark
        .select(F.explode(word_shingles(F.col(text_col), n))
                .alias("shingle"))
        .distinct())
    bloom = bloom_build(bench_shingles, "shingle", num_bits, k)
    meta = dict(bloom.schema["bits"].metadata or {})
    meta["bloom_shingle_n"] = n
    return bloom.select("word", F.col("bits").alias("bits", metadata=meta))


def quality_weighted_sample(df: DataFrame, quality_col: str = "quality",
                            base_rate: float = 1.0,
                            key_col: str = "doc_id") -> DataFrame:
    """Keep each row with probability `base_rate · quality` — the
    quality-weighted curation sampler (high-quality docs oversampled,
    low-quality docs thinned, nothing discarded by a hard cutoff) — as a
    DETERMINISTIC hash threshold, not an RNG draw.

    The per-row threshold goes through DECIMAL(14,6) multiplication of
    the 6dp quality by the 6dp base rate (exact, engine-portable floor
    boundary); the filter stays a map-side projection, zero shuffle.
    """
    thr = F.floor(
        F.col(quality_col).cast("decimal(8,6)")
        * F.lit(f"{base_rate:.6f}").cast("decimal(12,6)")
        * F.lit(SAMPLE_BUCKETS)).cast("long")
    return df.filter(hash_bucket(F.col(key_col)) < thr)


def shard_by_token_budget(df: DataFrame, budget: int,
                          tokens_col: str = "ws_tokens",
                          strata_col: str = "source",
                          key_col: str = "doc_id") -> DataFrame:
    """(key, stratum, shard): pack documents into training shards of
    ~`budget` tokens each, per stratum — the corpus-sharding step before
    tokenization, so every output file feeds the trainer a near-uniform
    token count.

    Greedy prefix packing over a DETERMINISTIC order (hash of the key,
    then the key): shard = ⌊exclusive-prefix-sum / budget⌋. The window
    partitions on the stratum key, so each stratum's cumulative sum runs
    independently — no global single-partition window at 100 TB (shard
    within finer strata, e.g. source × split, when one stratum dominates).
    """
    from pyspark.sql import Window

    w = (Window.partitionBy(strata_col)
         .orderBy(hash_bucket(F.col(key_col)), F.col(key_col))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = F.sum(tokens_col).over(w)
    shard = F.floor((cum - F.col(tokens_col)).cast("double")
                    / F.lit(budget)).cast("long")
    return df.select(key_col, strata_col, tokens_col,
                     shard.alias("shard"))


def pack_sequences(df: DataFrame, budget: int,
                   tokens_col: str = "ws_tokens",
                   strata_col: str = "source",
                   key_col: str = "doc_id") -> DataFrame:
    """(key, stratum, tokens, shard, seq_pos, start_offset): sequence
    packing — `shard_by_token_budget`'s shard assignment plus each
    document's position and starting token offset WITHIN its shard, i.e.
    exactly what a trainer needs to concatenate documents into
    fixed-length sequences with correct attention boundaries.

    Two windows: the per-stratum prefix sum that assigns shards, then a
    per-(stratum, shard) prefix sum for in-shard offsets. The second
    repartitions on the finer (stratum, shard) key — strictly more
    parallel than the first, so the packing step never concentrates a
    stratum on one task the way a naive global pack would.
    """
    from pyspark.sql import Window

    order = (hash_bucket(F.col(key_col)), F.col(key_col))
    # stage 1 IS shard_by_token_budget — reuse it so the packing layout
    # can never drift from the shard assignment it annotates
    with_shard = shard_by_token_budget(df, budget, tokens_col,
                                       strata_col, key_col)
    w2 = (Window.partitionBy(strata_col, "shard").orderBy(*order)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return with_shard.select(
        key_col, strata_col, tokens_col, "shard",
        F.row_number().over(
            Window.partitionBy(strata_col, "shard").orderBy(*order))
         .cast("int").alias("seq_pos"),
        (F.sum(tokens_col).over(w2) - F.col(tokens_col)).cast("long")
         .alias("start_offset"))


def stratified_exact_n(df: DataFrame, n_per_stratum: int,
                       strata_col: str = "source",
                       key_col: str = "doc_id") -> DataFrame:
    """Exactly min(n, |stratum|) rows per stratum, deterministically —
    the eval-set builder (fraction-based sampling yields a BINOMIAL
    count; an eval set needs exactly n per domain, reproducibly).

    Rows rank by the portable md5 hash of their key (a stable "random"
    order no reshuffle can change; key ties broken by the key itself),
    and each stratum keeps its first n. The rank window partitions by
    stratum — per-stratum state, never a global sort. A stratum far
    hotter than the rest serializes its own sort only; for pathological
    hot strata pre-filter with `stratified_sample` at a few × n/|stratum|
    to shrink the window input, then take exact-n here.
    """
    from pyspark.sql import Window

    h = md5_long(F.col(key_col).cast("string"))
    w = (Window.partitionBy(strata_col)
         .orderBy(h.asc(), F.col(key_col).asc()))
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= n_per_stratum)
            .drop("__rn"))


#: round(53·ln2, 9) — shared literal with the SQL oracle (transcendental
#: constants enter both engines as the same decimal, never recomputed).
_LN2_53 = 36.73680057


def weighted_exact_n(df: DataFrame, n_per_stratum: int,
                     weight_col: str,
                     strata_col: str = "source",
                     key_col: str = "doc_id") -> DataFrame:
    """Exactly min(n, |stratum|) rows per stratum, sampled WITHOUT
    replacement with probability proportional to `weight_col` —
    Efraimidis–Spirakis A-ES reservoir keys (Inf. Process. Lett. '06):
    rank by u^(1/w) descending, u uniform per row. Completes the
    sampling battery between `stratified_exact_n` (uniform, exact n) and
    `quality_weighted_sample` (weighted, binomial n).

    Determinism: u derives from the portable md5 hash of the key
    (u = (2·(h mod 2⁵²)+1)/2⁵³, integers exact in a double), and the
    ranking uses ln(u)/w — monotone in u^(1/w) since ln is increasing
    and the sort handles the negative scale. The single transcendental,
    ln(odd integer), is rounded to 9 dp (the repo convention), so the
    oracle replays the exact ranking; ties break on the key column.
    Per-stratum window, never a global sort — same scale posture as
    stratified_exact_n."""
    from pyspark.sql import Window

    h = md5_long(F.col(key_col).cast("string")) % F.lit(4503599627370496)
    lnu = F.round(F.log(2 * h + 1), 9) - F.lit(_LN2_53)
    key = lnu / F.col(weight_col)
    w = (Window.partitionBy(strata_col)
         .orderBy(key.desc(), F.col(key_col).asc()))
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= n_per_stratum)
            .drop("__rn"))


def bloom_contamination(train: DataFrame, benchmark: DataFrame,
                        n: int = 5, num_bits: int = 1 << 21, k: int = 4,
                        text_col: str = "text") -> DataFrame:
    """(doc_id, n_flagged): `ngram_contamination`'s Bloom-pruned scale
    path — the benchmark shingle set collapses to a fixed-size bitmap
    (`sketches.bloom_build`, ≤ 256 KiB at the default 2^21 bits)
    instead of a broadcast of every distinct eval n-gram, so the
    broadcast stays bounded no matter how many benchmarks accumulate.

    GUARANTEE (for the SAME n on both sides — the default matches
    `ngram_contamination`'s n=5; mixing shingle widths voids it):
    flagged docs are a SUPERSET of exactly-contaminated docs and
    n_flagged ≥ n_shared per doc (Bloom filters have no false
    negatives); the FP surplus is bounded by the bits-per-key ratio
    (≈2.4e-4 per probe at 30 bits/key, k=4). At 100 TB: drop flagged docs
    directly (cheap over-removal), or run the exact broadcast join only
    on flagged docs as a verify — either way the full corpus pays one
    map-side pass, zero shuffle before the per-doc count."""
    from .sketches import bloom_build, bloom_may_contain

    train_shingles, bench_shingles = _contamination_shingles(
        train, benchmark, n, text_col)
    bloom = bloom_build(bench_shingles, "shingle", num_bits, k)
    return (bloom_may_contain(train_shingles, bloom, "shingle",
                              num_bits, k)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_flagged")))
