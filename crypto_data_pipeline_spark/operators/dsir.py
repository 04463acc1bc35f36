"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling",
NeurIPS) re-expressed Spark-first.

The selection move every LLM corpus build needs once a high-quality
target exists (a reference corpus, a curated domain): estimate
importance weights p_target(x)/p_source(x) in a HASHED n-gram feature
space — cheap enough to score petabytes — then resample the raw corpus
toward the target distribution.

Scale shape, by construction:
- The feature space is ``n_buckets`` hashed unigram+bigram buckets —
  the model is bounded by CONFIG like the BPE merge table, NOT by
  vocabulary (the round-8 lesson: Heaps-law structures need pruning
  knobs; a hash-bucketed model needs none).
- Fitting is one groupBy per corpus over (bucket) — n_buckets cells of
  partial aggregation, map-side combinable, never a pairwise anything.
- Scoring is one join of per-doc features against the n_buckets-row
  log-ratio model — broadcastable at any corpus size because the model
  size is a parameter — then a doc-keyed sum.
- Selection has two paths: `dsir_resample_quantile` (the DEFAULT and
  the scale path) derives the exact k-th-largest weight by bounded
  integer-histogram refinement — a handful of map-side-combinable
  aggregates whose driver traffic is ≤ n_bins histogram rows per
  round, never doc rows, never a global sort — and keeps
  ``weight >= cutoff``; `dsir_resample` is its deterministic exact
  top-k twin (global rank with doc-id tiebreak), kept for driver-SF
  oracle checks where a total order is the contract.

Portability: buckets come from the same polynomial character hash
(h·131 + codepoint) mod 2^31-1 the portable MinHash tier proves
engine-identical (operators/dedup.py:277), so the ENTIRE pipeline —
features, fit, weights, selection — hash-checks against a DuckDB twin.
Weights are order-insensitive to 1e-13 (sums of ≤ hundreds of O(1) log
ratios), rounded 6 dp on both engines (the quality_unigram_logprob
device).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from crypto_data_pipeline_spark.operators.dedup import PORTABLE_MOD, _poly_fold
from crypto_data_pipeline_spark.operators.text import tokens


def _gram_hash(g: Column) -> Column:
    """Portable polynomial hash of one n-gram string."""
    return _poly_fold(F.transform(F.split(g, ""), F.ascii))


def dsir_features(
    df: DataFrame, id_col: str = "doc_id", text: str = "text", n_buckets: int = 4096
) -> DataFrame:
    """(id, bucket, cnt): hashed word-unigram + word-bigram counts.
    Two staging projections (tokens, then grams) so neither array
    re-evaluates inside a downstream lambda; the explode carries only
    (id, bucket) — grams never shuffle as strings."""
    staged = df.select(F.col(id_col).alias("id"), tokens(text).alias("_tk"))
    bigrams = F.when(
        F.size("_tk") >= 2,
        F.expr("transform(sequence(1, size(_tk) - 1), i -> concat(element_at(_tk, i), ' ', element_at(_tk, i + 1)))"),
    ).otherwise(F.array().cast("array<string>"))
    grams = staged.select("id", F.explode(F.concat(F.col("_tk"), bigrams)).alias("_g"))
    return (
        grams.select("id", (_gram_hash(F.col("_g")) % n_buckets).alias("bucket"))
        .groupBy("id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_bucket_logratio(
    target_feats: DataFrame, source_feats: DataFrame, n_buckets: int = 4096
) -> DataFrame:
    """(bucket, log_ratio): add-one-smoothed log(p_target/p_source) per
    hash bucket, for ALL n_buckets buckets — the model's domain is the
    full hash range, not just the buckets the fit corpora happened to
    occupy, so a SERVE-time document (streaming, a later corpus) whose
    n-grams hash to unseen buckets scores the pure smoothing ratio
    log((S+B)/(T+B)) instead of silently losing those features to an
    unmatched join. Exactly n_buckets rows by construction — the
    bounded-by-CONFIG property is structural, not data-dependent. Both
    marginals are n_buckets-bounded aggregates; the totals ride 1-row
    frames through cross joins (no collect — the plan stays one lazy
    unit and the model frame can be persisted or landed at rest by the
    caller)."""
    spark = source_feats.sparkSession
    t = target_feats.groupBy("bucket").agg(F.sum("cnt").alias("c_t"))
    s = source_feats.groupBy("bucket").agg(F.sum("cnt").alias("c_s"))
    t_tot = t.agg(F.coalesce(F.sum("c_t"), F.lit(0)).alias("T"))
    s_tot = s.agg(F.coalesce(F.sum("c_s"), F.lit(0)).alias("S"))
    joined = (
        spark.range(n_buckets)
        .select(F.col("id").alias("bucket"))
        .join(t, "bucket", "left")
        .join(s, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("c_t", F.lit(0)).alias("c_t"),
            F.coalesce("c_s", F.lit(0)).alias("c_s"),
        )
        .crossJoin(t_tot)
        .crossJoin(s_tot)
    )
    lr = (
        F.log((F.col("c_t") + 1).cast("double") / (F.col("T") + n_buckets))
        - F.log((F.col("c_s") + 1).cast("double") / (F.col("S") + n_buckets))
    )
    return joined.select("bucket", lr.alias("log_ratio"))


def dsir_importance_weights(
    docs: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    n_buckets: int = 4096,
    feats: DataFrame | None = None,
) -> DataFrame:
    """(id_col, n_features, weight): per-doc log importance weight =
    Σ cnt·log_ratio over the doc's hashed n-grams, rounded 6 dp.
    The model join broadcasts by size (n_buckets rows — parameter-
    bounded, never hinted); docs with NO features come back with
    weight 0 and n_features 0 via the left join, not silently dropped.
    Feature-less means NULL text only: an empty (non-NULL) string
    tokenizes to [""] and contributes one empty-gram feature, so it
    scores that bucket's log-ratio (n_features 1), exactly like the
    DuckDB twin and the literal Python reference. Pass precomputed ``feats`` (dsir_features output,
    typically the same frame the fit consumed — persist it) to avoid
    re-tokenizing the corpus."""
    if feats is None:
        feats = dsir_features(docs, id_col=id_col, text=text, n_buckets=n_buckets)
    scored = (
        feats.join(model, "bucket")
        .groupBy("id")
        .agg(
            F.sum("cnt").alias("n_features"),
            F.round(F.sum(F.col("cnt") * F.col("log_ratio")), 6).alias("weight"),
        )
    )
    return (
        docs.select(F.col(id_col))
        .join(scored.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_features", F.lit(0).cast("long")).alias("n_features"),
            F.coalesce("weight", F.lit(0.0)).alias("weight"),
        )
    )


def dsir_resample(
    weighted: DataFrame, keep_fraction: float = 0.25, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic EXACT top-k: rank by weight desc (doc id
    tiebreak), keep the top ``keep_fraction`` of the corpus. This is
    the driver-SF oracle twin — its global rank (a DECLARED
    single-partition window over scalar (weight, id) rows; plan-doctor
    GLOBAL_WINDOW_OK) is the contract when a total order with
    tiebreaks is the point, and it is what a hash-check can pin row
    for row. It is NOT the scale path: every corpus row flows through
    one task. Production selection is dsir_resample_quantile — same
    kept set whenever no docs tie at the boundary, ties-all-kept when
    they do — whose cutoff derivation never leaves partition-parallel
    aggregation."""
    w = Window.orderBy(F.col("weight").desc(), F.col(id_col))
    n = F.count(F.lit(1)).over(Window.partitionBy())
    return (
        weighted.withColumn("rank", F.row_number().over(w).cast("int"))
        .withColumn("kept", (F.col("rank") <= F.ceil(n * keep_fraction)).cast("boolean"))
    )


def _gumbel_key(id_col: str, salt: int) -> Column:
    """The seeded Gumbel-top-k key (weight + Gumbel(0,1) noise from the
    portable sampling hash), rounded 6 dp — shared by the rank twin and
    the quantile scale path so both select over IDENTICAL doubles.

    The uniform comes from `avalanche_bucket`, NOT `hash_bucket`
    (round 11): the Gumbel-max guarantee — P(doc i selected first) =
    exp(w_i)/Σexp(w) — needs noise that is independent ACROSS docs,
    and the affine hash_bucket couples every doc's uniform into one
    lattice per salt (u_{i+1} = frac(u_i + const)); measured win
    frequencies were (0.235, 0.255, 0.255, 0.255) where softmax says
    (0.1, 0.2, 0.3, 0.4). The two-round scramble restores (0.0999,
    0.2003, 0.2997, 0.4000) at 2M draws —
    tests/test_stat_contracts.py pins it.
    The threshold/keep operators (deterministic_sample,
    temperature mix) keep hash_bucket: their contracts are per-key
    MARGINALS, where the lattice is fine (systematic sampling)."""
    from crypto_data_pipeline_spark.operators.sampling import MOD, avalanche_bucket

    u = (avalanche_bucket(F.col(id_col), salt=salt) + 0.5) / F.lit(float(MOD))
    return F.round(F.col("weight") - F.log(-F.log(u)), 6)


def dsir_resample_gumbel(
    weighted: DataFrame,
    keep_fraction: float = 0.25,
    id_col: str = "doc_id",
    salt: int = 17,
) -> DataFrame:
    """Gumbel-top-k importance resampling — the PAPER's selection
    semantics (sampling WITHOUT replacement proportional to exp(weight)
    is exactly top-k on weight + Gumbel(0,1) noise; Xie et al. §3),
    made reproducible: the per-doc uniform comes from the portable
    sampling hash (operators/sampling.py:avalanche_bucket — exact
    int64 arithmetic both engines share; the xorshift round is what
    makes the noise independent ACROSS docs, see _gumbel_key), so a
    given (corpus, salt) always selects the same set and a NEW salt
    draws an independent sample.
    u = (bucket + 0.5)/MOD keeps the uniform strictly inside (0, 1) —
    -ln(-ln(u)) is finite for every doc. ``key`` is rounded 6 dp like
    the weight (single ln calls on identical doubles; cross-engine ulp
    noise cannot move the 6th decimal except on measure-zero
    boundaries). dsir_resample is the argmax twin (no noise): use it
    for the single best subset, this for diversity-preserving draws
    (epoch-reshufflable by salt, the training_order device). Like that
    twin this ranks through a DECLARED global window (oracle-twin
    duty); dsir_resample_gumbel_quantile is the scale path — same
    keys, threshold selection."""
    key = _gumbel_key(id_col, salt)
    w = Window.orderBy(F.col("key").desc(), F.col(id_col))
    n = F.count(F.lit(1)).over(Window.partitionBy())
    return (
        weighted.withColumn("key", key)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .withColumn("kept", (F.col("rank") <= F.ceil(n * keep_fraction)).cast("boolean"))
    )


def dsir_resample_gumbel_quantile(
    weighted: DataFrame,
    keep_fraction: float = 0.25,
    id_col: str = "doc_id",
    salt: int = 17,
) -> DataFrame:
    """The Gumbel draw's SCALE path: the same seeded keys as
    dsir_resample_gumbel (identical doubles — _gumbel_key is shared),
    selected by the exact k-th-largest KEY from dsir_kth_weight's
    histogram refinement instead of a total order. Same kept set as
    the rank twin whenever no keys tie at the boundary (keys carry
    ~6 decimal digits of hash noise, so boundary ties are measure-zero
    in practice); ties-all-kept when they do. No window anywhere in
    the plan — the per-epoch reshuffle-by-salt device this enables at
    corpus scale is exactly the one the rank twin cannot run."""
    keyed = weighted.withColumn("key", _gumbel_key(id_col, salt))
    cutoff = dsir_kth_weight(keyed, keep_fraction, weight_col="key")
    return keyed.withColumn(
        "kept", (F.col("key") >= F.lit(cutoff)).cast("boolean")
    )


def dsir_kth_weight(
    weighted: DataFrame,
    keep_fraction: float = 0.25,
    weight_col: str = "weight",
    n_bins: int = 4096,
) -> float:
    """EXACT k-th largest weight (k = ceil(n·keep_fraction), duplicates
    counted) as a driver scalar — the scale-safe selection boundary.

    A two-pass histogram formulation of a distributed k-th order
    statistic: weights are 6-dp-rounded by contract
    (dsir_importance_weights), so ``w_int = round(weight·1e6)`` is a
    lossless integer domain. Pass 1 groups by the fixed-width bin
    ``floor(w_int / n_bins)``, computed in exact long arithmetic, and
    collects (bin, count, min, max) per occupied bin with ONE
    map-side-combinable aggregate over the (persisted) weighted frame:
    n is the histogram's sum, and walking it from the top narrows the
    k-th rank to one bin, whose w_int range spans at most n_bins
    integers. The final pass groups that bin's integers by exact value
    carrying min(weight), so the returned cutoff is the TRUE stored
    double of the k-th weight — ``weight >= cutoff`` compares identical
    doubles on both engines, not a reconstruction with its own
    rounding. Each pass is a full corpus scan at 100 TB; the driver
    sees histogram rows only, never doc rows, never a global sort (the
    WindowExec-shaped alternative puts the whole corpus through one
    task; see dsir_resample, the driver-SF twin). Driver rows: occupied
    bins ≤ range/n_bins + 1; for the bounded log-ratio weight DOMAIN
    this operator serves (≲ n_bins² · 1e-6 ≈ 16.7 weight units) that
    is ≤ n_bins, and a wider range degrades to proportionally more
    3-long histogram rows (raise ``n_bins`` to bound it; 64Ki bins ≈
    1.5 MB collected).

    NULL weights are not ranked: n counts the non-NULL weights only
    (a NULL can never pass ``weight >= cutoff`` anyway).

    Returns +inf when k == 0 (keep_fraction == 0 or an empty corpus):
    ``weight >= +inf`` is false for every finite weight, so downstream
    kept flags stay two-valued booleans instead of NULLing out
    (round-9 ADVICE). keep_fraction > 1 clamps to keep-everything.

    tests/test_dsir.py::test_kth_weight_matches_python_for_all_k_and
    _tiny_bins and ::test_kth_weight_random_property_sweep pin every
    k and random tie patterns against the sorted-rank reference."""
    import math

    w_sql = f"CAST(round(`{weight_col}` * 1e6, 0) AS BIGINT)"
    w_int = F.expr(w_sql)
    # floor division in long arithmetic: w - pmod(w, n_bins) is an exact
    # multiple of n_bins, so the truncating `div` floors exactly at any
    # magnitude (a double quotient rounds once w_int passes 2^53)
    bin_col = F.expr(f"({w_sql} - pmod({w_sql}, {n_bins})) div {n_bins}")
    pass1 = [
        r
        for r in weighted.groupBy(bin_col.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min(w_int).alias("mn"),
            F.max(w_int).alias("mx"),
        )
        .collect()
        if r.bin is not None  # NULL weights are not ranked
    ]
    n = sum(r.c for r in pass1)
    k = min(math.ceil(n * keep_fraction), n)
    if n == 0 or k <= 0:
        return float("inf")
    remaining = k
    for r in sorted(pass1, key=lambda r: r.bin, reverse=True):
        if remaining <= r.c:
            lo, hi = r.mn, r.mx
            break
        remaining -= r.c
    finals = (
        weighted.where((w_int >= lo) & (w_int <= hi))
        .groupBy(w_int.alias("w"))
        .agg(F.count(F.lit(1)).alias("c"), F.min(weight_col).alias("wv"))
        .collect()
    )
    for r in sorted(finals, key=lambda r: r.w, reverse=True):
        if remaining <= r.c:
            return float(r.wv)
        remaining -= r.c
    raise AssertionError("the k-th rank left its pass-1 bin")  # unreachable


def dsir_resample_quantile(
    weighted: DataFrame, keep_fraction: float = 0.25, weight_col: str = "weight"
) -> DataFrame:
    """The DEFAULT selection path: kept = weight >= (exact k-th largest
    weight), the cutoff derived by dsir_kth_weight's bounded histogram
    refinement and inlined as a literal — the plan that reaches the
    executors is a pure per-row predicate over the weighted frame, no
    window, no global sort, nothing single-partition. Differs from
    dsir_resample's exact top-k in one documented way (the same trade
    dsir_score_frozen makes): docs TIED at the cutoff weight are all
    kept — a threshold cannot split a tie; the rank twin breaks ties by
    doc id. Callers should persist ``weighted`` — the refinement scans
    it ~4 times and the returned frame scans it once more."""
    cutoff = dsir_kth_weight(weighted, keep_fraction, weight_col=weight_col)
    return weighted.withColumn(
        "kept", (F.col(weight_col) >= F.lit(cutoff)).cast("boolean")
    )


def dsir_weight_cutoff(
    weighted: DataFrame, keep_fraction: float = 0.25, weight_col: str = "weight"
) -> DataFrame:
    """1-row (cutoff double) frame: the k-th highest weight (k =
    ceil(n·keep_fraction)) over a reference corpus — the FROZEN
    selection boundary for online serving, the DSIR analog of the LM's
    frozen perplexity boundaries. A frozen threshold makes a streamed
    document's keep decision independent of whatever shares its
    micro-batch; the trade vs the batch top-k is documented on
    dsir_score_frozen (ties at the cutoff are all kept).

    Computed by dsir_kth_weight's histogram refinement — the serve
    boundary is derived by the same scale-safe path the batch quantile
    selection uses, NOT by ranking the reference corpus through a
    global window (round-9 finding #2). An empty kept set
    (keep_fraction == 0 / empty corpus) yields cutoff = +inf, so
    downstream ``weight >= cutoff`` stays a real boolean."""
    cutoff = dsir_kth_weight(weighted, keep_fraction, weight_col=weight_col)
    # 1-row JVM literal frame, not createDataFrame (round 13, guide
    # §4.1): the Python-list form plans a Python-backed RDD scan whose
    # worker wave costs more than the whole serve join; F.lit carries
    # +inf (the empty-kept-set sentinel) through DoubleType unchanged
    return weighted.sparkSession.range(1).select(
        F.lit(float(cutoff)).cast("double").alias("cutoff")
    )


def dsir_score_frozen(
    docs: DataFrame,
    model: DataFrame,
    cutoff: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    n_buckets: int = 4096,
) -> DataFrame:
    """(id_col, n_features, weight, kept): scoring against a FROZEN
    model + cutoff — the serve-online half of the DSIR train/serve
    split. kept = weight >= cutoff, a pure per-document predicate, so
    the output row for a doc is identical whether it arrives alone, in
    any micro-batch, or in the full batch — the property the streaming
    twin's stream==batch test pins. Differs from dsir_resample's exact
    top-k in one documented way: docs TIED at the cutoff weight are
    all kept (a threshold cannot split a tie; the batch top-k breaks
    ties by doc id). The cutoff travels as a 1-row frame (explicitly
    broadcast — it is a scalar by contract, not by estimation)."""
    weighted = dsir_importance_weights(
        docs, model, id_col=id_col, text=text, n_buckets=n_buckets
    )
    return weighted.crossJoin(F.broadcast(cutoff)).select(
        id_col,
        "n_features",
        "weight",
        (F.col("weight") >= F.col("cutoff")).cast("boolean").alias("kept"),
    )
