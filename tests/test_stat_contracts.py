"""Statistical-contract pins — suite-sized versions of
tools/stat_contract_probe.py.

A past MinHash mask bug proved that hash-green oracles certify
cross-engine AGREEMENT, not DISTRIBUTIONAL correctness: Spark and
DuckDB happily agree on degenerate signatures. These tests pin each
sketch/fingerprint operator to its published theory on deterministic
planted inputs, so a hash regression that keeps both engines in
lockstep still fails the suite. Bands are 'theory ± enough slack to
never flake at fixed seeds, tight enough that the known degeneracies
(single-affine HLL: +54%; mask-free MinHash: curve collapses to 0)
land far outside'.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from crypto_data_pipeline_spark.operators import dedup as D
from crypto_data_pipeline_spark.operators import sketch as SK
import pytest


def _planted_pair_frame(spark, n_pairs: int, width: int, subst: int):
    """(ta, tb) rows: tb replaces the first `subst` of ta's `width`
    distinct tokens — cosine (width-subst)/width by construction."""
    return spark.range(n_pairs).select(
        F.concat_ws(" ", F.transform(
            F.sequence(F.lit(0), F.lit(width - 1)),
            lambda j: F.concat(F.lit("d"), F.col("id"), F.lit("x"), j),
        )).alias("ta"),
        F.concat_ws(" ", F.transform(
            F.sequence(F.lit(0), F.lit(width - 1)),
            lambda j: F.when(
                j < subst, F.concat(F.lit("v"), F.col("id"), F.lit("y"), j)
            ).otherwise(F.concat(F.lit("d"), F.col("id"), F.lit("x"), j)),
        )).alias("tb"),
    )


@pytest.mark.slow
def test_simhash_hamming_tracks_arccos_curve(spark):
    """Charikar contract: E[Hamming] = 60*arccos(cos)/pi for the 60-bit
    sketch, pinned at theory +-1.5 with 500 pairs per point. Measured:
    9.37/13.72/19.94 vs theory 9.65/13.80/20.00. A degenerate bit
    pipeline (all-equal contributions, the MinHash mask class)
    collapses every mean to ~0 or ~30, and a sketch with too few
    well-mixed bits sits far below the curve (a 28-bit polynomial-hash
    sketch read 1.07/1.94/4.56) — both outside these bands. Identical
    texts must land at exactly 0 (determinism)."""
    width, n = 64, 500
    expectations = {
        0: (0.0, 0.0),      # exact: identical text, identical hash
        8: (8.15, 11.15),   # theory 9.65
        16: (12.3, 15.3),   # theory 13.80
        32: (18.5, 21.5),   # theory 20.00
    }
    for subst, (lo, hi) in expectations.items():
        mean = (
            _planted_pair_frame(spark, n, width, subst)
            .select(F.bit_count(
                D.simhash_sketch("ta").bitwiseXOR(D.simhash_sketch("tb"))
            ).alias("h"))
            .agg(F.avg("h")).collect()[0][0]
        )
        assert lo <= mean <= hi, f"subst={subst}: mean {mean} outside [{lo},{hi}]"


@pytest.mark.slow
def test_simhash_band_join_pigeonhole_recall_is_exact(spark):
    """Any pair at Hamming <= 3 agrees on >= 1 of the 4 15-bit bands
    (pigeonhole) — so the banded candidate search's recall on such pairs
    is EXACTLY 1.0, not approximately. Planted 1-token substitutions
    put about half of the pairs at <= 3; every one must be found."""
    n, width = 300, 64
    base = spark.range(n).select(
        F.col("id"),
        F.concat_ws(" ", F.transform(
            F.sequence(F.lit(0), F.lit(width - 1)),
            lambda j: F.concat(F.lit("d"), F.col("id"), F.lit("x"), j),
        )).alias("text"),
    )
    var = spark.range(n).select(
        F.col("id"),
        F.concat_ws(" ", F.transform(
            F.sequence(F.lit(0), F.lit(width - 1)),
            lambda j: F.when(
                j < 1, F.concat(F.lit("v"), F.col("id"), F.lit("y"), j)
            ).otherwise(F.concat(F.lit("d"), F.col("id"), F.lit("x"), j)),
        )).alias("text"),
    ).select((F.col("id") + n).alias("id"), "text")
    docs = base.unionByName(var).withColumnRenamed("id", "doc_id")

    sh = docs.select("doc_id", D.simhash_sketch("text").alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    close = (
        a.join(b, F.col("b.doc_id") - F.col("a.doc_id") == n)
        .where(F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))) <= 3)
        .count()
    )
    assert close > 100  # the planted family lands where theory says
    found = (
        D.simhash_pairs_portable(docs, max_hamming=3)
        .where(F.col("id_b") - F.col("id_a") == n)
        .count()
    )
    assert found == close  # pigeonhole: zero recall loss, exactly


def test_bloom_fpr_tracks_fill_theory(spark):
    """FPR on fresh non-members must match (set_bits/m)^k — the
    realized-fill prediction, which also covers the slight overfill of
    the affine-of-one-base-hash position family vs ideal k independent
    hashes. 20k members / 2^18 bits / k=4: theory ~0.9%, band [0, 3%];
    a broken position family (e.g. all k positions equal) collapses
    fill to ~n/m and FPR toward n/m ~ 7.6% — outside."""
    n, m_bits, k = 20_000, 1 << 18, 4
    members = spark.range(n).select(
        F.concat(F.lit("member doc "), F.col("id")).alias("text")
    )
    bits = D.bloom_bitset(members, m_bits=m_bits, k=k).persist()
    set_bits = bits.count()
    # the affine family must fill within 5% of the ideal Poisson fill
    ideal_fill = m_bits * (1 - math.exp(-k * n / m_bits))
    assert abs(set_bits - ideal_fill) / ideal_fill < 0.05
    fresh = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("novel doc "), F.col("id")).alias("text"),
    )
    fp = (
        D.bloom_prefilter_flags(members, fresh, m_bits=m_bits, k=k, bits=bits)
        .where(F.col("bloom_pass")).count()
    )
    bits.unpersist()
    fpr, fill_theory = fp / n, (set_bits / m_bits) ** k
    assert fpr <= 3 * fill_theory + 0.005, (fpr, fill_theory)


def test_hll_error_contract_on_sequential_keys(spark):
    """THE round-11 regression pin: m=256 HLL must hold rms relative
    error ~ 1.04/sqrt(256) = 6.5% on SEQUENTIAL integer keys — the id
    columns the operator is actually pointed at. The original
    single-affine key hash measured +54% here (10x contract) while
    every value-pinned fixture passed, because the DuckDB twin
    computed the same degenerate registers; the affine->xorshift->
    affine composition (_hll_j_rho) holds 6.2% rms / 12.9% max at this
    exact geometry (tools/stat_contract_probe.py)."""
    n, groups, m = 62_500, 16, 256
    df = spark.range(n * groups).select(
        (F.col("id") % groups).alias("grp"), F.col("id").alias("k")
    )
    regs = SK.hll_registers(df, F.col("k"), m=m, group=("grp",))
    est = SK.hll_estimate(regs, m=m, group=("grp",)).collect()
    assert len(est) == groups
    rel = [(r["hll_estimate"] - n) / n for r in est]
    rms = math.sqrt(sum(e * e for e in rel) / len(rel))
    sigma = 1.04 / math.sqrt(m)
    assert rms < 2 * sigma, f"rms {rms:.4f} vs contract sigma {sigma:.4f}"
    assert max(abs(e) for e in rel) < 4 * sigma


def test_gumbel_draw_win_frequencies_match_softmax(spark):
    """THE second round-11 regression pin: Gumbel-top-k selection
    (operators/dsir.py:_gumbel_key) promises P(top-1 = doc i) =
    exp(w_i)/Σexp(w) — Xie et al.'s sampling-∝-exp(weight) semantics.
    The affine hash_bucket silently broke this: it couples every
    doc's uniform into ONE lattice per salt (u_{i+1} = frac(u_i +
    const)), and measured win frequencies were (0.235, 0.255, 0.255,
    0.255) against softmax (0.1, 0.2, 0.3, 0.4) — while the
    rank/threshold twins stayed hash-green (DuckDB computes the same
    coupled draw). avalanche_bucket's xorshift restores independence;
    this pins it at 4σ bands over 4000 salted draws."""
    import math as _math

    from crypto_data_pipeline_spark.operators.sampling import MOD, avalanche_bucket

    n_draws = 4000
    w = [0.0, _math.log(2.0), _math.log(3.0), _math.log(4.0)]
    weights = F.array(*[F.lit(x) for x in w])
    drawn = spark.range(n_draws).select(
        F.col("id").alias("salt_k"), F.explode(F.sequence(F.lit(0), F.lit(3))).alias("d")
    ).select(
        "salt_k", "d",
        (weights[F.col("d")] - F.log(-F.log(
            (avalanche_bucket(F.col("d") + F.col("salt_k") * 1000, salt=0) + 0.5)
            / F.lit(float(MOD))
        ))).alias("key"),
    )
    wins = {
        int(r["winner"]): r["count"]
        for r in drawn.groupBy("salt_k").agg(F.max_by("d", "key").alias("winner"))
        .groupBy("winner").count().collect()
    }
    total = sum(wins.values())
    assert total == n_draws
    for i, p in enumerate((0.1, 0.2, 0.3, 0.4)):
        freq = wins.get(i, 0) / total
        band = 4 * _math.sqrt(p * (1 - p) / n_draws)
        assert abs(freq - p) < band, f"doc {i}: {freq:.4f} vs {p} (±{band:.4f})"


def test_cms_overcount_bound_on_heavy_tail_stream(spark):
    """Cormode-Muthukrishnan: estimate >= exact ALWAYS (deterministic
    min-of-counters guarantee — pinned exactly), and overcount <=
    e*N/width with per-probe failure probability <= e^{-depth}. On a
    200k-token heavy-tail stream with w=256/d=3 the realized
    overcounts sit far inside the bound; a degenerate bucket hash
    (all rows identical) sends tail-term overcounts toward the heavy
    mass — orders of magnitude outside."""
    n_tokens, width, depth = 200_000, 256, 3
    u = (F.pmod(F.xxhash64("id"), F.lit(1_000_000)) + 0.5) / 1_000_000.0
    rank = F.least(F.ceil(F.pow(u, F.lit(-0.8))), F.lit(50_000)).cast("long")
    docs = spark.range(n_tokens).select(F.concat(F.lit("w"), rank).alias("text"))
    ladder = [1, 3, 8, 20, 50, 120, 300, 800, 2000, 5000, 12000, 30000]
    out = SK.cms_point_estimates(
        spark, docs, [f"w{r}" for r in ladder], depth=depth, width=width
    ).collect()
    assert len(out) == len(ladder)
    eps_n = math.e / width * n_tokens
    assert all(r["overcount"] >= 0 for r in out)  # exact CM guarantee
    over_budget = sum(1 for r in out if r["overcount"] > eps_n)
    # e^{-3} per probe over 12 probes -> expected 0.6 failures; 3 is
    # already a >3-sigma Poisson excursion
    assert over_budget <= 3, [(r["term"], r["overcount"]) for r in out]


def test_training_order_is_a_shuffle_not_a_lattice(spark):
    """Round-12 regression pin (the A-ES/training-order round): the
    training order's JOINT contract is that reading shards in (shard,
    pos) order looks iid in id space. Pre-r12 the order came from the
    affine hash_bucket — sorting sequential keys by an affine map is
    an arithmetic walk (three-distance theorem): at 20k docs the
    counterfactual below measures ≤ a HANDFUL of distinct
    consecutive-id gaps and |lag-1| far above the iid bound, while
    the shipped avalanche order must land near n/2 distinct gaps with
    |lag-1| inside a loose 5× band (fixed hashes — deterministic, no
    flake margin needed beyond the band)."""
    from pyspark.sql import Window

    from crypto_data_pipeline_spark.operators import sampling

    n = 20_000
    docs = spark.range(n).select(F.col("id").alias("doc_id"))

    def order_stats(ordered):
        w = Window.partitionBy("shard").orderBy("pos")
        seq = ordered.select(
            "shard",
            F.col("doc_id").cast("double").alias("x"),
            F.lag("doc_id").over(w).cast("double").alias("xp"),
        ).where(F.col("xp").isNotNull())
        r = seq.agg(
            F.countDistinct(F.col("x") - F.col("xp")).alias("n_gaps"),
            F.corr("x", "xp").alias("lag1"),
        ).collect()[0]
        return int(r["n_gaps"]), float(r["lag1"])

    gaps, lag1 = order_stats(sampling.training_order(docs, key="doc_id"))
    assert gaps > n // 4, f"shipped order has only {gaps} distinct gaps"
    assert abs(lag1) < 5 * 2 / math.sqrt(n), f"shipped lag-1 {lag1:.4f}"

    # the pre-r12 affine counterfactual, re-derived inline: the screen
    # (observability.joint_hash_sites) forbids this shape in shipped
    # code; this pin proves the structure it forbids is real
    hs = sampling.hash_bucket(F.col("doc_id"), salt=13)
    ho = sampling.hash_bucket(F.col("doc_id"), salt=14)
    staged = docs.select(
        "doc_id", F.pmod(hs, F.lit(8)).cast("int").alias("shard"), ho.alias("_ho")
    )
    w0 = Window.partitionBy("shard").orderBy("_ho", "doc_id")
    affine = staged.withColumn("pos", F.row_number().over(w0)).drop("_ho")
    gaps_a, lag1_a = order_stats(affine)
    assert gaps_a < 50, f"affine counterfactual unexpectedly rich: {gaps_a}"
    assert abs(lag1_a) > 5 * 2 / math.sqrt(n), (
        f"affine counterfactual lag-1 {lag1_a:.4f} — probe lost its teeth"
    )


def test_winnowing_density_matches_paper(spark):
    """Schleimer/Wilkerson/Aiken contract quoted in
    operators/text.py:with_winnowing: expected fingerprint density is
    2/(window+1). Pseudorandom 26-letter text (xxhash64 chars,
    deterministic); at 30 docs × 1500 chars the probe-scale run
    (tools/stat_contract_probe.py, 1000 docs × 2000) measured
    0.39958 vs 0.4 — the suite pins a ±7.5% band, far tighter than a
    degenerate selector (density 1/window = 0.25 for always-first, or
    ~1/26 for a constant-collapse hash) can reach."""
    from crypto_data_pipeline_spark.operators import text as T

    doc_len, k, window = 1500, 8, 4
    chars = F.transform(
        F.sequence(F.lit(0), F.lit(doc_len - 1)),
        lambda i: F.chr(
            F.lit(97) + F.pmod(F.xxhash64(F.col("id") * doc_len + i), F.lit(26))
        ),
    )
    docs = spark.range(30).select(F.concat_ws("", chars).alias("text"))
    density = float(
        T.with_winnowing(docs, "text", k=k, window=window)
        .agg(F.avg(F.col("n_fps") / F.lit(doc_len - k + 1)))
        .collect()[0][0]
    )
    theory = 2 / (window + 1)
    assert abs(density - theory) < 0.075 * theory, (
        f"density {density:.4f} vs 2/(w+1) = {theory}"
    )


def test_mix_temperature_realized_proportions(spark):
    """temperature_mix_flags' MARGINAL contract (the declaration the
    round-12 joint-hash screen records for it): each language's kept
    count matches n_l × its census threshold within binomial noise.
    xxhash64-assigned languages at 70/15/9/5/1% over 50k sequential
    ids — saturated tails (threshold 1.0) must keep EVERYTHING, and
    the sub-threshold languages (en, de) must land within 4σ."""
    from crypto_data_pipeline_spark.operators import sampling

    n, alpha, budget = 50_000, 0.3, 0.5
    u = F.pmod(F.xxhash64("id"), F.lit(1000))
    lang = (
        F.when(u < 700, "en").when(u < 850, "de").when(u < 940, "fr")
        .when(u < 990, "ja").otherwise("sw")
    )
    docs = spark.range(n).select(F.col("id").alias("doc_id"), lang.alias("lang"))
    flags = sampling.temperature_mix_flags(
        docs, group_col="lang", key="doc_id", alpha=alpha, budget_frac=budget
    )
    got = {
        r["lang"]: (int(r["n"]), int(r["kept"]))
        for r in flags.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n"), F.sum("keep_temp").alias("kept")
        ).collect()
    }
    ns = {l: c[0] for l, c in got.items()}
    tot, zraw = sum(ns.values()), sum(c ** alpha for c in ns.values())
    for l, (nl, kept) in sorted(got.items()):
        p = min(1.0, budget * tot * (nl ** alpha / zraw) / nl)
        if p == 1.0:
            assert kept == nl, f"{l}: saturated threshold must keep all"
            continue
        sd = math.sqrt(nl * p * (1 - p))
        assert abs(kept - p * nl) < 4 * sd, (
            f"{l}: kept {kept} vs target {p * nl:.1f} (4σ = {4 * sd:.1f})"
        )


def test_mix_keep_all_presence_contract(spark):
    """keep_all=True (round 13): the output carries EVERY input row —
    including NULL-group rows, which never equi-join the threshold
    frame and must surface with keep_temp NULL — and the kept slice
    (keep_temp == 1) is row-identical to the default inner-join form.
    This is the contract curation_decision_record leans on when it
    reads nd_keep as presence-in-mix."""
    from crypto_data_pipeline_spark.operators import sampling

    lang = (
        F.when(F.col("id") % 7 == 0, F.lit(None).cast("string"))
        .when(F.col("id") % 3 == 0, "de")
        .otherwise("en")
    )
    docs = spark.range(2_000).select(F.col("id").alias("doc_id"), lang.alias("lang"))
    inner = sampling.temperature_mix_flags(docs)
    full = sampling.temperature_mix_flags(docs, keep_all=True)

    assert full.count() == docs.count()
    null_rows = full.where(F.col("lang").isNull())
    assert null_rows.count() == docs.where(F.col("lang").isNull()).count()
    assert null_rows.where(F.col("keep_temp").isNotNull()).count() == 0

    kept_inner = sorted(r["doc_id"] for r in inner.where(F.col("keep_temp") == 1).collect())
    kept_full = sorted(r["doc_id"] for r in full.where(F.col("keep_temp") == 1).collect())
    assert kept_inner == kept_full
    # non-null rows agree flag-for-flag with the inner form
    joined = (
        full.where(F.col("lang").isNotNull())
        .select("doc_id", F.col("keep_temp").alias("kt_full"))
        .join(inner.select("doc_id", F.col("keep_temp").alias("kt_inner")), "doc_id")
    )
    assert joined.where(F.col("kt_full") != F.col("kt_inner")).count() == 0


def test_mix_precomputed_rates_identical(spark):
    """rates= (round 13): flags computed against a precomputed (and
    persisted) temperature_mix_rates frame are row-identical to the
    self-contained census path — the contract that lets the curation
    pipeline compute the census once per staged tuple instead of per
    decision-record assembly."""
    from crypto_data_pipeline_spark.operators import sampling

    lang = (
        F.when(F.col("id") % 7 == 0, F.lit(None).cast("string"))
        .when(F.col("id") % 3 == 0, "de")
        .otherwise("en")
    )
    docs = spark.range(2_000).select(F.col("id").alias("doc_id"), lang.alias("lang"))
    rates = sampling.temperature_mix_rates(docs).persist()
    try:
        inline = sampling.temperature_mix_flags(docs, keep_all=True)
        served = sampling.temperature_mix_flags(docs, keep_all=True, rates=rates)
        # doc_id (position 0) is unique, so plain tuple sort never
        # compares the NULL-able keep_temp slot
        assert sorted(map(tuple, served.collect())) == sorted(
            map(tuple, inline.collect())
        )
        # the rates frame itself matches the inline census arithmetic
        # (same cancelled-form thresholds, same rounding)
        inline_rates = sampling.temperature_mix_rates(docs)
        rk = lambda t: ("" if t[0] is None else t[0], t[1])  # NULL-lang census row
        assert sorted(map(tuple, rates.collect()), key=rk) == sorted(
            map(tuple, inline_rates.collect()), key=rk
        )
    finally:
        rates.unpersist()
