"""Statistical-contract probe — the standing defense for operators
whose correctness is a DISTRIBUTIONAL property no value-pinned fixture
can see (a past MinHash mask bug proved the class: every hash-green
oracle certifies that Spark and DuckDB compute the SAME numbers, not
that the numbers have the promised statistics).

Four contracts, each measured against its published theory at scale:

- SimHash (operators/dedup.py:simhash_sketch): planted
  token-substitution families at controlled cosine — mean Hamming
  distance must track Charikar's 60*arccos(cos)/pi curve
  (Goemans-Williamson hyperplane rounding), and the 4x15-bit banding
  (simhash_pairs_portable) must find EVERY pair at Hamming <= 3
  (pigeonhole — exact, not statistical).
- Bloom (operators/dedup.py:bloom_prefilter_flags): measured FPR on
  fresh non-members vs the realized-fill prediction (set_bits/m)^k
  and the idealized (1-e^{-kn/m})^k.
- HLL (operators/sketch.py:hll_registers/hll_estimate): relative
  error over disjoint SEQUENTIAL-key groups (the id columns the
  operator is pointed at — the hash's adversarial case) vs the
  1.04/sqrt(m) standard error. This probe caught a real bug: the
  original single-affine key hash put +54% error on 100k
  sequential keys (10x the contract) while every fixture passed —
  fixed by the affine->xorshift->affine composition in _hll_j_rho.
- CMS (operators/sketch.py:cms_point_estimates): overcount >= 0
  always (the deterministic CM guarantee) and <= e*N/width with
  failure probability <= e^{-depth} per probe (Cormode-Muthukrishnan)
  on a 1M-token heavy-tail stream.

Deterministic end to end (hash-derived streams, no rand()).
Usage:  python tools/stat_contract_probe.py [--small]
Prints one JSON line per measurement; record results in
docs/SCALE_PROBE.md.
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from crypto_data_pipeline_spark import get_spark
from crypto_data_pipeline_spark.operators import dedup as D
from crypto_data_pipeline_spark.operators import sketch as SK


def probe_simhash(spark, n_pairs: int, width: int = 64) -> list[dict]:
    """Mean Hamming distance of planted substitution pairs vs the
    arccos curve, plus the banded join's pigeonhole recall at <=3."""
    rows = []
    for s in (0, 4, 8, 16, 32, 48):
        df = spark.range(n_pairs).select(
            F.concat_ws(" ", F.transform(
                F.sequence(F.lit(0), F.lit(width - 1)),
                lambda j: F.concat(F.lit("d"), F.col("id"), F.lit("x"), j),
            )).alias("ta"),
            F.concat_ws(" ", F.transform(
                F.sequence(F.lit(0), F.lit(width - 1)),
                lambda j: F.when(
                    j < s, F.concat(F.lit("v"), F.col("id"), F.lit("y"), j)
                ).otherwise(F.concat(F.lit("d"), F.col("id"), F.lit("x"), j)),
            )).alias("tb"),
        )
        r = (
            df.select(
                F.bit_count(
                    D.simhash_sketch("ta").bitwiseXOR(D.simhash_sketch("tb"))
                ).alias("h")
            )
            .agg(F.avg("h").alias("mean"), F.stddev("h").alias("sd"))
            .collect()[0]
        )
        cos = (width - s) / width
        rows.append({
            "probe": "simhash_curve", "n_pairs": n_pairs, "subst": s,
            "cosine": round(cos, 4),
            "mean_hamming": round(float(r["mean"]), 3),
            "sd": round(float(r["sd"] or 0.0), 3),
            "theory": round(D.SIMHASH_BITS * math.acos(cos) / math.pi, 3),
        })

    # pigeonhole: pairs planted at Hamming <= 3 (1-token substitution
    # lands there with high probability) MUST all surface from the
    # banded candidate search — zero recall loss is the contract
    base = spark.range(n_pairs).select(
        F.col("id"),
        F.concat_ws(" ", F.transform(
            F.sequence(F.lit(0), F.lit(width - 1)),
            lambda j: F.concat(F.lit("d"), F.col("id"), F.lit("x"), j),
        )).alias("text"),
    )
    # build the text BEFORE shifting the id: an aliased `id` in the
    # same select would capture the shifted value inside the token
    # lambda and the "pair" would share zero tokens
    var = spark.range(n_pairs).select(
        F.col("id"),
        F.concat_ws(" ", F.transform(
            F.sequence(F.lit(0), F.lit(width - 1)),
            lambda j: F.when(
                j < 1, F.concat(F.lit("v"), F.col("id"), F.lit("y"), j)
            ).otherwise(F.concat(F.lit("d"), F.col("id"), F.lit("x"), j)),
        )).alias("text"),
    ).select((F.col("id") + n_pairs).alias("id"), "text")
    docs = base.unionByName(var).withColumnRenamed("id", "doc_id")
    pairs = D.simhash_pairs_portable(docs, max_hamming=3)
    found = (
        pairs.where(F.col("id_b") - F.col("id_a") == n_pairs).count()
    )
    # ground truth: how many planted pairs actually land at <= 3
    sh = docs.select("doc_id", D.simhash_sketch("text").alias("sh"))
    a = sh.where(F.col("doc_id") < n_pairs).alias("a")
    b = sh.where(F.col("doc_id") >= n_pairs).alias("b")
    close = (
        a.join(b, F.col("b.doc_id") - F.col("a.doc_id") == n_pairs)
        .where(
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))) <= 3
        ).count()
    )
    rows.append({
        "probe": "simhash_band_pigeonhole", "n_pairs": n_pairs,
        "planted_at_le3": close, "found_by_band_join": found,
        "recall": round(found / close, 4) if close else None,
    })
    return rows


def probe_bloom(spark, n: int, bits_per_item: int = 8, k: int = 4) -> dict:
    # m scales with n (8 bits/item, k=4 -> ~2% idealized FPR) so the
    # measurement is meaningful at every probe scale
    m_bits = 1 << (n * bits_per_item - 1).bit_length()
    members = spark.range(n).select(
        F.concat(F.lit("member doc "), F.col("id")).alias("text")
    )
    bits = D.bloom_bitset(members, m_bits=m_bits, k=k).persist()
    set_bits = bits.count()
    n_probe = min(n, 200_000)
    fresh = spark.range(n_probe).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("novel doc "), F.col("id")).alias("text"),
    )
    fp = (
        D.bloom_prefilter_flags(members, fresh, m_bits=m_bits, k=k, bits=bits)
        .where(F.col("bloom_pass")).count()
    )
    bits.unpersist()
    return {
        "probe": "bloom_fpr", "n_members": n, "m_bits": m_bits, "k": k,
        "set_bits": set_bits, "n_probes": n_probe,
        "fpr": round(fp / n_probe, 5),
        "theory_fill": round((set_bits / m_bits) ** k, 5),
        "theory_ideal": round((1 - math.exp(-k * n / m_bits)) ** k, 5),
    }


def probe_hll(spark, n_per_group: int, groups: int = 16, m: int = 256) -> dict:
    """Sequential keys — the structured case that broke the affine
    hash. Contract: rms relative error ~ 1.04/sqrt(m)."""
    df = spark.range(n_per_group * groups).select(
        (F.col("id") % groups).alias("grp"), F.col("id").alias("k")
    )
    regs = SK.hll_registers(df, F.col("k"), m=m, group=("grp",))
    est = SK.hll_estimate(regs, m=m, group=("grp",)).collect()
    rel = [(r["hll_estimate"] - n_per_group) / n_per_group for r in est]
    return {
        "probe": "hll_seq_keys", "n_per_group": n_per_group,
        "groups": groups, "m": m,
        "rms_rel_err": round(math.sqrt(sum(e * e for e in rel) / len(rel)), 4),
        "max_rel_err": round(max(abs(e) for e in rel), 4),
        "sigma_contract": round(1.04 / math.sqrt(m), 4),
    }


def probe_cms(spark, n_tokens: int, width: int = 1024, depth: int = 3) -> dict:
    """Heavy-tail token stream via deterministic inverse-CDF; probe a
    rank ladder of terms and test the (e*N/w, e^-d) CM bound plus the
    deterministic overcount >= 0 guarantee."""
    u = (F.pmod(F.xxhash64("id"), F.lit(1_000_000)) + 0.5) / 1_000_000.0
    rank = F.least(F.ceil(F.pow(u, F.lit(-0.8))), F.lit(100_000)).cast("long")
    docs = spark.range(n_tokens).select(F.concat(F.lit("w"), rank).alias("text"))
    ladder = [1, 2, 3, 5, 8, 12, 20, 30, 50, 80, 120, 200, 300, 500, 800,
              1200, 2000, 3000, 5000, 8000, 12000, 20000, 30000, 50000, 80000]
    out = SK.cms_point_estimates(
        spark, docs, [f"w{r}" for r in ladder], depth=depth, width=width
    ).collect()
    eps_n = math.e / width * n_tokens
    over = [r["overcount"] for r in out]
    return {
        "probe": "cms_bound", "n_tokens": n_tokens, "width": width,
        "depth": depth, "eps_n": round(eps_n, 1),
        "n_probes": len(out),
        "negatives": sum(1 for o in over if o < 0),
        "over_eps_n": sum(1 for o in over if o > eps_n),
        "bound_fail_budget": round(len(out) * math.exp(-depth), 2),
        "max_overcount": max(over), "median_overcount": sorted(over)[len(over) // 2],
    }


def probe_gumbel(spark, n_draws: int) -> dict:
    """Gumbel-max contract of the DSIR resampler: P(top-1 = doc i) =
    exp(w_i)/Σexp(w) over independent salted draws. Salts enter the
    hash additively BEFORE the scramble (avalanche_bucket(key, salt) ==
    avalanche_bucket(key + salt, 0)), so one Spark job sweeps n_draws
    salts at spacing 1000 (> max doc id — no cross-draw key reuse).
    This is the probe that exposed the affine hash_bucket's lattice
    coupling in round 11: measured (0.235, 0.255, 0.255, 0.255)
    pre-fix where softmax says (0.1, 0.2, 0.3, 0.4)."""
    from crypto_data_pipeline_spark.operators.sampling import MOD, avalanche_bucket

    w = {0: math.log(1.0), 1: math.log(2.0), 2: math.log(3.0), 3: math.log(4.0)}
    weights = F.array(*[F.lit(w[i]) for i in range(4)])
    docs = F.sequence(F.lit(0), F.lit(3))
    drawn = spark.range(n_draws).select(
        F.col("id").alias("salt_k"),
        F.explode(docs).alias("d"),
    ).select(
        "salt_k", "d",
        (weights[F.col("d")]
         - F.log(-F.log(
             (avalanche_bucket(F.col("d") + F.col("salt_k") * 1000, salt=0) + 0.5)
             / F.lit(float(MOD))
         ))).alias("key"),
    )
    wins = (
        drawn.groupBy("salt_k").agg(F.max_by("d", "key").alias("winner"))
        .groupBy("winner").count().orderBy("winner").collect()
    )
    total = sum(r["count"] for r in wins)
    freq = {int(r["winner"]): round(r["count"] / total, 4) for r in wins}
    return {
        "probe": "gumbel_softmax", "n_draws": n_draws,
        "win_freq": [freq.get(i, 0.0) for i in range(4)],
        "softmax_target": [round(x / 10, 4) for x in (1, 2, 3, 4)],
    }


def probe_training_order(spark, n_docs: int, n_shards: int = 8) -> list[dict]:
    """Training-order permutation contract (round 12; VERDICT r11 next
    #2a): reading shards in (shard, pos) order must look iid — the
    statistic is JOINT (a permutation), so the affine lattice is the
    adversary. Two measurements over sequential doc_ids, for both the
    SHIPPED order (avalanche, round 12) and the pre-r12 affine
    counterfactual re-derived inline:

    - distinct consecutive-id gaps along the order: sorting sequential
      keys by an AFFINE map yields at most 3 distinct gaps (the
      three-distance theorem) — a rigid arithmetic walk, not a
      shuffle. An iid permutation of n keys has ~n/2 distinct gaps
      among n-1 draws from the two-sided geometric.
    - lag-1 autocorrelation of the doc_id sequence read in order:
      iid bound ~2/sqrt(n); the affine walk re-correlates whatever
      the id encodes (time, source, crawl shard).
    """
    from pyspark.sql import Window

    from crypto_data_pipeline_spark.operators import sampling

    docs = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    rows = []
    for variant in ("avalanche_shipped", "affine_counterfactual"):
        if variant == "avalanche_shipped":
            ordered = sampling.training_order(docs, key="doc_id",
                                              n_shards=n_shards)
        else:
            hs = sampling.hash_bucket(F.col("doc_id"), salt=13)
            ho = sampling.hash_bucket(F.col("doc_id"), salt=14)
            staged = docs.select(
                "doc_id",
                F.pmod(hs, F.lit(n_shards)).cast("int").alias("shard"),
                ho.alias("_ho"),
            )
            w0 = Window.partitionBy("shard").orderBy("_ho", "doc_id")
            ordered = staged.withColumn(
                "pos", F.row_number().over(w0).cast("int")
            ).drop("_ho")
        w = Window.partitionBy("shard").orderBy("pos")
        seq = ordered.select(
            "shard",
            F.col("doc_id").cast("double").alias("x"),
            F.lag("doc_id").over(w).cast("double").alias("xp"),
        ).where(F.col("xp").isNotNull())
        stats = seq.agg(
            F.countDistinct(F.col("x") - F.col("xp")).alias("n_gaps"),
            F.corr("x", "xp").alias("lag1"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        rows.append({
            "probe": "training_order_permutation", "variant": variant,
            "n_docs": n_docs, "n_shards": n_shards,
            "n_distinct_gaps": int(stats["n_gaps"]),
            "iid_gap_scale": n_docs // 2,
            "lag1_autocorr": round(float(stats["lag1"]), 5),
            "iid_lag1_bound": round(2 / math.sqrt(stats["n"]), 5),
        })
    return rows


def probe_winnowing(spark, n_docs: int, doc_len: int = 2000,
                    k: int = 8, window: int = 4) -> dict:
    """Winnowing density contract (round 12; VERDICT r11 next #2b):
    the expected fraction of gram positions selected as fingerprints
    is 2/(window+1) (Schleimer/Wilkerson/Aiken §3 — quoted in
    operators/text.py:with_winnowing). Measured on pseudorandom
    26-letter text (xxhash64-derived chars, deterministic): with k=8
    gram values collide with probability ~L²/26⁸ per doc, so distinct
    selected VALUES ≈ distinct selected positions and density =
    n_fps / (L - k + 1) must land on the curve."""
    from crypto_data_pipeline_spark.operators import text as T

    chars = F.transform(
        F.sequence(F.lit(0), F.lit(doc_len - 1)),
        lambda i: F.chr(
            F.lit(97) + F.pmod(F.xxhash64(F.col("id") * doc_len + i), F.lit(26))
        ),
    )
    docs = spark.range(n_docs).select(F.concat_ws("", chars).alias("text"))
    got = (
        T.with_winnowing(docs, "text", k=k, window=window)
        .agg(
            F.avg(F.col("n_fps") / F.lit(doc_len - k + 1)).alias("density"),
            F.stddev(F.col("n_fps")).alias("sd_fps"),
        )
        .collect()[0]
    )
    return {
        "probe": "winnowing_density", "n_docs": n_docs, "doc_len": doc_len,
        "k": k, "window": window,
        "density": round(float(got["density"]), 5),
        "theory": round(2 / (window + 1), 5),
        "sd_fps": round(float(got["sd_fps"] or 0.0), 2),
    }


def probe_mix_temperature(spark, n_docs: int, alpha: float = 0.3,
                          budget: float = 0.5) -> dict:
    """Temperature-mix realized proportions (round 12; VERDICT r11
    next #2c): each language's kept count must match n_l × its census
    threshold within binomial noise. Language assignment comes from
    xxhash64 (independent of the keep hash family), with a heavy-tail
    census (70/15/9/5/1%): the tail languages are where temperature
    up-sampling acts hardest, so that is where a biased keep hash
    would show. Reports the worst per-language z-score — this is a
    MARGINAL contract, so the affine hash_bucket must pass it (the
    declaration the joint-hash screen records for this operator)."""
    from crypto_data_pipeline_spark.operators import sampling

    cuts = [(700, "en"), (850, "de"), (940, "fr"), (990, "ja"), (1000, "sw")]
    lang = F.lit(None).cast("string")
    expr = None
    u = F.pmod(F.xxhash64("id"), F.lit(1000))
    for cut, name in cuts:
        cond = u < cut
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"), expr.alias("lang")
    )
    flags = sampling.temperature_mix_flags(
        docs, group_col="lang", key="doc_id", alpha=alpha, budget_frac=budget
    )
    got = {
        r["lang"]: (int(r["n"]), int(r["kept"]))
        for r in flags.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n"), F.sum("keep_temp").alias("kept")
        ).collect()
    }
    # recompute each language's threshold exactly as the operator does
    ns = {l: n for l, (n, _) in got.items()}
    tot = sum(ns.values())
    zraw = sum(n ** alpha for n in ns.values())
    worst = 0.0
    per_lang = {}
    for l, (n, kept) in sorted(got.items()):
        p = min(1.0, budget * tot * (n ** alpha / zraw) / n)
        exp_kept = p * n
        sd = math.sqrt(n * p * (1 - p)) or 1.0
        z = (kept - exp_kept) / sd
        worst = max(worst, abs(z))
        per_lang[l] = {"n": n, "kept": kept, "target": round(exp_kept, 1),
                       "z": round(z, 3)}
    return {
        "probe": "mix_temperature_proportions", "n_docs": n_docs,
        "alpha": alpha, "budget": budget, "per_lang": per_lang,
        "worst_abs_z": round(worst, 3),
    }


def main() -> None:
    small = "--small" in sys.argv
    spark = get_spark("stat-contract-probe")
    scale = 1 if small else 20
    for row in probe_simhash(spark, n_pairs=500 * scale):
        print(json.dumps(row), flush=True)
    print(json.dumps(probe_bloom(spark, n=50_000 * scale)), flush=True)
    print(json.dumps(probe_hll(spark, n_per_group=62_500 * scale)), flush=True)
    print(json.dumps(probe_cms(spark, n_tokens=50_000 * scale * 20)), flush=True)
    print(json.dumps(probe_gumbel(spark, n_draws=25_000 * scale)), flush=True)
    for row in probe_training_order(spark, n_docs=100_000 * scale):
        print(json.dumps(row), flush=True)
    print(json.dumps(probe_winnowing(spark, n_docs=50 * scale)), flush=True)
    print(json.dumps(probe_mix_temperature(spark, n_docs=100_000 * scale)),
          flush=True)


if __name__ == "__main__":
    main()
