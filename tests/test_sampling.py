"""Property tests for operators/sampling.py: the guarantees that make
deterministic sampling worth having — partitioning-independence, exact
stratum behavior, group-level leakage-freedom, and sane proportions.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from crypto_data_pipeline_spark.operators import sampling
from crypto_data_pipeline_spark.sources.tables import load_table


def test_sample_invariant_under_repartition(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    a = {r.doc_id for r in sampling.deterministic_sample(docs, "doc_id", 0.25).select("doc_id").collect()}
    shuffled = docs.repartition(13, "lang")
    b = {r.doc_id for r in sampling.deterministic_sample(shuffled, "doc_id", 0.25).select("doc_id").collect()}
    assert a == b and a  # identical membership, non-empty


def test_sample_fraction_monotone_and_nested(spark, sf_dir):
    """A 10% sample is a subset of the 30% sample at the same salt —
    threshold sampling gives nested samples for free (grow a training
    set without resampling)."""
    docs = load_table(spark, sf_dir, "documents")
    s10 = {r.doc_id for r in sampling.deterministic_sample(docs, "doc_id", 0.10).collect()}
    s30 = {r.doc_id for r in sampling.deterministic_sample(docs, "doc_id", 0.30).collect()}
    assert s10 < s30


def test_split_no_group_leakage(spark, sf_dir):
    """Splitting events on user_id: every user's rows land in exactly
    one split."""
    events = load_table(spark, sf_dir, "events")
    labeled = events.withColumn(
        "split", sampling.split_column(F.col("user_id"), {"train": 0.8, "val": 0.1, "test": 0.1})
    )
    per_user = labeled.groupBy("user_id").agg(F.countDistinct("split").alias("n"))
    assert per_user.filter(F.col("n") > 1).count() == 0


def test_split_proportions(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    labeled = docs.withColumn(
        "split", sampling.split_column(F.col("doc_id"), {"train": 0.8, "val": 0.1, "test": 0.1})
    )
    got = {r.split: r.n for r in labeled.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(got) == {"train", "val", "test"}
    assert abs(got["train"] / n - 0.8) < 0.1


def test_weighted_mix_keeps_default_strata_intact(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    mixed = sampling.weighted_mix(docs, "doc_id", "lang", {"en": 0.3})
    before = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    after = {r.lang: r.n for r in mixed.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, n in before.items():
        if lang == "en":
            assert after[lang] < n  # down-sampled
        else:
            assert after[lang] == n  # untouched


def test_pack_sequences_budget_and_contiguity(spark, sf_dir):
    """Each pack holds < budget + its last doc's tokens (one-doc
    overflow bound); packs are contiguous runs per stratum; every doc
    is packed exactly once."""
    from crypto_data_pipeline_spark.operators import text

    budget = 500
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "toks", F.size(text.tokens("text")).cast("long")
    )
    packed = sampling.pack_sequences(docs, "doc_id", "toks", budget=budget, stratum="source")
    rows = packed.select("source", "doc_id", "toks", "pack_id").collect()
    assert len(rows) == docs.count()

    by_stratum: dict = {}
    for r in sorted(rows, key=lambda r: (r.source, r.doc_id)):
        by_stratum.setdefault(r.source, []).append(r)
    for seq in by_stratum.values():
        ids = [r.pack_id for r in seq]
        assert ids == sorted(ids) and ids[0] == 0  # contiguous runs from 0
        packs: dict = {}
        for r in seq:
            packs.setdefault(r.pack_id, []).append(r.toks)
        for toks in packs.values():
            assert sum(toks) < budget + toks[-1]  # overflow only by the last doc
        # cumulative boundary invariant: packs 0..k jointly cover the
        # first (k+1)*budget tokens (individual packs may undershoot by
        # exactly the previous pack's overflow, never more)
        running = 0
        for pid in list(packs)[:-1]:
            running += sum(packs[pid])
            assert running >= (pid + 1) * budget


def test_sample_filter_pushes_to_scan(spark, sf_dir):
    """The sampling predicate must not break whole-stage codegen or
    introduce a shuffle: plan is scan→filter→project only."""
    docs = load_table(spark, sf_dir, "documents")
    plan = (
        sampling.deterministic_sample(docs, "doc_id", 0.1)
        .select("doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    # '*(n)' prefixes mark whole-stage-codegen stages in plan toString
    assert plan.lstrip().startswith("*(")


def test_stratified_fixed_n_quota_and_determinism(spark, sf_dir):
    """Exactly n per stratum (all rows of a smaller stratum), identical
    selection across runs/repartitionings, and the rank<=n must ride
    WindowGroupLimit so the stratum shuffle carries only candidates."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    out = sampling.stratified_fixed_n(docs, "doc_id", "lang", 5, salt=19)
    per = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    sizes = {r["lang"]: r["n"] for r in
             docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert per == {lang: min(5, n) for lang, n in sizes.items()}

    again = sampling.stratified_fixed_n(
        docs.repartition(13), "doc_id", "lang", 5, salt=19
    )
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_weighted_sample_inclusion_tracks_weight(spark):
    """A-ES statistical contract: across 200 salted draws of n=3 from
    10 items where item 0 has 20x the weight of the rest, item 0 must
    be included far more often than any unit-weight item. All 200
    draws evaluate in ONE job: explode the salt range, recompute the
    priority per (item, salt), rank within each salt. The uniform is
    the AVALANCHE hash, mirroring weighted_sample itself (round 12 —
    top-k across keys is a joint statistic; the affine lattice form
    this test originally used is exactly what the operator no longer
    ships)."""
    from pyspark.sql import Window, functions as F

    from crypto_data_pipeline_spark.operators.sampling import MOD, avalanche_bucket

    items = spark.createDataFrame(
        [(i, 20.0 if i == 0 else 1.0) for i in range(10)], "k long, w double"
    )
    drawn = items.select(
        "k", "w", F.explode(F.sequence(F.lit(0), F.lit(199))).alias("salt")
    )
    hb = avalanche_bucket(F.col("k"), salt=F.col("salt") * 7919)
    u = (hb + F.lit(1)).cast("double") / F.lit(float(MOD) + 1.0)
    pr = -F.log(u) / F.col("w")
    win = Window.partitionBy("salt").orderBy(pr, F.col("k"))
    counts = {
        r.k: r.n
        for r in drawn.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") <= 3)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    heavy = counts.get(0, 0)
    max_light = max(v for k, v in counts.items() if k != 0)
    # 20x weight -> near-certain inclusion; unit items split the rest
    assert heavy > 150, counts
    assert heavy > 2 * max_light, counts


def test_spark_sql_avalanche_twin_equals_column_form(spark):
    """The SQL-text avalanche the simhash sketch inlines computes the
    same bucket as `avalanche_bucket`, negative keys and both salts
    included."""
    keys = spark.range(-2000, 2000).select(
        (F.col("id") * F.lit(1_000_003)).alias("k")
    )
    for salt in (0, 1):
        diff = keys.where(
            F.expr(sampling.spark_sql_avalanche_bucket("k", salt))
            != sampling.avalanche_bucket(F.col("k"), salt)
        ).count()
        assert diff == 0, salt
