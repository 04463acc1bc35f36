"""Bigram LM perplexity filter (operators/lm.py): hand-computed
probabilities on a tiny corpus, per-language model isolation, the
sentinel bucket for unscorable docs, and the plan contract (model
broadcast, corpus never shuffled except by its own keys)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from crypto_data_pipeline_spark.operators import lm
import pytest


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def _fit(docs, path, min_count: int = 1):
    return lm.lm_fit(docs, str(path), min_count=min_count)


def test_bigram_lm_hand_computed(spark, tmp_path):
    """Corpus 'a b a b' + 'a b': grid/ctx counts and the scored
    cross-entropy must equal the arithmetic done by hand."""
    docs = _docs(spark, [(1, "en", "a b a b"), (2, "en", "a b")])
    grid, ctx, cont = _fit(docs, tmp_path / "m1")
    g = {(r.w1, r.w2): r.c12 for r in grid.collect()}
    # bigrams: doc1 -> (a,b),(b,a),(a,b); doc2 -> (a,b)
    assert g == {("a", "b"): 3, ("b", "a"): 1}
    c = {r.w1: (r.c1, r.vsize) for r in ctx.collect()}
    assert c == {"a": (3, 2), "b": (1, 2)}  # vsize: continuations {a, b}

    ppl = {
        r.doc_id: (r.n_bigrams, r.ppl)
        for r in lm.lm_scores(docs, grid, ctx, cont).collect()
    }
    # P(b|a) = (3+1)/(3+2) = 0.8 ; P(a|b) = (1+1)/(1+2) = 2/3
    p_ab, p_ba = 0.8, 2.0 / 3.0
    h1 = -(math.log(p_ab) + math.log(p_ba) + math.log(p_ab)) / 3
    assert ppl[1] == (3, round(math.exp(h1) + 1e-9, 6))
    assert ppl[2] == (1, round(1 / p_ab + 1e-9, 6))

    # min_count=2: (b,a) and context b fall out of the model; vsize
    # stays 2, so P(a|b) = (0+1)/(0+2) on the smoothing path
    grid, ctx, cont = _fit(docs, tmp_path / "m2", min_count=2)
    assert {(r.w1, r.w2): r.c12 for r in grid.collect()} == {("a", "b"): 3}
    assert {r.w1: (r.c1, r.vsize) for r in ctx.collect()} == {"a": (3, 2)}
    ppl = {
        r.doc_id: (r.n_bigrams, r.ppl)
        for r in lm.lm_scores(docs, grid, ctx, cont).collect()
    }
    h1 = -(math.log(p_ab) + math.log(0.5) + math.log(p_ab)) / 3
    assert ppl[1] == (3, round(math.exp(h1) + 1e-9, 6))
    assert ppl[2] == (1, round(1 / p_ab + 1e-9, 6))


def test_language_models_are_isolated_and_sentinel_bucket(spark, tmp_path):
    """A bigram seen often in one language must not raise its
    probability in another (per-language grids); docs without a bigram
    land in 'unscored' with the -1.0 sentinel; scored docs ntile into
    head/middle/tail per language."""
    rows = (
        [(i, "en", "x y x y x y") for i in range(6)]
        + [(10, "fr", "x y")]   # same bigram, different language
        + [(11, "fr", "q r")]
        + [(12, "fr", "q r")]
        + [(20, "en", "solo")]  # 1 token -> unscorable
    )
    docs = _docs(spark, rows)
    scores = lm.lm_scores(docs, *_fit(docs, tmp_path))
    out = {r.doc_id: r for r in lm.ntile_buckets(scores).collect()}
    assert out[20].bucket == "unscored" and out[20].ppl == -1.0
    # fr's model: bigrams (x,y)x1, (q,r)x2, vsize = {y, r} = 2
    # doc10: P(y|x) = (1+1)/(1+2) -> ppl = 1.5
    assert out[10].ppl == round(1.5 + 1e-9, 6)
    # en's (x,y) count is 18 vs fr's 1 — isolation shows in the score
    assert out[0].ppl < out[10].ppl
    buckets = {r.bucket for r in out.values() if r.lang == "en" and r.doc_id < 6}
    assert buckets == {"head", "middle", "tail"}


def test_serve_path_unseen_context_and_unscorable_docs(spark, tmp_path):
    """(a) a served doc whose context word the model never saw must
    score with the documented 1/V smoothing, not a NULL that sorts into
    'head'; (b) NULL-text docs (ANSI size(NULL) is NULL, not -1) and
    docs of a language the model never saw must surface as 'unscored',
    never vanish from the output."""
    model = _fit(_docs(spark, [(1, "en", "a b a b")]), tmp_path)

    # (a) unseen context 'z': P = 1/V = 1/2 per bigram -> ppl = 2.0
    serve = _docs(spark, [(10, "en", "z q z q")])
    got = lm.lm_scores(serve, *model).collect()
    assert [(r.doc_id, r.n_bigrams, r.ppl) for r in got] == [
        (10, 3, round(2.0 + 1e-9, 6))
    ]

    # (b) NULL text, single token, and untrained language all bucket
    # as 'unscored' in BOTH bucket forms — nothing disappears
    serve2 = _docs(
        spark,
        [(20, "en", "a b a"), (21, "en", None), (22, "en", "solo"),
         (23, "xx", "a b a b")],
    )
    s = lm.lm_scores(serve2, *model)
    for form, df in (("ntile", lm.ntile_buckets(s)),
                     ("bounded", lm.bounded_buckets(s, lm.tercile_bounds(s)))):
        out = {r.doc_id: r.bucket for r in df.collect()}
        assert set(out) == {20, 21, 22, 23}, form
        assert out[21] == out[22] == out[23] == "unscored", form
        assert out[20] != "unscored", form


def _py_terciles(out: dict) -> dict:
    """File each language's scored docs (bucket None) into
    head/middle/tail by (ppl, doc_id), the ntile(3) split."""
    for lang in {v[0] for v in out.values()}:
        scored = sorted(
            (d for d in out if out[d][0] == lang and out[d][3] is None),
            key=lambda d: (out[d][2], d),
        )
        n, k = len(scored), 3
        sizes = [n // k + (1 if i < n % k else 0) for i in range(k)]
        i = 0
        for bucket, sz in zip(("head", "middle", "tail"), sizes):
            for d in scored[i:i + sz]:
                out[d][3] = bucket
            i += sz
    return {d: tuple(v) for d, v in out.items()}


def _py_lm(rows, min_count: int = 1) -> dict:
    """A literal Python model of both smoothing families:
    {doc_id: (lang, n_bigrams, ppl, ppl_kn)}, with the 'unscored'
    sentinels (0, -1.0, -1.0) for a doc without bigrams or of a
    language whose every context count falls under ``min_count``.
    Pruning: a bigram, context or continuation under ``min_count``
    counts as 0 (a pruned context takes the unseen-context path);
    vsize and n1p_all stay exact from the FULL counts."""
    import re
    from collections import Counter, defaultdict

    D = 0.75
    grids = defaultdict(Counter)
    per_doc = {}
    for did, lang, t in rows:
        ts = re.sub(r"\s+", " ", t.strip().lower()).split(" ")
        pairs = list(zip(ts[:-1], ts[1:]))
        per_doc[did] = (lang, pairs)
        grids[lang].update(pairs)
    out = {}
    for did, (lang, pairs) in per_doc.items():
        g = grids[lang]
        c1, n1p_w1, n1p_w2 = Counter(), Counter(), Counter()
        for (w1, w2), c in g.items():
            c1[w1] += c
            n1p_w1[w1] += 1
            n1p_w2[w2] += 1
        if not pairs or max(c1.values()) < min_count:
            out[did] = (lang, 0, -1.0, -1.0)
            continue
        v, n1p_all = len(n1p_w2), len(g)

        def kept(n):
            return n if n >= min_count else 0

        lp, lp_kn = [], []
        for w1, w2 in pairs:
            c12, ctx = kept(g[(w1, w2)]), kept(c1[w1])
            lp.append(math.log((c12 + 1) / (ctx + v)))
            pcont = (kept(n1p_w2[w2]) + 1.0) / (n1p_all + v)
            if ctx:
                p = max(c12 - D, 0.0) / ctx + D * n1p_w1[w1] / ctx * pcont
            else:
                p = pcont
            lp_kn.append(math.log(p))
        out[did] = (lang, len(pairs)) + tuple(
            round(math.exp(-sum(x) / len(x)) + 1e-9, 6) for x in (lp, lp_kn)
        )
    return out


def _random_corpora(seed: int, n_cases: int, alphabet, min_docs, max_docs, min_toks, max_toks):
    import random

    rng = random.Random(seed)
    for _ in range(n_cases):
        yield [
            (
                did,
                rng.choice(["en", "fr"]),
                " ".join(rng.choice(alphabet) for _ in range(rng.randint(min_toks, max_toks))),
            )
            for did in range(rng.randint(min_docs, max_docs))
        ]


@pytest.mark.slow
def test_lm_matches_python_reference_on_random_corpora(spark, tmp_path):
    """Seeded random corpora replayed against a literal Python model
    (same coverage idea as hypothesis, one session — the
    test_cdc_properties pattern): from ONE fit, the add-one and the
    interpolated Kneser-Ney 6-dp perplexities (discounted seen mass,
    context-diversity backoff, add-one-smoothed continuations) AND each
    family's per-language ntile buckets must all agree, including
    unscorable docs and languages whose corpus has no bigram at all."""
    alphabet = ["aa", "bb", "cc", "dd", "ee"]
    corpora = [*_random_corpora(13, 15, alphabet, 3, 12, 1, 8),
               *_random_corpora(41, 10, alphabet, 3, 12, 1, 8)]
    for case, rows in enumerate(corpora):
        docs = _docs(spark, rows)
        scores = lm.lm_scores(docs, *_fit(docs, tmp_path / f"m{case}"))
        want = _py_lm(rows)
        for i, ppl in ((2, "ppl"), (3, "ppl_kn")):
            got = {
                r.doc_id: (r.lang, r.n_bigrams, r.ppl, r.bucket)
                for r in lm.ntile_buckets(scores, ppl).collect()
            }
            ref = _py_terciles({
                d: [v[0], v[1], v[i], None if v[1] else "unscored"]
                for d, v in want.items()
            })
            assert got == ref, (case, ppl, rows)


def test_kn_diversity_beats_raw_frequency(spark, tmp_path):
    """The property KN exists for: a continuation that is frequent but
    follows only ONE context ('francisco' after 'san') must get LESS
    unseen-context mass than a rarer but diverse continuation. Scored
    behind an unseen context, the diverse token wins."""
    # 'zz' appears 6x but only after 'san'; 'qq' appears 3x after 3
    # different contexts -> n1p('qq')=3 > n1p('zz')=1
    train = _docs(
        spark,
        [(1, "en", "san zz san zz san zz san zz san zz san zz"),
         (2, "en", "aa qq bb qq cc qq dd ee")],
    )
    model = _fit(train, tmp_path)
    serve = _docs(spark, [(10, "en", "unseen zz"), (11, "en", "unseen qq")])
    got = {r.doc_id: r.ppl_kn for r in lm.lm_scores(serve, *model).collect()}
    # lower perplexity = higher probability: the diverse 'qq' wins
    assert got[11] < got[10], got


@pytest.mark.slow
def test_min_count_pruning_matches_python_reference(spark, tmp_path):
    """The pruning rule of both families, pinned against a literal
    Python model on seeded random corpora: grid keeps c12 >= min_count,
    ctx keeps c1 >= min_count, cont keeps n1p_w2 >= min_count; vsize and
    n1p_all stay exact from the FULL counts; a pruned row falls through
    scoring's coalesce(..., 0) path (a pruned context takes the
    unseen-context probability), and a language whose every context is
    pruned scores as untrained. The unpruned statistics a pruned fit
    lands under ``unpruned/`` equal the min_count=1 model."""
    alphabet = ["aa", "bb", "cc", "dd", "ee", "ff"]
    corpora = [*_random_corpora(29, 10, alphabet, 4, 10, 2, 10),
               *_random_corpora(47, 10, alphabet, 4, 10, 2, 10)]
    for case, rows in enumerate(corpora):
        docs = _docs(spark, rows)
        for mc in (1, 2, 3):
            model = _fit(docs, tmp_path / f"m{case}_{mc}", min_count=mc)
            got = {
                r.doc_id: (r.lang, r.n_bigrams, r.ppl, r.ppl_kn)
                for r in lm.lm_scores(docs, *model).collect()
            }
            assert got == _py_lm(rows, mc), (case, mc, rows)
        full = lm.lm_load(spark, str(tmp_path / f"m{case}_2" / "unpruned"))
        for f1, f0 in zip(lm.lm_load(spark, str(tmp_path / f"m{case}_1")), full):
            assert sorted(map(tuple, f1.collect())) == sorted(map(tuple, f0.collect()))


def test_min_count_prunes_rows_and_keeps_vsize_exact(spark, tmp_path):
    """Structural check of the pruning rule on a hand-built corpus:
    the rare bigram leaves the grid, the rare context leaves ctx, the
    rare continuations leave cont, and every surviving ctx row still
    carries the FULL vocabulary size."""
    # en: (a,b)x3, (b,a)x3, (a,c)x2, (c,a)x1  -> c1: a=5, b=3, c=1
    docs = _docs(spark, [(1, "en", "a b a b a c a b"), (2, "en", "b a c")])
    grid, ctx, cont = _fit(docs, tmp_path, min_count=2)
    g = {(r.w1, r.w2): r.c12 for r in grid.collect()}
    assert g == {("a", "b"): 3, ("b", "a"): 3, ("a", "c"): 2}  # (c,a) pruned
    c = {r.w1: (r.c1, r.vsize) for r in ctx.collect()}
    # context c (c1=1) pruned; vsize stays the FULL {a,b,c} = 3
    assert c == {"a": (5, 3), "b": (3, 3)}
    # continuation counts: a follows {b, c}; b and c follow only a
    assert {r.w2: r.n1p_w2 for r in cont.collect()} == {"a": 2}


def test_lm_join_strategy_is_measured_not_hinted(spark, tmp_path):
    """The fitted grid/ctx/cont are corpus-vocabulary-proportional, so
    the scoring joins must leave the strategy to AQE. Contract: (a) at
    fixture scale AQE still picks BroadcastHashJoin for the model joins
    on its own; (b) with broadcast disabled the SAME code plans a
    shuffled join — which a broadcast hint would override
    unconditionally, OOMing the driver on a web-scale vocabulary."""
    rows = [(i, "en", "a b c d e f g h") for i in range(50)]
    docs = _docs(spark, rows)
    model = _fit(docs, tmp_path)

    def final_plan(df) -> str:
        df._jdf.queryExecution().toRdd().count()
        return df._jdf.queryExecution().executedPlan().toString()

    plan = final_plan(lm.lm_scores(docs, *model))
    assert "BroadcastHashJoin" in plan, plan  # AQE's measured choice

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = final_plan(lm.lm_scores(docs, *model))
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_model_at_rest_roundtrip_and_broadcast(spark, tmp_path):
    """`lm_fit` lands the model losslessly: the pruned frames read back
    from rest (and again by `lm_load`) equal the lineage-only fit
    (`bigram_grid` -> `bigram_cont` -> `bigram_ctx`, pruned), and both
    score columns of the reloaded model equal the returned one's. The
    planner half: a pruned model read from REST must BROADCAST in ALL
    FOUR scoring joins (the totals hint, ctx/grid/cont by measurement),
    because a parquet scan carries accurate size statistics."""
    rows = [(i, "en", f"a b a c tok{i % 40} a b") for i in range(200)] + [
        (500 + i, "fr", f"x y x z w{i % 11}") for i in range(60)
    ]
    docs = _docs(spark, rows)
    model = _fit(docs, tmp_path / "m", min_count=2)

    grid = lm.bigram_grid(docs)
    cont = lm.bigram_cont(grid)
    lineage = (grid, lm.bigram_ctx(grid, cont), cont)
    reloaded = lm.lm_load(spark, str(tmp_path / "m"))
    for landed, again, fitted, count in zip(
        model, reloaded, lineage, ("c12", "c1", "n1p_w2")
    ):
        want = sorted(map(tuple, fitted.where(F.col(count) >= 2).collect()))
        assert sorted(map(tuple, landed.collect())) == want
        assert sorted(map(tuple, again.collect())) == want

    assert set(lm.lm_scores(docs, *reloaded).collect()) == set(
        lm.lm_scores(docs, *model).collect()
    )

    scored = lm.lm_scores(docs, *reloaded)
    scored._jdf.queryExecution().toRdd().count()
    plan = (
        scored._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan.count("BroadcastHashJoin") == 4, plan
    assert "SortMergeJoin" not in plan, plan


def test_source_curation_decisions(spark, tmp_path):
    """The per-source decision rule fires on constructed pathologies:
    a clone-farm source (dup_ratio) drops, a spam source (keep_ratio)
    drops, and a healthy source keeps. Exercises the branches the
    synthetic fixture corpus (all-keep) never reaches."""
    from crypto_data_pipeline_spark.plans.registry import load_with_extras

    healthy = (
        "the cat sat on the mat with a dog and the bird flew over the "
        "green tree near the old red house by the long quiet river"
    )
    rows = (
        # srcA: 10 verbatim clones of one doc -> dup_ratio 0.9 -> drop
        [(i, healthy + " again today", "en", "srcA", 1) for i in range(10)]
        # srcB: too-short spam -> keep_ratio 0 -> drop
        + [(20 + i, "x y", "en", "srcB", 1) for i in range(6)]
        # srcC: six distinct healthy docs -> keep
        + [(40 + i, healthy + f" variant {i} appears here", "en", "srcC", 1)
           for i in range(6)]
        # srcD: 7 clones among 19 distinct (dup_ratio 0.24) -> review.
        # Own language label: the LM terciles are per-language, so this
        # source must not perturb srcC's en ranking.
        + [(60 + i, healthy + " cloned copy", "fr", "srcD", 1) for i in range(7)]
        + [(70 + i, healthy + f" fresh item {i} here", "fr", "srcD", 1)
           for i in range(18)]
    )
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))

    out = {
        r.source: r
        for r in load_with_extras()["source_curation_report"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert out["srcA"].decision == "drop" and out["srcA"].dup_ratio == 0.9
    assert out["srcB"].decision == "drop" and out["srcB"].keep_ratio == 0.0
    assert out["srcC"].decision == "keep"
    assert out["srcC"].n_docs == 6 and out["srcC"].n_distinct == 6
    assert out["srcD"].decision == "review" and out["srcD"].dup_ratio == 0.24


def _write_source_docs(spark, path: str, rows) -> None:
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def _source_rows(version: int):
    """A small multi-source corpus; ``version`` changes its texts,
    sizes and source names."""
    base = "the cat sat on the mat with a dog and the bird flew over the tree"
    srcs = (
        [("en", "s1")] * 8
        + [("fr", "s2")] * (6 + 4 * version)
        + [("en", f"s{3 + version}")] * 5
    )
    rows = [
        (i, f"{base} item {i % (3 + version)} seen {version}", lang, src, 1)
        for i, (lang, src) in enumerate(srcs)
    ]
    return rows + [(90 + version, "solo", "en", "s1", 1)]


def _model_dirs(tmp: str) -> list[str]:
    import os

    return sorted(d for d in os.listdir(tmp) if d.startswith("lm_model_"))


@pytest.fixture
def lm_tmpdir(tmp_path, monkeypatch):
    """Route the at-rest temp dirs into this test's own directory, so
    the model-dir count sees only dirs this test created."""
    import tempfile

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    return str(tmp)


def test_four_lm_queries_share_one_fit(spark, tmp_path, lm_tmpdir, monkeypatch):
    """The add-one and KN bucket queries, the source report and the RHO
    selection all serve from ONE at-rest fit per (session, corpus):
    the corpus-sized grid is built once and one model dir exists."""
    from crypto_data_pipeline_spark.plans.registry import load_with_extras

    calls = []
    real = lm.bigram_grid

    def counted(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(lm, "bigram_grid", counted)
    sf = str(tmp_path / "sf")
    _write_source_docs(spark, sf, _source_rows(0))
    specs = load_with_extras()
    for name in ("lm_perplexity_buckets", "lm_perplexity_buckets_kn",
                 "source_curation_report", "rho_excess_perplexity_select"):
        assert specs[name].fn(spark, sf).count() > 0, name
    assert len(calls) == 1
    assert len(_model_dirs(lm_tmpdir)) == 1


def test_lm_serve_caches_refit_on_changed_documents(spark, tmp_path, lm_tmpdir):
    """Rewriting documents.parquet under the same sf_dir must not serve
    the old corpus's LM or per-doc frames: the second report matches
    the NEW corpus's DuckDB oracle, and the stale refit leaves exactly
    one model dir behind."""
    import time

    import duckdb

    from crypto_data_pipeline_spark import serve_store
    from crypto_data_pipeline_spark.plans.registry import load_with_extras

    spec = load_with_extras()["source_curation_report"]
    sf = str(tmp_path / "sf")
    _write_source_docs(spark, sf, _source_rows(0))
    first = spec.fn(spark, sf).collect()
    time.sleep(0.05)  # ensure mtime_ns moves even on coarse filesystems
    _write_source_docs(spark, sf, _source_rows(1))
    sdf = spec.fn(spark, sf)
    got = sorted(tuple(r[c] for c in sorted(sdf.columns)) for r in sdf.collect())

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    res = con.execute(spec.oracle)
    cols = [d[0] for d in res.description]
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    want = sorted(tuple(r[i] for i in idx) for r in res.fetchall())
    assert sorted(cols) == sorted(sdf.columns)
    assert got == want and got != sorted(
        tuple(r[c] for c in sorted(sdf.columns)) for r in first
    )
    assert len(_model_dirs(lm_tmpdir)) == 1
    # the one live LM entry is this sf_dir's, fingerprinted on the new corpus
    entry = serve_store._ENTRIES["lm_model"]
    assert entry.key[1] == sf
    assert entry.fingerprint == serve_store.fingerprint(sf, ("documents",))


def test_approx_buckets_agree_with_exact(spark, sf_dir, tmp_path):
    """Bucketing against frozen bounds of the same scores
    (`bounded_buckets(s, tercile_bounds(s))`, the zero-global-sort
    form) must (a) plan NO sort/ntile window over the scored docs, and
    (b) assign the same bucket as the exact tercile split for nearly
    every document, under both score columns — disagreement is confined
    to boundary ranks (the sketch's documented rank-error), never a
    wholesale shift."""
    from crypto_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    s = lm.lm_scores(docs, *_fit(docs, tmp_path))
    order = {"head": 0, "middle": 1, "tail": 2, "unscored": -1}
    for ppl in ("ppl", "ppl_kn"):
        exact = {r.doc_id: r.bucket for r in lm.ntile_buckets(s, ppl).collect()}
        approx_df = lm.bounded_buckets(s, lm.tercile_bounds(s, ppl), ppl)
        approx = {r.doc_id: r.bucket for r in approx_df.collect()}
        assert set(approx) == set(exact), ppl
        agree = sum(1 for d in exact if exact[d] == approx[d])
        assert agree / len(exact) >= 0.95, (ppl, agree, len(exact))
        # every disagreement is a neighbor-bucket slip, never head<->tail
        for d in exact:
            assert abs(order[exact[d]] - order[approx[d]]) <= 1, (ppl, d)

        plan = approx_df._jdf.queryExecution().executedPlan().toString()
        assert "ntile(" not in plan.lower()  # ('percentile_approx' is fine)
        assert "rangepartitioning" not in plan.lower()  # no global sort


def test_lm_plan_contract(spark, sf_dir):
    """Scale shape: the fitted model rides in as broadcasts, no
    row-at-a-time Python appears, and no cartesian product sneaks into
    the scoring join. The served query reads the landed score table,
    so the scoring join is the one `lm_scores` plans against the
    entry's at-rest model."""
    from crypto_data_pipeline_spark import serve_store
    from crypto_data_pipeline_spark.plans.registry import load_with_extras
    from crypto_data_pipeline_spark.sources.tables import load_table

    df = load_with_extras()["lm_perplexity_buckets"].fn(spark, sf_dir)
    served = df._jdf.queryExecution().executedPlan().toString()
    model = lm.lm_load(spark, serve_store._ENTRIES["lm_model"].tmp)
    scoring = lm.lm_scores(load_table(spark, sf_dir, "documents"), *model)
    plan = scoring._jdf.queryExecution().executedPlan().toString()
    for p in (served, plan):
        assert "BatchEvalPython" not in p
        assert "CartesianProduct" not in p
    assert "Join" not in served  # the served query scores nothing
    assert "BroadcastHashJoin" in plan  # the model joins broadcast
