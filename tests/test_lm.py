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


def test_bigram_lm_hand_computed(spark):
    """Corpus 'a b a b' + 'a b': grid/ctx counts and the scored
    cross-entropy must equal the arithmetic done by hand."""
    docs = _docs(spark, [(1, "en", "a b a b"), (2, "en", "a b")])
    grid, ctx = lm.bigram_lm_train(docs)
    g = {(r.w1, r.w2): r.c12 for r in grid.collect()}
    # bigrams: doc1 -> (a,b),(b,a),(a,b); doc2 -> (a,b)
    assert g == {("a", "b"): 3, ("b", "a"): 1}
    c = {r.w1: (r.c1, r.vsize) for r in ctx.collect()}
    assert c == {"a": (3, 2), "b": (1, 2)}  # vsize: continuations {a, b}

    ppl = {
        r.doc_id: (r.n_bigrams, r.ppl)
        for r in lm.bigram_lm_perplexity(docs, grid, ctx).collect()
    }
    # P(b|a) = (3+1)/(3+2) = 0.8 ; P(a|b) = (1+1)/(1+2) = 2/3
    p_ab, p_ba = 0.8, 2.0 / 3.0
    h1 = -(math.log(p_ab) + math.log(p_ba) + math.log(p_ab)) / 3
    assert ppl[1] == (3, round(math.exp(h1) + 1e-9, 6))
    assert ppl[2] == (1, round(1 / p_ab + 1e-9, 6))

    # min_count=2: (b,a) and context b fall out of the model; vsize
    # stays 2, so P(a|b) = (0+1)/(0+2) on the smoothing path
    grid, ctx = lm.bigram_lm_train(docs, min_count=2)
    assert {(r.w1, r.w2): r.c12 for r in grid.collect()} == {("a", "b"): 3}
    assert {r.w1: (r.c1, r.vsize) for r in ctx.collect()} == {"a": (3, 2)}
    ppl = {
        r.doc_id: (r.n_bigrams, r.ppl)
        for r in lm.bigram_lm_perplexity(docs, grid, ctx).collect()
    }
    h1 = -(math.log(p_ab) + math.log(0.5) + math.log(p_ab)) / 3
    assert ppl[1] == (3, round(math.exp(h1) + 1e-9, 6))
    assert ppl[2] == (1, round(1 / p_ab + 1e-9, 6))


def test_language_models_are_isolated_and_sentinel_bucket(spark):
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
    out = {r.doc_id: r for r in lm.perplexity_buckets(_docs(spark, rows)).collect()}
    assert out[20].bucket == "unscored" and out[20].ppl == -1.0
    # fr's model: bigrams (x,y)x1, (q,r)x2, vsize = {y, r} = 2
    # doc10: P(y|x) = (1+1)/(1+2) -> ppl = 1.5
    assert out[10].ppl == round(1.5 + 1e-9, 6)
    # en's (x,y) count is 18 vs fr's 1 — isolation shows in the score
    assert out[0].ppl < out[10].ppl
    buckets = {r.bucket for r in out.values() if r.lang == "en" and r.doc_id < 6}
    assert buckets == {"head", "middle", "tail"}


def test_serve_path_unseen_context_and_unscorable_docs(spark):
    """Round-7 review findings, both verified-by-execution: (a) a
    served doc whose context word the model never saw must score with
    the documented 1/V smoothing, not a NULL that sorts into 'head';
    (b) NULL-text docs (ANSI size(NULL) is NULL, not -1) and docs of a
    language the model never saw must surface as 'unscored', never
    vanish from the output."""
    train = _docs(spark, [(1, "en", "a b a b")])
    grid, ctx = lm.bigram_lm_train(train)

    # (a) unseen context 'z': P = 1/V = 1/2 per bigram -> ppl = 2.0
    serve = _docs(spark, [(10, "en", "z q z q")])
    got = lm.bigram_lm_perplexity(serve, grid, ctx).collect()
    assert [(r.doc_id, r.n_bigrams, r.ppl) for r in got] == [
        (10, 3, round(2.0 + 1e-9, 6))
    ]

    # (b) NULL text, single token, and untrained language all bucket
    # as 'unscored' in BOTH bucket variants — nothing disappears
    serve2 = _docs(
        spark,
        [(20, "en", "a b a"), (21, "en", None), (22, "en", "solo"),
         (23, "xx", "a b a b")],
    )
    for fn in (lm.perplexity_buckets, lm.perplexity_buckets_approx):
        out = {r.doc_id: r.bucket for r in fn(serve2, model=(grid, ctx)).collect()}
        assert set(out) == {20, 21, 22, 23}, fn.__name__
        assert out[21] == out[22] == out[23] == "unscored", fn.__name__
        assert out[20] != "unscored", fn.__name__


@pytest.mark.slow
def test_lm_matches_python_reference_on_random_corpora(spark):
    """Seeded random corpora replayed against a literal Python model
    (same coverage idea as hypothesis, one session — the
    test_cdc_properties pattern): bigram counts, add-one probabilities,
    6-dp perplexities AND the per-language ntile bucket assignment must
    all agree, including unscorable docs and languages whose corpus has
    no bigram at all."""
    import random
    import re
    from collections import Counter, defaultdict

    def py_model(rows):
        grids, ctxs, vocs = {}, {}, defaultdict(set)
        per_doc = {}
        for did, lang, t in rows:
            ts = re.sub(r"\s+", " ", t.strip().lower()).split(" ")
            pairs = list(zip(ts[:-1], ts[1:]))
            per_doc[did] = (lang, pairs)
            grids.setdefault(lang, Counter()).update(pairs)
            ctxs.setdefault(lang, Counter()).update(w1 for w1, _ in pairs)
            vocs[lang].update(w2 for _, w2 in pairs)
        out = {}
        for did, (lang, pairs) in per_doc.items():
            if not pairs:
                out[did] = [lang, 0, -1.0, "unscored"]
                continue
            lp = [
                math.log(
                    (grids[lang][p] + 1) / (ctxs[lang][p[0]] + len(vocs[lang]))
                )
                for p in pairs
            ]
            ppl = round(math.exp(-sum(lp) / len(lp)) + 1e-9, 6)
            out[did] = [lang, len(pairs), ppl, None]
        for lang in {r[1] for r in rows}:
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

    rng = random.Random(13)
    alphabet = ["aa", "bb", "cc", "dd", "ee"]
    for case in range(15):
        rows = []
        for did in range(rng.randint(3, 12)):
            lang = rng.choice(["en", "fr"])
            n = rng.randint(1, 8)
            rows.append(
                (did, lang, " ".join(rng.choice(alphabet) for _ in range(n)))
            )
        got = {
            r.doc_id: (r.lang, r.n_bigrams, r.ppl, r.bucket)
            for r in lm.perplexity_buckets(_docs(spark, rows)).collect()
        }
        assert got == py_model(rows), (case, rows)


@pytest.mark.slow
def test_kn_matches_python_reference_on_random_corpora(spark):
    """Interpolated Kneser-Ney (round-8): seeded random corpora
    replayed against a literal Python model — discounted seen mass,
    context-diversity backoff, add-one-smoothed continuation
    probabilities, 6-dp perplexities AND the per-language ntile
    buckets must all agree, including unscorable docs."""
    import random
    import re
    from collections import Counter, defaultdict

    D = 0.75

    def py_model(rows):
        grids = defaultdict(Counter)
        per_doc = {}
        for did, lg, t in rows:
            ts = re.sub(r"\s+", " ", t.strip().lower()).split(" ")
            pairs = list(zip(ts[:-1], ts[1:]))
            per_doc[did] = (lg, pairs)
            grids[lg].update(pairs)
        stats = {}
        for lg, g in grids.items():
            c1, n1p_w1, n1p_w2 = Counter(), Counter(), Counter()
            for (w1, w2), c in g.items():
                c1[w1] += c
                n1p_w1[w1] += 1
                n1p_w2[w2] += 1
            stats[lg] = (c1, n1p_w1, n1p_w2, len(g), len({w2 for _, w2 in g}))
        out = {}
        for did, (lg, pairs) in per_doc.items():
            if not pairs or lg not in stats:
                out[did] = [lg, 0, -1.0, "unscored"]
                continue
            c1, n1p_w1, n1p_w2, n1p_all, v = stats[lg]
            g = grids[lg]
            lp = []
            for w1, w2 in pairs:
                pcont = (n1p_w2[w2] + 1.0) / (n1p_all + v)
                if w1 in c1:
                    p = (
                        max(g[(w1, w2)] - D, 0.0) / c1[w1]
                        + D * n1p_w1[w1] / c1[w1] * pcont
                    )
                else:
                    p = pcont
                lp.append(math.log(p))
            ppl = round(math.exp(-sum(lp) / len(lp)) + 1e-9, 6)
            out[did] = [lg, len(pairs), ppl, None]
        for lg in {r[1] for r in rows}:
            scored = sorted(
                (d for d in out if out[d][0] == lg and out[d][3] is None),
                key=lambda d: (out[d][2], d),
            )
            n, k = len(scored), 3
            sizes = [n // k + (1 if i < n % k else 0) for i in range(k)]
            i = 0
            for bucket, sz in zip(("head", "middle", "tail"), sizes):
                for d in scored[i:i + sz]:
                    out[d][3] = bucket
                i += sz
        return {d: tuple(val) for d, val in out.items()}

    rng = random.Random(41)
    alphabet = ["aa", "bb", "cc", "dd", "ee"]
    for case in range(10):
        rows = []
        for did in range(rng.randint(3, 12)):
            lg = rng.choice(["en", "fr"])
            n = rng.randint(1, 8)
            rows.append(
                (did, lg, " ".join(rng.choice(alphabet) for _ in range(n)))
            )
        got = {
            r.doc_id: (r.lang, r.n_bigrams, r.ppl, r.bucket)
            for r in lm.kn_perplexity_buckets(_docs(spark, rows)).collect()
        }
        assert got == py_model(rows), (case, rows)


def test_kn_diversity_beats_raw_frequency(spark):
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
    grid, ctx, cont = lm.bigram_lm_kn_train(train)
    serve = _docs(spark, [(10, "en", "unseen zz"), (11, "en", "unseen qq")])
    got = {
        r.doc_id: r.ppl
        for r in lm.bigram_lm_kn_perplexity(serve, grid, ctx, cont).collect()
    }
    # lower perplexity = higher probability: the diverse 'qq' wins
    assert got[11] < got[10], got


@pytest.mark.slow
def test_min_count_pruning_matches_python_reference(spark):
    """The pruning rule, pinned against a literal Python model on
    seeded random corpora: grid keeps c12 >= min_count, ctx keeps
    c1 >= min_count, vsize stays exact from the FULL counts, and a
    pruned bigram/context scores through the add-one smoothing path
    ((coalesce(c12,0)+1)/(coalesce(c1,0)+V)). min_count=1 must be
    byte-identical to the unpruned model (exact back-compat)."""
    import random
    import re
    from collections import Counter, defaultdict

    def py_ppl(rows, min_count):
        grids, ctxs, vocs = {}, {}, defaultdict(set)
        per_doc = {}
        for did, lang, t in rows:
            ts = re.sub(r"\s+", " ", t.strip().lower()).split(" ")
            pairs = list(zip(ts[:-1], ts[1:]))
            per_doc[did] = (lang, pairs)
            grids.setdefault(lang, Counter()).update(pairs)
            ctxs.setdefault(lang, Counter()).update(w1 for w1, _ in pairs)
            vocs[lang].update(w2 for _, w2 in pairs)
        out = {}
        for did, (lang, pairs) in per_doc.items():
            if not pairs:
                continue
            # a language whose every context count falls under
            # min_count leaves the model entirely (no ctx row carries
            # its vsize) — its docs are 'untrained-language' and drop
            # out of bigram_lm_perplexity (perplexity_buckets files
            # them as 'unscored')
            if max(ctxs[lang].values()) < min_count:
                continue
            lp = []
            for p in pairs:
                c12 = grids[lang][p] if grids[lang][p] >= min_count else 0
                c1 = ctxs[lang][p[0]] if ctxs[lang][p[0]] >= min_count else 0
                lp.append(math.log((c12 + 1) / (c1 + len(vocs[lang]))))
            out[did] = (len(pairs), round(math.exp(-sum(lp) / len(lp)) + 1e-9, 6))
        return out

    rng = random.Random(29)
    alphabet = ["aa", "bb", "cc", "dd", "ee", "ff"]
    for case in range(10):
        rows = [
            (
                did,
                rng.choice(["en", "fr"]),
                " ".join(rng.choice(alphabet) for _ in range(rng.randint(2, 10))),
            )
            for did in range(rng.randint(4, 10))
        ]
        docs = _docs(spark, rows)
        for mc in (1, 2, 3):
            grid, ctx = lm.bigram_lm_train(docs, min_count=mc)
            got = {
                r.doc_id: (r.n_bigrams, r.ppl)
                for r in lm.bigram_lm_perplexity(docs, grid, ctx).collect()
            }
            assert got == py_ppl(rows, mc), (case, mc, rows)
        # min_count=1 back-compat: model frames identical to unpruned
        g1, c1 = lm.bigram_lm_train(docs, min_count=1)
        g0, c0 = lm.bigram_lm_train(docs)
        assert sorted(map(tuple, g1.collect())) == sorted(map(tuple, g0.collect()))
        assert sorted(map(tuple, c1.collect())) == sorted(map(tuple, c0.collect()))


def test_min_count_prunes_rows_and_keeps_vsize_exact(spark):
    """Structural check of the pruning rule on a hand-built corpus:
    the rare bigram leaves the grid, the rare context leaves ctx, and
    every surviving ctx row still carries the FULL vocabulary size."""
    # en: (a,b)x3, (b,a)x3, (a,c)x2, (c,a)x1  -> c1: a=5, b=3, c=1
    docs = _docs(spark, [(1, "en", "a b a b a c a b"), (2, "en", "b a c")])
    grid, ctx = lm.bigram_lm_train(docs, min_count=2)
    g = {(r.w1, r.w2): r.c12 for r in grid.collect()}
    assert g == {("a", "b"): 3, ("b", "a"): 3, ("a", "c"): 2}  # (c,a) pruned
    c = {r.w1: (r.c1, r.vsize) for r in ctx.collect()}
    # context c (c1=1) pruned; vsize stays the FULL {a,b,c} = 3
    assert c == {"a": (5, 3), "b": (3, 3)}


def test_lm_join_strategy_is_measured_not_hinted(spark):
    """The fitted grid/ctx are corpus-vocabulary-proportional, so the
    scoring joins must leave the strategy to AQE (round-8 fix; the
    round-7 code force-broadcast them). Contract: (a) at fixture
    scale AQE still picks BroadcastHashJoin for the model joins on its
    own; (b) with broadcast disabled the SAME code plans a shuffled
    join — which the old hint would have overridden unconditionally,
    OOMing the driver on a real web-scale vocabulary."""
    rows = [(i, "en", "a b c d e f g h") for i in range(50)]
    docs = _docs(spark, rows)
    grid, ctx = lm.bigram_lm_train(docs)

    def final_plan(df) -> str:
        df._jdf.queryExecution().toRdd().count()
        return df._jdf.queryExecution().executedPlan().toString()

    plan = final_plan(lm.bigram_lm_perplexity(docs, grid, ctx))
    assert "BroadcastHashJoin" in plan, plan  # AQE's measured choice

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = final_plan(lm.bigram_lm_perplexity(docs, grid, ctx))
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_model_at_rest_roundtrip_and_broadcast(spark, tmp_path):
    """save_lm_model/load_lm_model: a model reloaded from parquet must
    score byte-identically to the in-session fit (grid/ctx/bounds all
    round-trip), and — the planner half of the contract — a pruned
    megabyte-scale model read from REST must BROADCAST in the scoring
    plan, because a parquet scan carries accurate size statistics
    where checkpoint lineage estimates can be wildly wrong."""
    rows = [(i, "en", f"a b a c tok{i % 40} a b") for i in range(200)] + [
        (500 + i, "fr", f"x y x z w{i % 11}") for i in range(60)
    ]
    docs = _docs(spark, rows)
    grid, ctx = lm.bigram_lm_train(docs, min_count=2)
    bounds = lm.perplexity_boundaries(docs, model=(grid, ctx))
    want = {
        (r.doc_id, r.n_bigrams, r.ppl, r.bucket)
        for r in lm.perplexity_buckets_frozen(
            docs, bounds, model=(grid, ctx)
        ).collect()
    }

    lm.save_lm_model(str(tmp_path / "m"), grid, ctx, bounds)
    g2, c2, b2 = lm.load_lm_model(spark, str(tmp_path / "m"), with_bounds=True)
    assert sorted(map(tuple, g2.collect())) == sorted(map(tuple, grid.collect()))
    assert sorted(map(tuple, c2.collect())) == sorted(map(tuple, ctx.collect()))

    served = lm.perplexity_buckets_frozen(docs, b2, model=(g2, c2))
    got = {
        (r.doc_id, r.n_bigrams, r.ppl, r.bucket) for r in served.collect()
    }
    assert got == want

    scored = lm.bigram_lm_perplexity(docs, g2, c2)
    scored._jdf.queryExecution().toRdd().count()
    plan = (
        scored._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    # all three model joins broadcast off the parquet statistics
    assert plan.count("BroadcastHashJoin") == 3, plan
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


def test_approx_buckets_agree_with_exact(spark, sf_dir):
    """The zero-global-sort variant must (a) plan NO sort/ntile window
    over the scored docs, and (b) assign the same bucket as the exact
    tercile split for nearly every document — disagreement is confined
    to boundary ranks (the sketch's documented rank-error), never a
    wholesale shift."""
    from crypto_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = {
        r.doc_id: r.bucket for r in lm.perplexity_buckets(docs).collect()
    }
    approx_df = lm.perplexity_buckets_approx(docs)
    approx = {r.doc_id: r.bucket for r in approx_df.collect()}
    assert set(approx) == set(exact)
    agree = sum(1 for d in exact if exact[d] == approx[d])
    assert agree / len(exact) >= 0.95, (agree, len(exact))
    # every disagreement is a neighbor-bucket slip, never head<->tail
    order = {"head": 0, "middle": 1, "tail": 2, "unscored": -1}
    for d in exact:
        assert abs(order[exact[d]] - order[approx[d]]) <= 1, d

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
    model = lm.load_lm_model(spark, serve_store._ENTRIES["lm_model"].tmp, with_cont=True)
    scoring = lm.lm_scores(load_table(spark, sf_dir, "documents"), *model)
    plan = scoring._jdf.queryExecution().executedPlan().toString()
    for p in (served, plan):
        assert "BatchEvalPython" not in p
        assert "CartesianProduct" not in p
    assert "Join" not in served  # the served query scores nothing
    assert "BroadcastHashJoin" in plan  # the model joins broadcast


@pytest.mark.slow
def test_kn_min_count_pruning_matches_python_reference(spark):
    """The KN pruning rule (round-9), pinned against a literal Python
    model on seeded random corpora: grid keeps c12 >= min_count, ctx
    keeps c1 >= min_count, cont keeps n1p_w2 >= min_count;
    n1p_all/vsize stay exact from the FULL counts; a pruned row falls
    through scoring's coalesce(..., 0) path (a pruned context takes
    the unseen-context backoff). min_count=1 must be byte-identical to
    the unpruned triple (exact back-compat, cont included)."""
    import random
    import re
    from collections import Counter, defaultdict

    D = 0.75

    def py_ppl(rows, mc):
        grids = defaultdict(Counter)
        per_doc = {}
        for did, lg, t in rows:
            ts = re.sub(r"\s+", " ", t.strip().lower()).split(" ")
            pairs = list(zip(ts[:-1], ts[1:]))
            per_doc[did] = (lg, pairs)
            grids[lg].update(pairs)
        stats = {}
        for lg, g in grids.items():
            c1, n1p_w1, n1p_w2 = Counter(), Counter(), Counter()
            for (w1, w2), c in g.items():
                c1[w1] += c
                n1p_w1[w1] += 1
                n1p_w2[w2] += 1
            stats[lg] = (c1, n1p_w1, n1p_w2, len(g), len({w2 for _, w2 in g}))
        out = {}
        for did, (lg, pairs) in per_doc.items():
            if not pairs or lg not in stats:
                continue
            c1, n1p_w1, n1p_w2, n1p_all, v = stats[lg]
            # a language whose every context is pruned leaves the model
            if max(c1.values()) < mc:
                continue
            g = grids[lg]
            lp = []
            for w1, w2 in pairs:
                nw2 = n1p_w2[w2] if n1p_w2[w2] >= mc else 0
                pcont = (nw2 + 1.0) / (n1p_all + v)
                if c1[w1] >= mc:  # surviving ctx row
                    c12 = g[(w1, w2)] if g[(w1, w2)] >= mc else 0
                    p = (
                        max(c12 - D, 0.0) / c1[w1]
                        + D * n1p_w1[w1] / c1[w1] * pcont
                    )
                else:  # pruned ctx -> unseen-context backoff
                    p = pcont
                lp.append(math.log(p))
            out[did] = (len(pairs), round(math.exp(-sum(lp) / len(lp)) + 1e-9, 6))
        return out

    rng = random.Random(47)
    alphabet = ["aa", "bb", "cc", "dd", "ee", "ff"]
    for case in range(10):
        rows = [
            (
                did,
                rng.choice(["en", "fr"]),
                " ".join(rng.choice(alphabet) for _ in range(rng.randint(2, 10))),
            )
            for did in range(rng.randint(4, 10))
        ]
        docs = _docs(spark, rows)
        for mc in (1, 2, 3):
            grid, ctx, cont = lm.bigram_lm_kn_train(docs, min_count=mc)
            got = {
                r.doc_id: (r.n_bigrams, r.ppl)
                for r in lm.bigram_lm_kn_perplexity(docs, grid, ctx, cont).collect()
            }
            assert got == py_ppl(rows, mc), (case, mc, rows)
        # min_count=1 back-compat: all THREE frames identical to unpruned
        t1 = lm.bigram_lm_kn_train(docs, min_count=1)
        t0 = lm.bigram_lm_kn_train(docs)
        for f1, f0 in zip(t1, t0):
            assert sorted(map(tuple, f1.collect())) == sorted(map(tuple, f0.collect()))


@pytest.mark.slow
def test_kn_model_at_rest_roundtrip_and_broadcast(spark, tmp_path):
    """The KN triple held to the add-one model's round-8 standard:
    save_lm_model(..., cont=)/load_lm_model(..., with_cont=True) must
    round-trip all three frames plus bounds, the reloaded model must
    serve byte-identically, and — the planner half — a pruned model
    read from REST must broadcast in ALL FOUR scoring joins off the
    parquet statistics (totals hint + ctx/grid/cont by measurement)."""
    rows = [(i, "en", f"a b a c tok{i % 40} a b") for i in range(200)] + [
        (500 + i, "fr", f"x y x z w{i % 11}") for i in range(60)
    ]
    docs = _docs(spark, rows)
    grid, ctx, cont = lm.bigram_lm_kn_train(docs, min_count=2)
    bounds = lm.kn_perplexity_boundaries(docs, model=(grid, ctx, cont))
    want = {
        (r.doc_id, r.n_bigrams, r.ppl, r.bucket)
        for r in lm.kn_perplexity_buckets_frozen(
            docs, bounds, model=(grid, ctx, cont)
        ).collect()
    }

    lm.save_lm_model(str(tmp_path / "m"), grid, ctx, bounds, cont=cont)
    g2, c2, ct2, b2 = lm.load_lm_model(
        spark, str(tmp_path / "m"), with_bounds=True, with_cont=True
    )
    for fresh, fitted in ((g2, grid), (c2, ctx), (ct2, cont)):
        assert sorted(map(tuple, fresh.collect())) == sorted(
            map(tuple, fitted.collect())
        )

    served = lm.kn_perplexity_buckets_frozen(docs, b2, model=(g2, c2, ct2))
    got = {(r.doc_id, r.n_bigrams, r.ppl, r.bucket) for r in served.collect()}
    assert got == want

    scored = lm.bigram_lm_kn_perplexity(docs, g2, c2, ct2)
    scored._jdf.queryExecution().toRdd().count()
    plan = (
        scored._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    # all four model joins broadcast off the parquet statistics
    assert plan.count("BroadcastHashJoin") == 4, plan
    assert "SortMergeJoin" not in plan, plan
