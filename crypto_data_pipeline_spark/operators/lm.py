"""N-gram language-model perplexity filter — the CCNet quality pillar.

CCNet (Wenzek et al. 2020) curates Common Crawl with three gates:
language-ID, dedup, and a per-language LM whose perplexity splits each
language's corpus into head/middle/tail buckets (train on the head,
drop or downweight the tail). The reference repo has no curation
surface (crypto analytics); this supplies the third pillar next to the
engine's existing lang-id (`ml/classify.py`) and dedup tiers.

Spark-first design — deliberately NOT a KenLM shell-out: an add-one
bigram model is nothing but counting, so train is ONE aggregation over
the exploded bigram stream plus grid-sized derivations, and the fitted
model is a pair of broadcastable DataFrames, which keeps the whole
path inside whole-stage codegen and value-checkable against an
ANSI-SQL oracle — the same trade the NB classifier documents.
(KenLM's modified Kneser-Ney would score better absolutely; bucket
ASSIGNMENT — the thing the pipeline consumes — needs only a monotone
per-language ranking, which add-one cross-entropy provides
deterministically.)

Model: per language, P(w2 | w1) = (c(w1,w2) + 1) / (c(w1) + V_lang),
with V_lang = |distinct continuation tokens| (the add-one denominator;
an unseen context scores 1/V_lang). Doc score = exp(mean negative log
prob over the doc's adjacent-token bigrams), 6-dp rounded with the
repo's tie-up nudge. Docs with fewer than 2 tokens have no bigrams and
land in the sentinel 'unscored' bucket (ppl = -1.0) instead of a NULL
the differential gate cannot sort.

Distributed shape at 100 TB:
- Train: one corpus explode, one shuffle keyed on (lang, w1, w2) —
  the grid (`bigram_grid`); map-side partial aggregation collapses
  each task to model-sized rows. Context counts, vocabulary sizes and
  the Kneser-Ney continuation counts derive from the model-sized grid
  (`bigram_cont`, `bigram_ctx`: grid-sized aggregations), never
  from the corpus, and the add-one model is a projection of the KN
  statistics, so one fit serves both families. The grid is NOT
  fixed-size: distinct bigrams grow with corpus vocabulary (Heaps' law
  — a real web crawl's unpruned bigram grid is tens of GB), so train
  exposes a ``min_count`` pruning knob, the same move every production
  n-gram model makes (Google's public 1T-token n-gram corpus ships
  count>=40).
  Pruned bigrams fall through to the add-one smoothing path that
  already handles unseen pairs; context counts and vocabulary sizes
  are derived from the FULL grid before pruning, so the probability
  denominators stay exact.
- Score: one corpus explode, the model joined in, one doc-key
  aggregation (`lm_scores`). The add-one and Kneser-Ney scores come
  out of the same join chain as two columns, and a doc that cannot
  score keeps its sentinel row from the same scan (an outer explode),
  so the bucket, report and RHO forms are an ntile or a projection
  over one per-doc score table, with no union and no second corpus
  scan. The join STRATEGY is AQE's call, not a hint — the
  |langs|-row totals frame is explicitly broadcast, but grid/ctx/cont
  carry no hint, so a pruned megabyte-scale model broadcasts
  (measured: a model at rest gives AQE real sizes) while an
  over-threshold model falls back to a shuffled join instead of
  OOMing the driver. The bucket split is one per-language ntile
  window over doc-sized rows. The corpus is never shuffled except by
  its own keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from crypto_data_pipeline_spark.operators.text import tokens

_BUCKETS = {1: "head", 2: "middle", 3: "tail"}


def _bigrams(df: DataFrame, text: str, outer: bool = False) -> DataFrame:
    """Adjacent-token bigram rows (w1, w2) appended to ``df``'s other
    columns via one explode — no self-join, no positional window.
    ``outer`` keeps a row with NULL (w1, w2) for a doc without bigrams."""
    explode = F.explode_outer if outer else F.explode
    bg = F.expr(
        "zip_with(slice(_t, 1, size(_t) - 1), slice(_t, 2, size(_t) - 1),"
        " (a, b) -> struct(a AS w1, b AS w2))"
    )
    return (
        df.withColumn("_t", tokens(text))
        .select(*df.columns, explode(bg).alias("_p"))
        .select(*df.columns, F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    )


def bigram_grid(docs: DataFrame, lang: str = "lang", text: str = "text") -> DataFrame:
    """``grid (lang, w1, w2, c12)``: per-language bigram counts, the
    fit's one corpus-sized shuffle (map-side partial aggregation
    collapses each task to model-sized rows). Every other statistic of
    both smoothing families derives from this grid (`bigram_cont`,
    `bigram_ctx`), so a caller that lands the grid at rest fits either
    family without touching the corpus again."""
    bg = _bigrams(docs.select(F.col(lang).alias("lang"), text), text).select(
        "lang", "w1", "w2"
    )
    return bg.groupBy("lang", "w1", "w2").agg(F.count(F.lit(1)).alias("c12"))


def bigram_cont(grid: DataFrame) -> DataFrame:
    """The Kneser-Ney ``cont (lang, w2, n1p_w2)`` of an UNPRUNED grid:
    grid rows are unique per (lang, w1, w2), so a row count is a
    distinct-context count."""
    return grid.groupBy("lang", "w2").agg(F.count(F.lit(1)).alias("n1p_w2"))


def bigram_ctx(grid: DataFrame, cont: DataFrame) -> DataFrame:
    """The Kneser-Ney ``ctx (lang, w1, c1, n1p_w1, n1p_all, vsize)`` of
    an UNPRUNED grid and its `bigram_cont`, from grid-sized work only:
    c(w1) = Σ_w2 c(w1,w2), n1p_w1 = its grid rows; the per-language
    totals come from cont — V = its rows, n1p_all = Σ n1p_w2 (the
    grid's rows). Pass a cont landed at rest and the totals read it
    instead of aggregating the grid again. The add-one ctx is the
    projection ``ctx.select("lang", "w1", "c1", "vsize")``."""
    totals = cont.groupBy("lang").agg(
        F.sum("n1p_w2").alias("n1p_all"), F.count(F.lit(1)).alias("vsize")
    )
    return (
        grid.groupBy("lang", "w1")
        .agg(F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1p_w1"))
        .join(F.broadcast(totals), "lang")
    )


def _fit(
    docs: DataFrame,
    lang: str,
    text: str,
    materialize: bool,
    min_count: int,
    add_one: bool,
) -> tuple[DataFrame, ...]:
    """The fit both families share: grid, statistics, pruning.
    ``materialize`` checkpoints the grid BEFORE the statistics derive
    from it, so the corpus is scanned once; the statistics and a
    pruned grid then checkpoint from grid-sized work, which leaves the
    unpruned checkpoint unreferenced."""
    grid = bigram_grid(docs, lang=lang, text=text)
    if materialize:
        grid = grid.localCheckpoint(eager=True)
    cont = bigram_cont(grid)
    ctx = bigram_ctx(grid, cont)
    if add_one:
        frames = [grid, ctx.select("lang", "w1", "c1", "vsize")]
    else:
        frames = [grid, ctx, cont]
    if min_count > 1:
        frames = [
            f.where(F.col(c) >= min_count)
            for f, c in zip(frames, ("c12", "c1", "n1p_w2"))
        ]
    if materialize:
        frames = [f if f is grid else f.localCheckpoint(eager=True) for f in frames]
    return tuple(frames)


def bigram_lm_train(
    docs: DataFrame,
    lang: str = "lang",
    text: str = "text",
    materialize: bool = True,
    min_count: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Fit one add-one bigram LM per language. Returns
    ``grid (lang, w1, w2, c12)`` and ``ctx (lang, w1, c1, vsize)`` —
    both model-sized; ``vsize`` (the language's distinct-continuation
    count) is carried denormalized on every ctx row so scoring needs
    no third join. The add-one model is a projection of the
    Kneser-Ney statistics (same grid, ctx minus its two KN columns),
    so both families share one fit (`bigram_grid`, `bigram_cont`,
    `bigram_ctx`).

    ``min_count`` prunes the model — the knob that keeps the shipped
    frames bounded on corpora whose vocabulary grows with size
    (Heaps' law; an unpruned web-crawl bigram grid is tens of GB).
    Rule: grid keeps rows with ``c12 >= min_count``; ctx keeps rows
    with ``c1 >= min_count`` (since c12 <= c1, a dropped context's
    bigrams were all dropped too); ``vsize`` stays EXACT from the full
    training counts. A pruned (or unseen) bigram then scores
    ``(coalesce(c12,0)+1) / (coalesce(c1,0)+V)`` — the same smoothing
    path either way, so pruning composes with scoring without a
    special case, and the scored probability is a deterministic
    function of (min_count, corpus). ``min_count=1`` (default) is
    exact back-compat: no row is dropped. A language whose EVERY
    context count falls under the threshold leaves the model entirely
    (no surviving ctx row carries its vsize); its documents then take
    the untrained-language path — dropped by the scoring join, filed
    as 'unscored' by ``perplexity_buckets``.

    ``materialize`` (default) eagerly local-checkpoints both model
    frames — fitting is an ACTION, the same train/serve split
    `ml/classify.py:nb_train` documents. Without it, every broadcast
    of grid/ctx in the scoring plan re-derives the corpus-sized
    training scan (measured at the K=1000 probe: the 5 M-doc train
    pass re-ran inside the score job)."""
    return _fit(docs, lang, text, materialize, min_count, add_one=True)


KN_DISCOUNT = 0.75  # the standard absolute-discount constant


def lm_scores(
    docs: DataFrame,
    grid: DataFrame,
    ctx: DataFrame,
    cont: DataFrame | None = None,
    lang: str = "lang",
    text: str = "text",
    doc_id: str = "doc_id",
) -> DataFrame:
    """Score EVERY document with its language's LM, in one bigram
    explode and one join chain: ``(doc_id, lang, n_bigrams, ppl)``
    under add-one smoothing, plus ``ppl_kn`` under Kneser-Ney when the
    KN ``cont`` frame is given (the add-one model is a projection of
    the KN statistics, so both families score off the same joins).

    A doc that cannot score — fewer than 2 tokens, NULL text, a NULL
    language or one the model never saw — keeps its row from the same
    scan (an outer explode, a left join of the per-language totals)
    with the sentinels ``n_bigrams = 0`` and ``ppl = -1.0``; a
    trained-language doc with >= 2 tokens always scores. Unseen
    context -> c1 = 0 (add-one probability 1/V): vsize comes from the
    per-LANGUAGE totals, not from the left-joined ctx row, which an
    unseen (lang, w1) misses.

    Join strategy: only the |langs|-row totals frame carries a
    broadcast hint. grid, ctx and cont are corpus-VOCABULARY-
    proportional (Heaps' law), so their joins are left to AQE: a
    pruned model measures small and broadcasts; an over-threshold
    model falls back to a shuffled hash join instead of OOMing the
    driver the way an unconditional ``F.broadcast`` would."""
    kn = cont is not None
    totals = ctx.select("lang", "vsize", *(["n1p_all"] if kn else [])).distinct()
    contexts = ctx.select("lang", "w1", "c1", *(["n1p_w1"] if kn else []))
    scored = (
        _bigrams(docs.select(doc_id, F.col(lang).alias("lang"), text), text, outer=True)
        .join(F.broadcast(totals), "lang", "left")
        .join(contexts, ["lang", "w1"], "left")
        .join(grid, ["lang", "w1", "w2"], "left")
    )
    probs = {
        "ppl": (F.coalesce("c12", F.lit(0)) + F.lit(1.0))
        / (F.coalesce("c1", F.lit(0)) + F.col("vsize"))
    }
    if kn:
        scored = scored.join(cont, ["lang", "w2"], "left")
        d = F.lit(KN_DISCOUNT)
        pcont = (F.coalesce("n1p_w2", F.lit(0)) + F.lit(1.0)) / (
            F.col("n1p_all") + F.col("vsize")
        )
        p_seen = (
            F.greatest(F.coalesce("c12", F.lit(0)) - d, F.lit(0.0)) / F.col("c1")
            + d * F.col("n1p_w1") / F.col("c1") * pcont
        )
        probs["ppl_kn"] = F.when(F.col("c1").isNotNull(), p_seen).otherwise(pcont)
    ok = F.col("w1").isNotNull() & F.col("vsize").isNotNull()

    def ppl(p: Column) -> Column:
        logp = F.when(ok, F.log(p))
        return F.coalesce(F.round(F.exp(-F.avg(logp)) + F.lit(1e-9), 6), F.lit(-1.0))

    return scored.groupBy(doc_id, "lang").agg(
        F.count(F.when(ok, 1)).alias("n_bigrams"),
        *[ppl(p).alias(name) for name, p in probs.items()],
    )


def _scored_only(scores: DataFrame, doc_id: str, ppl: str) -> DataFrame:
    return scores.where(F.col("n_bigrams") > 0).select(
        doc_id, "lang", "n_bigrams", F.col(ppl).alias("ppl")
    )


def bigram_lm_perplexity(
    docs: DataFrame,
    grid: DataFrame,
    ctx: DataFrame,
    lang: str = "lang",
    text: str = "text",
    doc_id: str = "doc_id",
) -> DataFrame:
    """The scorable documents' add-one ``(doc_id, lang, n_bigrams,
    ppl)``: `lm_scores` without its sentinel rows, so docs of a
    language the model never saw drop out here (mirroring the oracle's
    ``JOIN voc USING (lang)``)."""
    return _scored_only(
        lm_scores(docs, grid, ctx, lang=lang, text=text, doc_id=doc_id), doc_id, "ppl"
    )


def bigram_lm_kn_train(
    docs: DataFrame,
    lang: str = "lang",
    text: str = "text",
    materialize: bool = True,
    min_count: int = 1,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fit one interpolated Kneser-Ney bigram LM per language — the
    smoothing family CCNet's actual KenLM models use (Kneser & Ney
    1995; Chen & Goodman 1999), next to the add-one model
    (`bigram_lm_train`) whose monotone ranking the bucket queries
    gate. KN's insight: the backoff weight of a continuation should be
    its CONTEXT DIVERSITY (how many distinct left-neighbors it
    follows), not its raw frequency — 'Francisco' is frequent but
    follows only 'San', so it deserves little unseen-context mass.

    Returns three model-sized frames:
      ``grid (lang, w1, w2, c12)``          — bigram counts
      ``ctx  (lang, w1, c1, n1p_w1, n1p_all, vsize)`` — context
          totals + distinct-continuation counts, with the per-language
          totals (distinct bigram count, vocabulary size) denormalized
          on every row so scoring needs no fourth join
      ``cont (lang, w2, n1p_w2)``           — |{w1 : c(w1,w2) > 0}|

    Probability (D = 0.75):
      seen context:  P(w2|w1) = max(c12 - D, 0)/c1
                               + (D * n1p_w1 / c1) * Pcont(w2)
      unseen context: P(w2|w1) = Pcont(w2)
      Pcont(w2) = (n1p_w2 + 1) / (n1p_all + V)  — add-one smoothed so
          a wholly-unseen continuation keeps positive mass (pure KN
          leaves it zero, which a log cannot take; the documented
          deviation, exact on both engines).

    Everything is an integer-count ratio, so the model is
    DuckDB-oracle-checkable like the add-one one. Train cost: ONE
    corpus-sized shuffle (`bigram_grid`); ctx/cont/totals all derive
    from the model-sized grid (`bigram_cont`, `bigram_ctx`).
    ``min_count`` prunes ROWS from all three shipped frames — grid rows with
    ``c12 < min_count``, ctx rows with ``c1 < min_count``, cont rows
    with ``n1p_w2 < min_count`` (cont is vocabulary-proportional too:
    one row per (lang, w2)). Values on SURVIVING rows and the
    per-language totals (n1p_all, vsize) stay exact from the full
    counts; a pruned row falls through scoring's existing
    ``coalesce(…, 0)`` path, so the scored probability is a
    deterministic function of (min_count, corpus) — the same contract
    as `bigram_lm_train`, pinned against a Python reference by
    tests/test_lm.py::test_kn_min_count_pruning_matches_python_reference."""
    return _fit(docs, lang, text, materialize, min_count, add_one=False)


def bigram_lm_kn_perplexity(
    docs: DataFrame,
    grid: DataFrame,
    ctx: DataFrame,
    cont: DataFrame,
    lang: str = "lang",
    text: str = "text",
    doc_id: str = "doc_id",
) -> DataFrame:
    """The scorable documents' KN ``(doc_id, lang, n_bigrams, ppl)``,
    same output contract as the add-one `bigram_lm_perplexity`, and
    the same `lm_scores` join chain."""
    return _scored_only(
        lm_scores(docs, grid, ctx, cont, lang=lang, text=text, doc_id=doc_id),
        doc_id, "ppl_kn",
    )


def kn_perplexity_buckets(
    docs: DataFrame,
    lang: str = "lang",
    text: str = "text",
    doc_id: str = "doc_id",
    model: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """The CCNet split under KN smoothing: same
    head/middle/tail-per-language ntile with the (ppl, doc_id)
    tie-break and the 'unscored' sentinel as `perplexity_buckets` —
    only the probability model differs. The two bucket queries
    disagree exactly where the smoothing families rank differently
    (KN demotes frequent-but-predictable continuations), which is why
    both ship: the add-one form is the gate-checked default, this is
    the KenLM-faithful alternative."""
    grid, ctx, cont = model if model is not None else bigram_lm_kn_train(
        docs, lang=lang, text=text
    )
    return ntile_buckets(
        lm_scores(docs, grid, ctx, cont, lang=lang, text=text, doc_id=doc_id),
        doc_id, ppl="ppl_kn",
    )


def ntile_buckets(scores: DataFrame, doc_id: str = "doc_id", ppl: str = "ppl") -> DataFrame:
    """``(doc_id, lang, n_bigrams, ppl, bucket)`` from an `lm_scores`
    table: each language's scored docs ntile'd into head/middle/tail
    thirds by (``ppl``, doc_id), the unscorable ones 'unscored'. One
    window over a (lang, scorable) partition — no union, no second
    scan for the sentinel rows."""
    scorable = F.col("n_bigrams") > 0
    w = Window.partitionBy("lang", scorable).orderBy(F.col(ppl).asc(), F.col(doc_id).asc())
    tercile = F.element_at(
        F.create_map(*[x for k, v in _BUCKETS.items() for x in (F.lit(k), F.lit(v))]),
        F.ntile(3).over(w),
    )
    return scores.select(
        doc_id, "lang", "n_bigrams", F.col(ppl).alias("ppl"),
        F.when(scorable, tercile).otherwise(F.lit("unscored")).alias("bucket"),
    )


def save_lm_model(
    path: str,
    grid: DataFrame,
    ctx: DataFrame,
    bounds: DataFrame | None = None,
    cont: DataFrame | None = None,
) -> None:
    """Land the fitted model AT REST — parquet dirs under ``path``
    (``grid/``, ``ctx/``, optional ``bounds/``). Two reasons a 100 TB
    deployment wants this rather than keeping the fit in-session:
    (a) train-once/serve-many across sessions and clusters (the same
    move the IVF index makes with its cell-partitioned dirs); (b) the
    join planner. A localCheckpointed model carries lineage-derived
    size estimates that can be wildly wrong (the round-8 vocab probe
    measured a KB-scale ctx estimated in the TB range), and the
    planner's safe answer to uncertainty is a shuffled join — a
    parquet scan carries ACCURATE statistics, so a pruned
    megabyte-scale model read from rest broadcasts instead
    (tests/test_lm.py::test_model_at_rest_roundtrip_and_broadcast).

    ``cont`` is the Kneser-Ney model's third frame
    (`bigram_lm_kn_train`): pass it and the KN triple lands/serves at
    rest with the same measured-statistics benefit — without it the KN
    serve joins ride checkpoint-lineage estimates, which the round-8
    vocab probe showed planners rightly distrust."""
    grid.write.mode("overwrite").parquet(f"{path}/grid")
    ctx.write.mode("overwrite").parquet(f"{path}/ctx")
    if bounds is not None:
        bounds.write.mode("overwrite").parquet(f"{path}/bounds")
    if cont is not None:
        cont.write.mode("overwrite").parquet(f"{path}/cont")


def load_lm_model(
    spark, path: str, with_bounds: bool = False, with_cont: bool = False
) -> tuple[DataFrame, ...]:
    """Reload a model landed by `save_lm_model`: ``(grid, ctx)``,
    extended by ``cont`` (KN triple order: grid, ctx, cont) and/or a
    trailing ``bounds``. Frames come back as plain parquet scans —
    statistics-accurate, column-prunable, ready to hand to
    `bigram_lm_perplexity` / `bigram_lm_kn_perplexity` /
    `perplexity_buckets_frozen` / `streaming.ingest.stream_lm_score`."""
    out = [spark.read.parquet(f"{path}/grid"), spark.read.parquet(f"{path}/ctx")]
    if with_cont:
        out.append(spark.read.parquet(f"{path}/cont"))
    if with_bounds:
        out.append(spark.read.parquet(f"{path}/bounds"))
    return tuple(out)


def perplexity_buckets(
    docs: DataFrame,
    lang: str = "lang",
    text: str = "text",
    doc_id: str = "doc_id",
    model: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """The CCNet split: train per-language LMs on the corpus, score
    every doc, and ntile each language's ppl ranking into
    head/middle/tail thirds (ties broken by doc_id, so the buckets are
    deterministic on both engines). Docs too short to score bucket as
    'unscored' with the -1.0 sentinel. Returns
    ``(doc_id, lang, n_bigrams, ppl, bucket)``. Pass a pre-fitted
    ``model`` (the ``bigram_lm_train`` pair) to serve from it."""
    grid, ctx = model if model is not None else bigram_lm_train(
        docs, lang=lang, text=text
    )
    return ntile_buckets(
        lm_scores(docs, grid, ctx, lang=lang, text=text, doc_id=doc_id), doc_id
    )


def _bucket_by_bounds(scores: DataFrame, bounds: DataFrame) -> DataFrame:
    """Assign head/middle/tail by comparing each scored row against
    the |langs|x2 boundary table ``(lang, _b array<double>)`` — a
    broadcast join + scan-side CASE, no sort anywhere; sentinel rows
    (``n_bigrams = 0``) bucket 'unscored'. Shared by the
    zero-global-sort batch variant and the streaming serve (which
    ships the SAME frozen table to every micro-batch)."""
    b = F.col("_b")
    bucket = (
        F.when(F.col("n_bigrams") == 0, "unscored")
        .when(F.col("ppl") <= b[0], "head")
        .when(F.col("ppl") <= b[1], "middle")
        .otherwise("tail")
    )
    return scores.join(F.broadcast(bounds), "lang", "left").select(
        *scores.columns, bucket.alias("bucket")
    )


def _boundaries(
    docs: DataFrame,
    fit,
    ppl: str,
    lang: str,
    text: str,
    doc_id: str,
    model: tuple[DataFrame, ...] | None,
    accuracy: int,
) -> DataFrame:
    """Family-generic boundary freeze: fit (or take) a model, score the
    corpus, reduce to per-language tercile boundaries. The smoothing
    family enters only through (fit, its `lm_scores` column) — the
    serving contract (one approx_percentile pass, |langs|x2 output) is
    defined ONCE so the add-one and KN twins cannot drift."""
    frames = model if model is not None else fit(docs, lang=lang, text=text)
    scores = lm_scores(docs, *frames, lang=lang, text=text, doc_id=doc_id)
    return _tercile_bounds(scores, doc_id, ppl, accuracy)


def _tercile_bounds(scores: DataFrame, doc_id: str, ppl: str, accuracy: int) -> DataFrame:
    """Per-language approximate tercile boundaries ``(lang, _b)`` of
    the scorable rows' ``ppl``: one approx_percentile pass."""
    return _scored_only(scores, doc_id, ppl).groupBy("lang").agg(
        F.percentile_approx("ppl", [1.0 / 3.0, 2.0 / 3.0], accuracy).alias("_b")
    )


def _frozen_buckets(
    docs: DataFrame,
    bounds: DataFrame,
    fit,
    ppl: str,
    lang: str,
    text: str,
    doc_id: str,
    model: tuple[DataFrame, ...] | None,
) -> DataFrame:
    """Family-generic frozen-boundary serve. Holds the serving
    subtleties in one place for both smoothing families: (a) the
    'trained' set shrinks to languages both the model AND the bounds
    know (ctx semi-joined to bounds — a trained-but-unbounded
    language's docs file as 'unscored', never vanish), (b) bucket
    assignment is the broadcast |langs|x2 boundary comparison. The
    model's ctx frame is positional slot 2 in every family (add-one
    pair, KN triple)."""
    frames = model if model is not None else fit(docs, lang=lang, text=text)
    grid, ctx, *rest = frames
    servable_ctx = ctx.join(
        F.broadcast(bounds.select("lang").distinct()), "lang", "left_semi"
    )
    scores = lm_scores(
        docs, grid, servable_ctx, *rest, lang=lang, text=text, doc_id=doc_id
    ).select(doc_id, "lang", "n_bigrams", F.col(ppl).alias("ppl"))
    return _bucket_by_bounds(scores, bounds)


def perplexity_boundaries(
    docs: DataFrame,
    lang: str = "lang",
    text: str = "text",
    doc_id: str = "doc_id",
    model: tuple[DataFrame, DataFrame] | None = None,
    accuracy: int = 10_000,
) -> DataFrame:
    """The FROZEN serving artifact: per-language tercile boundaries
    ``(lang, _b array<double>)`` from one approx_percentile pass over
    the scored corpus. A serving tier fits the model once, freezes
    these boundaries alongside it, and then scores unbounded streams
    against both without ever re-sorting anything. Compute them on the
    SAME corpus the model was trained on: every trained language has
    at least one scorable training doc, so the boundary table covers
    every language the model can score (the inner join in
    `_bucket_by_bounds` is then total over scorable docs)."""
    return _boundaries(
        docs, bigram_lm_train, "ppl",
        lang, text, doc_id, model, accuracy,
    )


def perplexity_buckets_frozen(
    docs: DataFrame,
    bounds: DataFrame,
    lang: str = "lang",
    text: str = "text",
    doc_id: str = "doc_id",
    model: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Score ``docs`` against a pre-fitted model and assign buckets
    from a FROZEN boundary table (`perplexity_boundaries`) — the batch
    twin of the streaming serve, and the form whose output is
    independent of what else is in the batch (no ntile over
    co-arriving docs), which is what makes stream output == batch
    output under any delivery split. Unscorable docs land in the
    'unscored' sentinel exactly like `perplexity_buckets`.

    The serving artifact is (model AND bounds) together: a language
    present in the model but ABSENT from the boundary table cannot be
    bucketed by this filter, so its documents file as 'unscored' too —
    never silently dropped. Implemented by shrinking the
    'trained' set to the languages both frames know: ctx semi-joined
    to bounds (`_frozen_buckets`, shared with the KN twin)."""
    return _frozen_buckets(
        docs, bounds, bigram_lm_train, "ppl",
        lang, text, doc_id, model,
    )


def kn_perplexity_boundaries(
    docs: DataFrame,
    lang: str = "lang",
    text: str = "text",
    doc_id: str = "doc_id",
    model: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    accuracy: int = 10_000,
) -> DataFrame:
    """`perplexity_boundaries` for the Kneser-Ney model: the frozen
    per-language tercile boundary table ``(lang, _b array<double>)``
    computed from the KN scorer instead of the add-one one. Same
    serving contract — fit the triple once, freeze these alongside it
    (`save_lm_model(..., cont=, bounds=)`), and score unbounded
    streams against both without re-sorting anything."""
    return _boundaries(
        docs, bigram_lm_kn_train, "ppl_kn",
        lang, text, doc_id, model, accuracy,
    )


def kn_perplexity_buckets_frozen(
    docs: DataFrame,
    bounds: DataFrame,
    lang: str = "lang",
    text: str = "text",
    doc_id: str = "doc_id",
    model: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """`perplexity_buckets_frozen` for the Kneser-Ney triple: score
    against a pre-fitted (grid, ctx, cont) model, assign buckets from
    a FROZEN `kn_perplexity_boundaries` table, file unscorable docs —
    including a trained-but-unbounded language's (the serving artifact
    is model AND bounds together) — as 'unscored'. Output independent
    of batch composition, so the streaming serve equals this batch
    twin under any delivery split (`_frozen_buckets`, shared with the
    add-one twin)."""
    return _frozen_buckets(
        docs, bounds, bigram_lm_kn_train, "ppl_kn",
        lang, text, doc_id, model,
    )


def rho_excess(scores: DataFrame, doc_id: str = "doc_id") -> DataFrame:
    """(doc_id, lang, ppl_base, ppl_ref, excess) from a two-family
    `lm_scores` table: the RHO learnability score excess =
    round(ln(ppl_base) − ln(ppl_ref), 6), the per-token log-loss delta
    between the weak add-one base LM and the strong Kneser-Ney
    reference, both read off the same scoring pass. Unscorable docs
    keep their -1.0 sentinels and a NULL excess, which a cutoff never
    ranks (`dsir_kth_weight`) and `rho_select` files as 0.0, not kept.
    One definition feeds BOTH the batch selection query and the frozen
    serve twin, so the score cannot drift between them."""
    return scores.select(
        doc_id,
        "lang",
        F.col("ppl").alias("ppl_base"),
        F.col("ppl_kn").alias("ppl_ref"),
        F.when(
            F.col("n_bigrams") > 0, F.round(F.log("ppl") - F.log("ppl_kn"), 6)
        ).alias("excess"),
    )


def rho_select(excess: DataFrame, cutoff: Column, doc_id: str = "doc_id") -> DataFrame:
    """(doc_id, lang, ppl_base, ppl_ref, excess, kept) of a `rho_excess`
    frame: kept = excess >= ``cutoff`` (ties all kept); an unscorable
    doc's excess files as 0.0, never kept."""
    return excess.select(
        doc_id,
        "lang",
        "ppl_base",
        "ppl_ref",
        F.coalesce("excess", F.lit(0.0)).alias("excess"),
        F.coalesce(F.col("excess") >= cutoff, F.lit(False)).alias("kept"),
    )


def rho_excess_select_frozen(
    docs: DataFrame,
    model: tuple[DataFrame, DataFrame, DataFrame],
    cutoff: DataFrame,
    lang: str = "lang",
    text: str = "text",
    doc_id: str = "doc_id",
) -> DataFrame:
    """(doc_id, lang, ppl_base, ppl_ref, excess, kept): RHO-loss
    learnability selection against FROZEN artifacts — the serve-online
    half of the excess-perplexity train/serve split, the same pattern
    as `perplexity_buckets_frozen` (frozen model + frozen boundary)
    and `dsir_score_frozen` (frozen model + frozen cutoff).

    ``model`` is the Kneser-Ney triple (grid, ctx, cont); the weak
    base LM is its add-one projection, scored in the same pass
    (`lm_scores`). excess = round(ln(ppl_base) − ln(ppl_ref), 6);
    kept = excess >= cutoff, a pure per-document predicate given the
    frozen (model, cutoff), so a document's row is identical whether it
    arrives alone, in any micro-batch, or in the full batch — the
    property the streaming twin's stream==batch test pins. Ties at the
    cutoff are all kept (the dsir_score_frozen trade). Docs the model
    cannot score (<2 tokens, NULL text, or a language it never saw)
    carry the LM tier's sentinels: ppl −1.0, excess 0.0, kept false.
    The cutoff travels as an explicitly-broadcast 1-row frame (a
    scalar by contract — derive it with
    `dsir_kth_weight(scored, frac, weight_col="excess")` over the
    reference corpus's excess frame, never a global rank)."""
    scores = lm_scores(docs, *model, lang=lang, text=text, doc_id=doc_id)
    return rho_select(
        rho_excess(scores, doc_id).crossJoin(F.broadcast(cutoff)),
        F.col("cutoff"),
        doc_id,
    )


def perplexity_buckets_approx(
    docs: DataFrame,
    lang: str = "lang",
    text: str = "text",
    doc_id: str = "doc_id",
    model: tuple[DataFrame, DataFrame] | None = None,
    accuracy: int = 10_000,
) -> DataFrame:
    """The ZERO-GLOBAL-SORT form of `perplexity_buckets` for corpora
    where even a per-language doc-sized sort is unwelcome: tercile
    BOUNDARIES come from one `approx_percentile` aggregation (a
    mergeable per-partition sketch — no ordering shuffle at all), and
    bucket assignment is a scan-side comparison against the broadcast
    |langs|x2 boundary table. Same output schema. Trade-off: boundary
    docs may land one bucket off the exact tercile split (bounded by
    the sketch's 1/accuracy rank error), and the sketch is
    Spark-internal, so this variant has no cross-engine oracle — the
    exact ntile form stays the gate-checked default and the agreement
    between the two is pinned by test instead
    (tests/test_lm.py::test_approx_buckets_agree_with_exact)."""
    grid, ctx = model if model is not None else bigram_lm_train(
        docs, lang=lang, text=text
    )
    scores = lm_scores(docs, grid, ctx, lang=lang, text=text, doc_id=doc_id).select(
        doc_id, "lang", "n_bigrams", "ppl"
    )
    return _bucket_by_bounds(scores, _tercile_bounds(scores, doc_id, "ppl", accuracy))
