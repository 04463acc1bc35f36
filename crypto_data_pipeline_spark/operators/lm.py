"""N-gram language-model perplexity filter — the CCNet quality pillar.

CCNet (Wenzek et al. 2020) curates Common Crawl with three gates:
language-ID, dedup, and a per-language LM whose perplexity splits each
language's corpus into head/middle/tail buckets (train on the head,
drop or downweight the tail). The reference repo has no curation
surface (crypto analytics); this supplies the third pillar next to the
engine's existing lang-id (`ml/classify.py`) and dedup tiers.

Spark-first design — deliberately NOT a KenLM shell-out: a bigram
model is nothing but counting, so the fit is ONE aggregation over the
exploded bigram stream plus grid-sized derivations, and the fitted
model is three broadcastable frames at rest, which keeps the whole
path inside whole-stage codegen and value-checkable against an
ANSI-SQL oracle — the same trade the NB classifier documents.

One model, two smoothing families read off it, per language:
- add-one: P(w2 | w1) = (c(w1,w2) + 1) / (c(w1) + V), with
  V = |distinct continuation tokens| (an unseen context scores 1/V);
- interpolated Kneser-Ney (Kneser & Ney 1995; Chen & Goodman 1999,
  the family CCNet's KenLM models use), D = 0.75:
    seen context:   max(c12 - D, 0)/c1 + (D * n1p_w1 / c1) * Pcont(w2)
    unseen context: Pcont(w2)
    Pcont(w2) = (n1p_w2 + 1) / (n1p_all + V) — add-one smoothed so a
    wholly-unseen continuation keeps positive mass (pure KN leaves it
    zero, which a log cannot take; the documented deviation, exact on
    both engines).
  KN's backoff weight of a continuation is its CONTEXT DIVERSITY (how
  many distinct left-neighbors it follows), not its raw frequency —
  'Francisco' is frequent but follows only 'San'.
The add-one model is the ``(c1, vsize)`` projection of the KN ``ctx``,
so one fit serves both. Doc score = exp(mean negative log prob over
the doc's adjacent-token bigrams), 6-dp rounded with the repo's tie-up
nudge. Docs with fewer than 2 tokens have no bigrams and carry the
sentinels ``n_bigrams = 0``, ``ppl = -1.0`` (bucket 'unscored')
instead of a NULL the differential gate cannot sort.

Distributed shape at 100 TB:
- Fit (`lm_fit`): one corpus explode, one shuffle keyed on
  (lang, w1, w2) — the grid (`bigram_grid`); map-side partial
  aggregation collapses each task to model-sized rows. The grid lands
  at rest, and the context counts, vocabulary sizes and continuation
  counts derive from the landed grid (`bigram_cont`, `bigram_ctx`:
  grid-sized aggregations), never from the corpus. The grid is NOT
  fixed-size: distinct bigrams grow with corpus vocabulary (Heaps' law
  — a real web crawl's unpruned bigram grid is tens of GB), so the fit
  takes a ``min_count`` pruning knob, the same move every production
  n-gram model makes (Google's public 1T-token n-gram corpus ships
  count>=40). Statistics derive from the FULL grid before pruning, so
  the probability denominators stay exact, and pruned rows fall
  through the same ``coalesce(…, 0)`` smoothing path as unseen pairs.
- Score (`lm_scores`): one corpus explode, the model joined in, one
  doc-key aggregation, both families as two columns; a doc that cannot
  score keeps its sentinel row from the same scan (an outer explode).
  Buckets (`ntile_buckets`, or `bounded_buckets` against frozen
  `tercile_bounds`), the RHO excess and the reports are projections
  over that one per-doc score table. Only the |langs|-row totals frame
  carries a broadcast hint; a model read from rest gives AQE its real
  size, so a pruned megabyte-scale model broadcasts while an
  over-threshold one falls back to a shuffled join instead of OOMing
  the driver. The corpus is never shuffled except by its own keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from crypto_data_pipeline_spark.operators.text import tokens

_BUCKETS = {1: "head", 2: "middle", 3: "tail"}

KN_DISCOUNT = 0.75  # the standard absolute-discount constant

# The model's frames at rest: the schema each reads back with (no job
# infers a parquet footer) and the count its min_count pruning tests.
_SCHEMAS = {
    "grid": "lang string, w1 string, w2 string, c12 long",
    "ctx": "lang string, w1 string, c1 long, n1p_w1 long, n1p_all long, vsize long",
    "cont": "lang string, w2 string, n1p_w2 long",
}
_PRUNED_ON = {"grid": "c12", "ctx": "c1", "cont": "n1p_w2"}


def _bigrams(df: DataFrame, outer: bool = False) -> DataFrame:
    """Adjacent-token bigram rows (w1, w2) of ``df.text`` appended to
    ``df``'s columns via one explode — no self-join, no positional
    window. ``outer`` keeps a row with NULL (w1, w2) for a doc without
    bigrams."""
    explode = F.explode_outer if outer else F.explode
    bg = F.expr(
        "zip_with(slice(_t, 1, size(_t) - 1), slice(_t, 2, size(_t) - 1),"
        " (a, b) -> struct(a AS w1, b AS w2))"
    )
    return (
        df.withColumn("_t", tokens("text"))
        .select(*df.columns, explode(bg).alias("_p"))
        .select(*df.columns, F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    )


def bigram_grid(docs: DataFrame) -> DataFrame:
    """``grid (lang, w1, w2, c12)``: per-language bigram counts, the
    fit's one corpus-sized shuffle (map-side partial aggregation
    collapses each task to model-sized rows)."""
    bg = _bigrams(docs.select("lang", "text")).select("lang", "w1", "w2")
    return bg.groupBy("lang", "w1", "w2").agg(F.count(F.lit(1)).alias("c12"))


def bigram_cont(grid: DataFrame) -> DataFrame:
    """``cont (lang, w2, n1p_w2)`` of an UNPRUNED grid: grid rows are
    unique per (lang, w1, w2), so a row count is a distinct-context
    count."""
    return grid.groupBy("lang", "w2").agg(F.count(F.lit(1)).alias("n1p_w2"))


def bigram_ctx(grid: DataFrame, cont: DataFrame) -> DataFrame:
    """``ctx (lang, w1, c1, n1p_w1, n1p_all, vsize)`` of an UNPRUNED
    grid and its `bigram_cont`, from grid-sized work only:
    c(w1) = Σ_w2 c(w1,w2), n1p_w1 = its grid rows; the per-language
    totals come from cont — V = its rows, n1p_all = Σ n1p_w2 (the
    grid's rows) — and ride denormalized on every row, so scoring
    needs no extra join for them."""
    totals = cont.groupBy("lang").agg(
        F.sum("n1p_w2").alias("n1p_all"), F.count(F.lit(1)).alias("vsize")
    )
    return (
        grid.groupBy("lang", "w1")
        .agg(F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1p_w1"))
        .join(F.broadcast(totals), "lang")
    )


def _read(spark, path: str, name: str) -> DataFrame:
    return spark.read.schema(_SCHEMAS[name]).parquet(f"{path}/{name}")


def lm_load(spark, path: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The model ``(grid, ctx, cont)`` landed at ``path`` by `lm_fit`,
    as parquet scans with the model's fixed schemas: no footer-inference
    job, and statistics-accurate frames for the join planner."""
    return tuple(_read(spark, path, name) for name in ("grid", "ctx", "cont"))


def lm_fit(
    docs: DataFrame, path: str, min_count: int = 1
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fit one bigram LM per language from ``docs (lang, text)``, land
    it at ``path`` (parquet dirs ``grid/``, ``ctx/``, ``cont/``) and
    return it read back by `lm_load`. The corpus is scanned once: the
    grid lands straight from its aggregation, cont derives from the
    landed grid and ctx from the landed grid and cont.

    ``min_count`` prunes ROWS — grid rows with ``c12 < min_count``,
    ctx rows with ``c1 < min_count`` (since c12 <= c1, a dropped
    context's bigrams were all dropped too), cont rows with
    ``n1p_w2 < min_count`` — while the values on surviving rows and
    the per-language totals (n1p_all, vsize) stay exact from the full
    counts, which land under ``unpruned/``. The pruned frames land
    pruned, so the planner measures their real size. A pruned row
    falls through scoring's ``coalesce(…, 0)`` path (a pruned context
    takes the unseen-context probability), so the scored probability
    is a deterministic function of (min_count, corpus). A language
    whose EVERY context count falls under the threshold leaves the
    model (no surviving ctx row carries its vsize); its documents then
    score as an untrained language's."""
    spark = docs.sparkSession
    stats = path if min_count <= 1 else f"{path}/unpruned"
    bigram_grid(docs).write.parquet(f"{stats}/grid")
    grid = _read(spark, stats, "grid")
    bigram_cont(grid).write.parquet(f"{stats}/cont")
    bigram_ctx(grid, _read(spark, stats, "cont")).write.parquet(f"{stats}/ctx")
    if min_count > 1:
        for name, count in _PRUNED_ON.items():
            _read(spark, stats, name).where(F.col(count) >= min_count).write.parquet(
                f"{path}/{name}"
            )
    return lm_load(spark, path)


def lm_scores(docs: DataFrame, grid: DataFrame, ctx: DataFrame, cont: DataFrame) -> DataFrame:
    """Score EVERY document of ``docs (doc_id, lang, text)`` with its
    language's LM, in one bigram explode and one join chain:
    ``(doc_id, lang, n_bigrams, ppl, ppl_kn)``, ``ppl`` under add-one
    and ``ppl_kn`` under Kneser-Ney smoothing.

    A doc that cannot score — fewer than 2 tokens, NULL text, a NULL
    language or one the model never saw — keeps its row from the same
    scan (an outer explode, a left join of the per-language totals)
    with the sentinels ``n_bigrams = 0`` and ``ppl = ppl_kn = -1.0``;
    a trained-language doc with >= 2 tokens always scores. Unseen
    context -> c1 = 0 (add-one probability 1/V): vsize comes from the
    per-LANGUAGE totals, not from the left-joined ctx row, which an
    unseen (lang, w1) misses.

    Join strategy: only the |langs|-row totals frame carries a
    broadcast hint. grid, ctx and cont are corpus-VOCABULARY-
    proportional (Heaps' law), so their joins are left to AQE."""
    totals = ctx.select("lang", "vsize", "n1p_all").distinct()
    contexts = ctx.select("lang", "w1", "c1", "n1p_w1")
    scored = (
        _bigrams(docs.select("doc_id", "lang", "text"), outer=True)
        .join(F.broadcast(totals), "lang", "left")
        .join(contexts, ["lang", "w1"], "left")
        .join(grid, ["lang", "w1", "w2"], "left")
        .join(cont, ["lang", "w2"], "left")
    )
    d = F.lit(KN_DISCOUNT)
    pcont = (F.coalesce("n1p_w2", F.lit(0)) + F.lit(1.0)) / (F.col("n1p_all") + F.col("vsize"))
    p_seen = (
        F.greatest(F.coalesce("c12", F.lit(0)) - d, F.lit(0.0)) / F.col("c1")
        + d * F.col("n1p_w1") / F.col("c1") * pcont
    )
    probs = {
        "ppl": (F.coalesce("c12", F.lit(0)) + F.lit(1.0))
        / (F.coalesce("c1", F.lit(0)) + F.col("vsize")),
        "ppl_kn": F.when(F.col("c1").isNotNull(), p_seen).otherwise(pcont),
    }
    ok = F.col("w1").isNotNull() & F.col("vsize").isNotNull()

    def ppl(p: Column) -> Column:
        logp = F.when(ok, F.log(p))
        return F.coalesce(F.round(F.exp(-F.avg(logp)) + F.lit(1e-9), 6), F.lit(-1.0))

    return scored.groupBy("doc_id", "lang").agg(
        F.count(F.when(ok, 1)).alias("n_bigrams"),
        *[ppl(p).alias(name) for name, p in probs.items()],
    )


def ntile_buckets(scores: DataFrame, ppl: str = "ppl") -> DataFrame:
    """``(doc_id, lang, n_bigrams, ppl, bucket)`` from an `lm_scores`
    table: each language's scored docs ntile'd into head/middle/tail
    thirds by (score column ``ppl``, doc_id) — a deterministic split on
    both engines — the unscorable ones 'unscored'. One window over a
    (lang, scorable) partition — no union, no second scan for the
    sentinel rows."""
    scorable = F.col("n_bigrams") > 0
    w = Window.partitionBy("lang", scorable).orderBy(F.col(ppl).asc(), F.col("doc_id").asc())
    tercile = F.element_at(
        F.create_map(*[x for k, v in _BUCKETS.items() for x in (F.lit(k), F.lit(v))]),
        F.ntile(3).over(w),
    )
    return scores.select(
        "doc_id", "lang", "n_bigrams", F.col(ppl).alias("ppl"),
        F.when(scorable, tercile).otherwise(F.lit("unscored")).alias("bucket"),
    )


def tercile_bounds(scores: DataFrame, ppl: str = "ppl") -> DataFrame:
    """The FROZEN serving artifact ``(lang, _b array<double>)``:
    per-language approximate tercile boundaries of the scorable rows'
    score column ``ppl``, one approx_percentile pass (a mergeable
    per-partition sketch — no ordering shuffle). Freeze them from the
    corpus the model was fitted on: every trained language has a
    scorable training doc, so the table covers every language the model
    can score."""
    return (
        scores.where(F.col("n_bigrams") > 0)
        .groupBy("lang")
        .agg(F.percentile_approx(ppl, [1.0 / 3.0, 2.0 / 3.0]).alias("_b"))
    )


def bounded_buckets(scores: DataFrame, bounds: DataFrame, ppl: str = "ppl") -> DataFrame:
    """``(doc_id, lang, n_bigrams, ppl, bucket)`` from an `lm_scores`
    table and a frozen `tercile_bounds` table: each scored row compared
    against its language's broadcast |langs|x2 boundaries — no sort
    anywhere. A doc's row depends on nothing else in the frame, so the
    streaming serve equals this batch form under any delivery split.
    Against bounds of the same scores it is the zero-global-sort
    approximation of `ntile_buckets` (boundary docs may land one bucket
    off, within the sketch's rank error).

    The serving artifact is model AND bounds together: a doc of a
    language without bounds — a trained language left out of the table
    included — files as 'unscored' with ``n_bigrams = 0`` and
    ``ppl = -1.0``, never vanishes."""
    b = F.col("_b")
    scorable = (F.col("n_bigrams") > 0) & b.isNotNull()
    bucket = (
        F.when(~scorable, "unscored")
        .when(F.col(ppl) <= b[0], "head")
        .when(F.col(ppl) <= b[1], "middle")
        .otherwise("tail")
    )
    return scores.join(F.broadcast(bounds), "lang", "left").select(
        "doc_id",
        "lang",
        F.when(scorable, F.col("n_bigrams")).otherwise(F.lit(0)).alias("n_bigrams"),
        F.when(scorable, F.col(ppl)).otherwise(F.lit(-1.0)).alias("ppl"),
        bucket.alias("bucket"),
    )


def rho_excess(scores: DataFrame) -> DataFrame:
    """(doc_id, lang, ppl_base, ppl_ref, excess) from an `lm_scores`
    table: the RHO learnability score excess =
    round(ln(ppl_base) − ln(ppl_ref), 6), the per-token log-loss delta
    between the weak add-one base LM and the strong Kneser-Ney
    reference, both read off the same scoring pass. Unscorable docs
    keep their -1.0 sentinels and a NULL excess, which a cutoff never
    ranks (`dsir_kth_weight`) and `rho_select` files as 0.0, not kept.
    One definition feeds BOTH the batch selection query and the frozen
    serve, so the score cannot drift between them."""
    return scores.select(
        "doc_id",
        "lang",
        F.col("ppl").alias("ppl_base"),
        F.col("ppl_kn").alias("ppl_ref"),
        F.when(
            F.col("n_bigrams") > 0, F.round(F.log("ppl") - F.log("ppl_kn"), 6)
        ).alias("excess"),
    )


def rho_select(excess: DataFrame, cutoff: Column) -> DataFrame:
    """(doc_id, lang, ppl_base, ppl_ref, excess, kept) of a `rho_excess`
    frame: kept = excess >= ``cutoff`` (ties all kept); an unscorable
    doc's excess files as 0.0, never kept."""
    return excess.select(
        "doc_id",
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
) -> DataFrame:
    """(doc_id, lang, ppl_base, ppl_ref, excess, kept): RHO-loss
    learnability selection against FROZEN artifacts — the serve-online
    half of the excess-perplexity split, the same pattern as
    `bounded_buckets` (frozen model + frozen bounds) and
    `dsir_score_frozen` (frozen model + frozen cutoff).

    ``model`` is an `lm_fit` triple: its add-one projection is the weak
    base LM, its Kneser-Ney scores the strong reference, both from one
    `lm_scores` pass. kept = excess >= cutoff is a pure per-document
    predicate given the frozen (model, cutoff), so a document's row is
    identical whether it arrives alone, in any micro-batch, or in the
    full batch. Ties at the cutoff are all kept. Docs the model cannot
    score carry ppl −1.0, excess 0.0, kept false. The cutoff travels as
    an explicitly-broadcast 1-row frame ``(cutoff)`` — derive it with
    `dsir_kth_weight(excess, frac, weight_col="excess")` over the
    reference corpus, never a global rank."""
    return rho_select(
        rho_excess(lm_scores(docs, *model)).crossJoin(F.broadcast(cutoff)),
        F.col("cutoff"),
    )
