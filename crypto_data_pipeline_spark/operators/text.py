"""Text-analysis operators for the `documents` table (north star:
LLM-training-data pipeline ops; BASELINE.json:6).

All hot-path logic is JVM expressions (split / higher-order array
functions / regexp) — no Python UDFs — so at 100 TB the scan streams
through whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Tiny deterministic stopword lists per language (public common-word
# lists). Used by the n-gram-heuristic language identifier.
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is"),
    "es": ("el", "la", "de", "que", "y", "en", "los"),
    "de": ("der", "die", "und", "das", "ist", "von"),
    "fr": ("le", "les", "et", "des", "du", "une"),
    "zh": ("的", "是", "了", "在", "我"),
}
LANG_PRIORITY = ("en", "es", "de", "fr", "zh")


def normalized(text: str | Column = "text") -> Column:
    """Canonical text normalization: lowercase, trim, collapse runs of
    whitespace. Shared by dedup hashing and fingerprinting so every
    operator agrees on identity."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


def tokens(text: str | Column = "text") -> Column:
    return F.split(normalized(text), " ")


def tokens_sql(text: str = "text") -> str:
    """`tokens` of the column ``text`` as Spark SQL text."""
    return f"split(regexp_replace(trim(lower(`{text}`)), '\\\\s+', ' '), ' ')"


def with_text_stats(df: DataFrame, text: str = "text") -> DataFrame:
    """Quality-scoring features: length, word count, punctuation ratio,
    stopword ratio, mean word length, and a composite quality score.
    Every ratio is a single IEEE division on integer counts →
    engine-portable without rounding."""
    toks = tokens(text)
    n_chars = F.length(text)
    n_words = F.size(toks)
    punct = F.length(text) - F.length(F.regexp_replace(text, r"[!?.,;:]", ""))
    stop = F.size(F.expr(f"filter({tokens_sql(text)}, t -> t in {STOPWORDS['en']})"))
    word_len_sum = F.aggregate(F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x)
    return (
        df.withColumn("n_chars_calc", n_chars.cast("long"))
        .withColumn("n_words", n_words.cast("long"))
        .withColumn("punct_ratio", punct.cast("double") / n_chars)
        .withColumn("stopword_ratio", stop.cast("double") / n_words)
        .withColumn("mean_word_len", word_len_sum.cast("double") / n_words)
    )


def with_quality_score(df: DataFrame) -> DataFrame:
    """Composite [0,1] quality heuristic over the stat columns."""
    score = (
        0.3 * F.least(F.col("n_words").cast("double") / 200, F.lit(1.0))
        + 0.3 * (1 - F.col("punct_ratio"))
        + 0.4 * F.least(F.col("stopword_ratio") * 5, F.lit(1.0))
    )
    return df.withColumn("quality_score", F.round(score, 6))


def lang_scores(text: str = "text") -> dict[str, Column]:
    """Per-language stopword-hit counts over the token array."""
    out = {}
    for lang in LANG_PRIORITY:
        words = STOPWORDS[lang]
        out[lang] = F.size(F.expr(
            f"filter(split(regexp_replace(trim(lower({text})), '\\\\s+', ' '), ' '), "
            f"t -> t in {words})"
        ))
    return out


def with_lang_id(df: DataFrame, text: str = "text") -> DataFrame:
    """Language-ID heuristic: argmax of stopword hits, 'und' when no
    list matches; ties resolve in LANG_PRIORITY order."""
    scores = lang_scores(text)
    cols = {f"score_{k}": v for k, v in scores.items()}
    best = F.lit("und")
    # build the argmax as a reverse-priority when-chain
    expr = None
    for lang in LANG_PRIORITY:
        s = cols[f"score_{lang}"]
        cond = (s > 0)
        for other in LANG_PRIORITY:
            if other != lang and LANG_PRIORITY.index(other) < LANG_PRIORITY.index(lang):
                cond = cond & (s > cols[f"score_{other}"])
            elif other != lang:
                cond = cond & (s >= cols[f"score_{other}"])
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    df = df.withColumn("lang_pred", expr.otherwise(best))
    return df


# Gopher/C4-style document-level quality rules (Rae et al. 2021 §A1.1,
# Raffel et al. 2020 §2.2 — thresholds adapted to this corpus's short
# synthetic docs). Declaration order is the fail_reasons output order.
QUALITY_RULES: tuple[tuple[str, str], ...] = (
    ("too_short", "n_words < 20"),
    ("too_long", "n_words > 5000"),
    ("word_len_out", "mean_word_len < 3.0 OR mean_word_len > 10.0"),
    ("punct_heavy", "punct_ratio > 0.1"),
    ("no_stopwords", "stopword_ratio < 0.02"),
    ("low_alpha", "alpha_ratio < 0.6"),
    ("repetitive", "dup_2gram_ratio > 0.1"),
)


def with_quality_filter(df: DataFrame, text: str = "text") -> DataFrame:
    """Composite corpus-quality filter: every QUALITY_RULES predicate
    as a named flag, ``fail_reasons`` (comma-joined failed rule names,
    declaration order) and the ``keep`` bit. Expects the stat columns
    of with_text_stats; adds ``alpha_ratio`` (share of [a-z ] chars in
    the normalized text — the Gopher alphabetic-character rule) and the
    repetition columns (with_repetition_stats) when absent. All flags
    are single boolean expressions over already-computed stats, so the
    filter adds zero passes over the data."""
    if "dup_2gram_ratio" not in df.columns:
        df = with_repetition_stats(df, text)
    norm = normalized(text)
    df = df.withColumn(
        "alpha_ratio",
        F.length(F.regexp_replace(norm, "[^a-z ]", "")).cast("double") / F.length(norm),
    )
    reasons = [F.when(F.expr(cond), F.lit(name)) for name, cond in QUALITY_RULES]
    df = df.withColumn("fail_reasons", F.concat_ws(",", *reasons))
    return df.withColumn("keep", (F.col("fail_reasons") == "").cast("int"))


def with_repetition_stats(df: DataFrame, text: str = "text") -> DataFrame:
    """Within-document repetition signals (the Gopher §A1.1 duplicate
    n-gram fraction, doc-level): ``dup_word_ratio`` = share of word
    occurrences that are repeats, ``dup_2gram_ratio`` = same over
    adjacent word 2-grams (0.0 for sub-2-word docs). High values mark
    boilerplate/spam for the quality filter. Pure higher-order array
    expressions over one tokenization — no shuffle, no Python."""
    # stage the token and gram ARRAYS as real columns: an outer-column
    # expression referenced inside a higher-order-function lambda is
    # re-evaluated per element (no CSE inside HOFs), so inlining
    # `tokens(text)` in the gram lambda re-tokenizes the document once
    # per 2-gram — O(len^2) work. Measured 6.7s -> 0.4s at sf0.1.
    staged = df.withColumn("_rs_toks", tokens(text))
    toks = F.col("_rs_toks")
    n = F.size(toks)
    # the n >= 2 guard must wrap the STAGED column itself: for a
    # 1-word doc sequence(0, -1) yields [0, -1] and slice(toks, 0, 2)
    # throws (slice start 0 is invalid) — the old inline form never
    # evaluated the lambda for short docs because the whole expression
    # lived under the F.when, but the staged column is computed for
    # every row
    staged = staged.withColumn(
        "_rs_grams",
        F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(0), n - 2),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    grams = F.col("_rs_grams")
    dup_word = F.round(1 - F.size(F.array_distinct(toks)).cast("double") / n, 6)
    dup_2gram = F.when(n >= 2, F.round(
        1 - F.size(F.array_distinct(grams)).cast("double") / F.size(grams), 6
    )).otherwise(F.lit(0.0))
    return (
        staged.withColumn("dup_word_ratio", dup_word)
        .withColumn("dup_2gram_ratio", dup_2gram)
        .drop("_rs_toks", "_rs_grams")
    )


def chunk_tokens(
    df: DataFrame,
    chunk: int = 32,
    stride: int = 16,
    id_col: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Sliding-window document chunking: split each document into
    token windows of ``chunk`` words starting every ``stride`` words
    (overlapping when stride < chunk) — the context-window packing
    prep step of an LLM training pipeline.

    One row per (doc, window start): (id, start, n_tokens, chunk_text).
    The window starts are a generated integer sequence exploded inline
    and each chunk is a slice of the one tokenization — a single scan,
    no self-join, no Python; row amplification is the output itself
    (~n_words/stride rows per doc), which is the operator's contract.
    """
    if stride <= 0 or chunk <= 0:
        raise ValueError("chunk and stride must be positive")
    toks = tokens(text)
    n = F.size(toks)
    starts = F.sequence(F.lit(0), n - 1, F.lit(stride))
    exploded = df.select(
        F.col(id_col), toks.alias("_toks"), F.explode(starts).alias("start")
    )
    piece = F.slice(F.col("_toks"), F.col("start") + 1, chunk)
    return exploded.select(
        id_col,
        F.col("start").cast("long").alias("start"),
        F.size(piece).cast("long").alias("n_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )


def with_winnowing(
    df: DataFrame,
    text: str = "text",
    k: int = 8,
    window: int = 4,
    base: int = 131,
    mod: int = 2147483647,
) -> DataFrame:
    """Winnowing document sketch (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): over the char-k-gram rolling hashes, select the MINIMUM
    of every ``window`` consecutive hashes; the distinct selected set
    is the document's sketch. Guarantees: any shared substring of
    length ≥ k+window-1 contributes at least one common fingerprint,
    while storing only ~2/(window+1) of the grams — the match-detection
    density/robustness trade the paper proves.

    Adds n_fps (sketch size), min_fp, and fp_sum (exact-integer
    checksum of the sketch). Pure array expressions under the portable
    polynomial hash, so the DuckDB oracle reproduces the sketch
    bit-for-bit."""
    staged = df.withColumn("_fps", winnow_fps(text, k, window, base, mod))
    return (
        staged.withColumn("n_fps", F.size("_fps").cast("long"))
        .withColumn("min_fp", F.array_min("_fps"))
        .withColumn(
            "fp_sum",
            F.aggregate(F.col("_fps"), F.lit(0).cast("long"), lambda a, x: a + x),
        )
        .drop("_fps")
    )


def winnow_fps(
    text: str = "text",
    k: int = 8,
    window: int = 4,
    base: int = 131,
    mod: int = 2147483647,
) -> Column:
    """The winnowing sketch as a column: distinct window-minima of the
    char-k-gram rolling hashes (see with_winnowing)."""
    codes = F.transform(F.split(normalized(text), ""), F.ascii)
    n = F.size(codes)

    def poly(arr: Column) -> Column:
        return F.aggregate(
            arr, F.lit(0).cast("long"), lambda h, x: (h * base + x) % F.lit(mod)
        )

    grams = F.when(
        n >= k,
        F.transform(F.sequence(F.lit(0), n - k), lambda i: poly(F.slice(codes, i + 1, k))),
    ).otherwise(F.array(poly(codes)))

    def windowed_min(g: Column) -> Column:
        m = F.size(g)
        return F.when(
            m >= window,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), m - window),
                    lambda i: F.array_min(F.slice(g, i + 1, window)),
                )
            ),
        ).otherwise(F.array(F.array_min(g)))

    # bind the gram array to a lambda VARIABLE before windowing — the
    # raw grams expression referenced inside the window lambda would
    # re-hash the whole document once per window position; as a lambda
    # var it is evaluated once per row
    return F.element_at(F.transform(F.array(grams), windowed_min), 1)


def boilerplate_ratio(
    df: DataFrame,
    min_docs: int = 5,
    id_col: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Corpus-boilerplate signal: the share of a document's winnowing
    fingerprints that appear in at least ``min_docs`` documents —
    headers, navigation chrome, and license blocks score high while
    original prose scores low (the cross-document repetition axis of
    RefinedWeb-style filtering; the within-document axis is
    with_repetition_stats).

    Plan: explode sketches, ONE shuffle on fingerprint producing the
    document-frequency table, joined straight back on the same
    fingerprint partitioning, then a per-doc reduction. Returns
    (doc_id, n_fps, n_boiler, boilerplate_ratio)."""
    sets = df.select(F.col(id_col).alias("id"), winnow_fps(text).alias("fps"))
    ex = sets.select("id", F.explode("fps").alias("fp"))
    # fps are distinct per doc, so count(*) per fp IS the doc frequency
    freq = ex.groupBy("fp").agg(F.count(F.lit(1)).alias("_df"))
    hit = F.when(F.col("_df") >= min_docs, 1).otherwise(0)
    return (
        ex.join(freq, "fp")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fps"),
            F.sum(hit).cast("long").alias("n_boiler"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_fps",
            "n_boiler",
            F.round(F.col("n_boiler") / F.col("n_fps"), 6).alias("boilerplate_ratio"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Per-document top-``k`` TF-IDF terms (smoothed idf =
    ln((N+1)/(df+1)) + 1, tf = in-doc count / doc length) — the
    classic keyword-extraction / relevance-weighting primitive.

    Plan shape at scale: one explode of the tokenization, ONE shuffle
    on term for (doc, term) counts, the document-frequency table joined
    back ON THE SAME term partitioning (no broadcast hint — a web-scale
    vocabulary is not broadcast-safe; Catalyst/AQE still broadcasts it
    when it measures small), and a per-doc window for the top-k. The
    corpus row count rides in via a broadcast 1-row aggregate, not a
    driver collect. Scores are rounded to 6 dp before ranking (id/term
    tiebreaks) so the ranking is deterministic and engine-portable.
    """
    from pyspark.sql import Window

    terms = df.select(
        F.col(id_col), F.size(tokens(text)).alias("_len"), F.explode(tokens(text)).alias("term")
    )
    per_doc = terms.groupBy(id_col, "_len", "term").agg(F.count(F.lit(1)).alias("_tc"))
    docfreq = per_doc.groupBy("term").agg(F.countDistinct(id_col).alias("_df"))
    n_docs = df.agg(F.countDistinct(id_col).alias("_n"))
    scored = (
        per_doc.join(docfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                (F.col("_tc").cast("double") / F.col("_len"))
                * (F.log((F.col("_n").cast("double") + 1) / (F.col("_df") + 1)) + 1),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "tfidf", "rank")
    )


def with_token_counts(df: DataFrame, text: str = "text") -> DataFrame:
    """Whitespace token count + a BPE-ish regex token count
    (letter runs / digit runs / single punctuation)."""
    return (
        df.withColumn("ws_tokens", F.size(tokens(text)).cast("long"))
        .withColumn(
            "re_tokens",
            F.size(F.expr(f"regexp_extract_all(lower({text}), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)")).cast("long"),
        )
    )


# PII-style scrubbing patterns. Deliberately restricted to syntax both
# Java regex and RE2 (DuckDB) execute identically: no lookaround, no
# backreferences, greedy quantifiers over disjoint character classes.
REDACTION_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("idnum", r"\d{9,}", "<ID>"),
]


def with_redactions(df: DataFrame, text: str = "text") -> DataFrame:
    """Training-corpus scrubbing: count and redact email addresses,
    IPv4 literals, and long digit runs (account/card/SSN-shaped ids).
    Counts are measured on the ORIGINAL text; redaction applies the
    patterns in declaration order (emails before ids, so an address's
    digits aren't double-counted as an id). Pure regexp codegen — the
    scan streams at 100 TB like every other operator here."""
    redacted = F.col(text)
    for name, pat, repl in REDACTION_PATTERNS:
        df = df.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all(F.col(text), F.lit(pat), F.lit(0))).cast("long"),
        )
        redacted = F.regexp_replace(redacted, pat, repl)
    return df.withColumn("redacted", redacted)


def with_fingerprint(df: DataFrame, text: str = "text") -> DataFrame:
    """Document fingerprint: md5 of the normalized text (deterministic,
    engine-portable). A content-defined id for exact dedup and
    incremental re-ingestion."""
    return df.withColumn("fingerprint", F.md5(normalized(text)))


def with_rolling_fingerprint(
    df: DataFrame, text: str = "text", k: int = 8, base: int = 131, mod: int = 2147483647
) -> DataFrame:
    """Rabin-Karp-style rolling-hash fingerprint (the winnowing/MOSS
    family): polynomial hash h = (h*base + codepoint) mod 2^31-1 over
    every char k-gram of the normalized text; the document fingerprint
    is the MINIMUM gram hash (a bottom-1 sketch — robust to local
    edits, unlike md5), plus the distinct-gram count.

    Engine-portable by construction: codepoints via ascii(), exact
    integer arithmetic under a sub-32-bit modulus (no overflow in
    either engine), so the DuckDB oracle reproduces it bit-for-bit.
    Everything is JVM array expressions — no Python in the hot path."""
    codes = F.transform(F.split(normalized(text), ""), F.ascii)
    staged = df.withColumn("_codes", codes)
    c = F.col("_codes")
    n = F.size(c)

    def poly(arr: Column) -> Column:
        return F.aggregate(
            arr, F.lit(0).cast("long"), lambda h, x: (h * base + x) % F.lit(mod)
        )

    grams = F.when(
        n >= k,
        F.transform(F.sequence(F.lit(0), n - k), lambda i: poly(F.slice(c, i + 1, k))),
    ).otherwise(F.array(poly(c)))
    return (
        staged.withColumn("_grams", grams)
        .withColumn("rolling_min_hash", F.array_min("_grams"))
        .withColumn("n_grams", F.size(F.array_distinct("_grams")).cast("long"))
        .drop("_codes", "_grams")
    )


def with_unigram_logprob(df: DataFrame, text: str = "text") -> DataFrame:
    """CCNet-style corpus-LM quality signal (Wenzek et al. 2020): score
    each document by the mean negative log-probability of its tokens
    under the corpus's own unigram distribution, then bucket into
    head/middle/tail terciles — the standard perplexity-split used to
    stage web-corpus quality tiers for LLM training. (The reference has
    no text stack; this extends its quality surface. A neural-LM
    perplexity tier would slot in behind the same bucket contract.)

    Plan shape: one explode scan, one term-key shuffle for the
    vocabulary counts, one shuffle join back (AQE picks broadcast when
    the vocab fits), one doc-key aggregation. The tercile bounds ride a
    broadcast 1-row frame, so no global sort anywhere. Scores round to
    6 dp BEFORE the bounds are taken so both engines bucket
    identically. At 100 TB the exact ``percentile`` bounds frame is the
    only non-mergeable piece — swap it for ``approx_percentile`` (the
    sketch path proven in value_percentiles/equi-depth tests).
    """
    terms = df.select("doc_id", F.explode(tokens(text)).alias("term"))
    freq = terms.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    total = freq.agg(F.sum("tf").alias("n_total"))
    scored = (
        terms.join(freq, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(-F.log(F.col("tf").cast("double") / F.col("n_total"))), 6
            ).alias("neg_logprob"),
        )
    )
    bounds = scored.agg(
        F.expr("percentile(neg_logprob, 0.3333333333333333)").alias("b1"),
        F.expr("percentile(neg_logprob, 0.6666666666666666)").alias("b2"),
    )
    return scored.crossJoin(F.broadcast(bounds)).select(
        "doc_id",
        "n_tokens",
        "neg_logprob",
        F.when(F.col("neg_logprob") <= F.col("b1"), F.lit("head"))
        .when(F.col("neg_logprob") <= F.col("b2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


def vocab_coverage(df: DataFrame, text: str = "text") -> DataFrame:
    """Tokenizer-vocabulary induction diagnostic: rank the corpus
    vocabulary by frequency (ties broken by term asc) and carry each
    term's cumulative share of all corpus tokens — the curve that
    answers "how big a vocab covers 95% of the tokens", the standard
    first look before training a subword tokenizer.

    Plan shape: one explode scan, one term-key shuffle for the counts,
    then a single-partition ranking sort. That global sort is over the
    VOCABULARY (model-sized — a few million rows even for web-scale
    corpora), never the corpus, which is the same deliberate trade
    documented at value_ntile_deciles; the corpus itself is touched by
    exactly one scan + one aggregation. ``cum_share`` is 6-dp rounded
    with the tie-up nudge so the oracle buckets identically."""
    from pyspark.sql import Window

    terms = df.select(F.explode(tokens(text)).alias("term"))
    freq = terms.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    total = freq.agg(F.sum("tf").alias("n_total"))
    w = Window.orderBy(F.desc("tf"), F.asc("term"))
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        freq.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w))
        .withColumn(
            "cum_share",
            F.round(
                F.sum("tf").over(cum).cast("double") / F.col("n_total") + F.lit(1e-9), 6
            ),
        )
        .select("term", "tf", "rank", "cum_share")
    )


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Okapi BM25 top-k ranked retrieval for a fixed term query
    (Robertson & Zaragoza 2009, §3.3):

      score(d) = sum_t ln(1 + (N - df_t + 0.5)/(df_t + 0.5))
                 * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))

    Plan shape at 100 TB: the corpus is scanned once; the only
    corpus-sized shuffle is the (doc, term) tf aggregation PRE-FILTERED
    to the |Q| query terms (map-side combine absorbs everything else).
    df_t is a |Q|-row broadcast, (N, avgdl) a 1-row broadcast, and the
    final top-k is orderBy+limit = TakeOrderedAndProject (per-partition
    heaps, no global sort partition)."""
    toks = tokens(text)
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("_tk"))
    lens = base.select("doc_id", F.size("_tk").alias("dl"))
    totals = lens.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        base.select("doc_id", F.explode("_tk").alias("term"))
        .where(F.col("term").isin(*terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "contrib",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
            )
            * F.col("tf")
            * F.lit(k1 + 1.0)
            / (
                F.col("tf")
                + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )
