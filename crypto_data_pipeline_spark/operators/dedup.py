"""Deduplication operators for the `documents` table (north star ops).

Five families, from exact to fuzzy:

  * exact       — md5 over normalized text, hash-groupBy (one shuffle).
  * minhash+LSH — shingle → polynomial shingle hashes → (a·x+b) mod P
                  signature → band → bucket groupBy → candidate pairs
                  → exact-Jaccard verify.
  * simhash     — 60-bit Charikar sketch, bit = majority vote over the
                  tokens' hash bits; near-dup = Hamming ≤ 3, banded
                  into 15-bit keys for bucketing.
  * n-gram Jaccard — exact verified similarity on candidate pairs.
  * embedding cosine — see similarity.py.

One pipeline per sketch, and each is exact int64 arithmetic that
DuckDB reproduces bit for bit, so the lossy stages hash-check against
their SQL twins in plans/extension_queries.py. The sketch expressions
are SQL text parsed by one `F.expr` each: a 32-row signature costs one
driver round trip to build, where the equivalent Column tree costs
hundreds.

Scale design: nothing here ever materializes an O(n²) cross product.
Candidate generation is always a shuffle on a bucket key (LSH bands /
simhash bands), so cost is O(sum of bucket sizes²) — the standard
web-scale dedup layout (MinHashLSH as in Broder '97 / the Spark MLlib
MinHashLSH design, re-expressed with higher-order array functions so
signatures never leave the JVM).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from crypto_data_pipeline_spark.operators.sampling import spark_sql_avalanche_bucket
from crypto_data_pipeline_spark.operators.text import normalized, tokens, tokens_sql


# ---------------------------------------------------------------------------
# exact


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text: str = "text") -> DataFrame:
    """Hash-groupBy duplicate census: one row per distinct normalized
    text, with the member count and the survivor (min id)."""
    return (
        df.withColumn("content_hash", F.md5(normalized(text)))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text: str = "text") -> DataFrame:
    """Keep exactly one row (min id) per normalized-content hash.
    Window-over-hash instead of join-back → single shuffle."""
    w = Window.partitionBy("content_hash").orderBy(id_col)
    return (
        df.withColumn("content_hash", F.md5(normalized(text)))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def exact_dedup_prioritized(
    df: DataFrame,
    order_by: Sequence,
    id_col: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Cross-source survivorship: keep ONE row per normalized-content
    hash, chosen by ``order_by`` (e.g. source-priority rank, then id as
    the deterministic tiebreak) — the "keep the best copy" step when
    the same document arrives from multiple crawls/feeds of different
    quality. Same single-shuffle window-over-hash plan as exact_dedup,
    only the ORDER BY differs."""
    w = Window.partitionBy("content_hash").orderBy(*order_by)
    return (
        df.withColumn("content_hash", F.md5(normalized(text)))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# shingles + minhash

PORTABLE_MOD = 2147483647  # 2^31 - 1: products of two residues fit int64
PORTABLE_BASE = 131


def _shingles_sql(toks: str, k: int) -> str:
    """SQL text of the distinct k-word shingles of the token-array
    column ``toks``. A document of fewer than k words is one shingle,
    its whole text."""
    return (
        f"array_distinct(CASE WHEN size({toks}) >= {k} "
        f"THEN transform(sequence(0, size({toks}) - {k}), "
        f"i -> concat_ws(' ', slice({toks}, i + 1, {k}))) "
        f"ELSE array(concat_ws(' ', {toks})) END)"
    )


def word_shingles(toks: str = "_tk", k: int = 3) -> Column:
    """Distinct k-word shingles (k-shingling as in Broder's resemblance
    paper) of a STAGED token-array column, e.g. ``tokens(text)``
    selected as ``_tk``. Stage it: an expression in its place would be
    re-evaluated once per shingle inside the slice lambda, because
    higher-order-function lambdas get no common-subexpression
    elimination."""
    return F.expr(_shingles_sql(toks, k))


def shingle_sets(df: DataFrame, id_col: str = "doc_id", text: str = "text", k: int = 3) -> DataFrame:
    """(id, sh) — each doc's distinct shingle set, materialized ONCE as
    a projection stage, so downstream operators consume the `sh`
    column instead of re-deriving the shingle expression."""
    staged = df.select(F.col(id_col).alias("id"), tokens(text).alias("_tk"))
    return staged.select("id", word_shingles(k=k).alias("sh"))


def portable_minhash_params(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) pairs for the universal hash family
    h_j(x) = (a_j·x + b_j) mod P — LCG-generated so the Spark
    expressions and the DuckDB oracle derive the identical family."""
    state = seed
    out = []
    for _ in range(num_hashes):
        state = (1103515245 * state + 12345) % (1 << 31)
        a = (state % (PORTABLE_MOD - 2)) + 1
        state = (1103515245 * state + 12345) % (1 << 31)
        b = state % PORTABLE_MOD
        out.append((a, b))
    return out


def _poly_fold(arr: Column) -> Column:
    return F.aggregate(
        arr,
        F.lit(0).cast("long"),
        lambda h, x: (h * PORTABLE_BASE + x) % F.lit(PORTABLE_MOD),
    )


def _poly_fold_sql(arr: str) -> str:
    """SQL text of `_poly_fold`: (h·131 + x) mod 2^31-1 over ``arr``."""
    return f"aggregate({arr}, 0L, (h, x) -> (h * {PORTABLE_BASE} + x) % {PORTABLE_MOD})"


def _char_hash_sql(s: str) -> str:
    """SQL text of the polynomial char hash of the string ``s``."""
    return _poly_fold_sql(f"transform(split({s}, ''), c -> ascii(c))")


def portable_hashed_shingle_sets(
    df: DataFrame, id_col: str = "doc_id", text: str = "text", k: int = 3
) -> DataFrame:
    """(id, hs): distinct word-k-shingle hashes under the polynomial
    char hash (h·131 + codepoint) mod 2^31-1 — exact integer arithmetic
    both engines execute bit-identically (the same family the rolling
    fingerprint proves portable).

    No ``fan_out`` here: its partition check launches a build-time job
    on an input that shuffles (dedup_staged_pipeline's exact-dedup
    survivors), so the caller fans out a plain scan instead."""
    # tokens are staged: the shingle lambda reads `_tk` per position
    staged = df.select(F.col(id_col).alias("id"), tokens(text).alias("_tk"))
    hs = f"array_distinct(transform({_shingles_sql('_tk', k)}, s -> {_char_hash_sql('s')}))"
    return staged.select("id", F.expr(hs).alias("hs"))


def portable_minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """(id, hs, sig): the per-document COMPUTE stage of the MinHash
    pipeline — distinct shingle hashes plus the num_hashes-row
    (a·x+b) mod P signature. A frame of its own so that (a) the scale
    probes attribute the near-dup stage's cost between signature
    compute, the band shuffle and verification, and (b) callers can
    land it AT REST and pass it back through ``signatures=``: the
    signature is a pure function of the text, so an incremental
    re-curation signs only novel documents (docs/SCALE_PROBE.md)."""
    sets = portable_hashed_shingle_sets(df, id_col, text, shingle_k)
    sig = ", ".join(
        f"array_min(transform(hs, h -> (h * {a} + {b}) % {PORTABLE_MOD}))"
        for a, b in portable_minhash_params(num_hashes)
    )
    return sets.select("id", "hs", F.expr(f"array({sig})").alias("sig"))


def portable_lsh_band_buckets(
    signatures: DataFrame, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """(band_idx, band_hash, ids): the banding's buckets BEFORE the
    hot-bucket cap — polynomial keys of the r = num_hashes/bands rows
    of each band over the (id, sig) frame, one groupBy on
    (band_idx, band_hash). tools/dedup_scale_probe.py reads its size
    histogram, so cap engagement is a measured artifact."""
    if num_hashes % bands:
        raise ValueError("num_hashes must divide into equal bands")
    r = num_hashes // bands
    keys = ", ".join(
        f"named_struct('band_idx', {b}, 'band_hash', "
        f"{_poly_fold_sql(f'slice(sig, {b * r + 1}, {r})')})"
        for b in range(bands)
    )
    return (
        signatures.select("id", F.expr(f"inline(array({keys}))"))
        .groupBy("band_idx", "band_hash")
        .agg(F.array_sort(F.collect_set("id")).alias("ids"))
    )


# the upper-triangular pairs (id_a < id_b) of a sorted `ids` array
_PAIRS_SQL = (
    "inline(flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)), "
    "y -> named_struct('id_a', x, 'id_b', y)))))"
)


def portable_lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int = 200,
) -> DataFrame:
    """The SHUFFLE stage of the MinHash pipeline: distinct
    (id_a, id_b) pairs sharing a band bucket. One signature pass and
    ONE shuffle — buckets are a groupBy/collect_set and pairs expand
    with array combinatorics, no self-join. Buckets larger than
    ``max_bucket`` are dropped (the LSH hot-bucket guard: a bucket of
    B ids costs O(B²) pairs, and at web scale a stopword-like shingle
    pattern would otherwise dominate the whole job)."""
    buckets = portable_lsh_band_buckets(signatures, num_hashes, bands).where(
        (F.size("ids") >= 2) & (F.size("ids") <= max_bucket)
    )
    return buckets.select(F.expr(_PAIRS_SQL)).distinct()


def jaccard_verified_pairs(
    sets: DataFrame,
    candidates: DataFrame,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs.

    Jaccard is computed over the hashed shingle sets (id, hs) — set
    semantics are identical up to (negligible) shingle-hash collisions.
    Pass a `sets` frame already pruned to the candidate ids (see
    minhash_dedup_pairs_portable) — both pair sides broadcast it. The
    hint is deliberate and BOUNDED, unlike an entity-proportional
    frame: the broadcast side is capped by the LSH bucket cap
    (max_bucket rows per band bucket) and, in the staged pipeline, by
    exact-dedup running first — the candidate-id set is the near-dup
    frontier, not the corpus. Callers feeding unpruned sets at scale
    should drop to the plain join and let AQE measure."""
    out = (
        candidates.join(
            F.broadcast(sets.withColumnRenamed("id", "id_a").withColumnRenamed("hs", "hs_a")), "id_a"
        )
        .join(F.broadcast(sets.withColumnRenamed("id", "id_b").withColumnRenamed("hs", "hs_b")), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("hs_a", "hs_b")).cast("double")
            / F.size(F.array_union("hs_a", "hs_b")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


def minhash_dedup_pairs_portable(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int = 200,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs (Broder '97), exact-Jaccard verified
    at ``threshold``: polynomial shingle hashes, (a·x+b) mod P
    signature rows, polynomial band keys, one capped bucket groupBy,
    then Jaccard over the candidate documents only. Every stage is
    exact integer arithmetic, so the DuckDB twin
    (plans/extension_queries.py:_portable_minhash_oracle) reproduces
    the whole lossy pipeline and hash-checks it. Nothing is persisted.
    Pass an under-partitioned scan through `sources.tables.fan_out`
    first: the signature stage is the pipeline's CPU cost.

    ``signatures``: a precomputed `portable_minhash_signatures` frame
    (id, hs, sig) — pass it to serve signatures from rest/cache
    instead of recomputing the corpus (the incremental re-curation
    path; it must have been built with the SAME shingle_k/num_hashes,
    which the caller owns since the frame may come from storage)."""
    sigs = (
        signatures
        if signatures is not None
        else portable_minhash_signatures(df, id_col, text, shingle_k, num_hashes)
    )
    pairs = portable_lsh_candidate_pairs(sigs, num_hashes, bands, max_bucket)
    # verification reads only the candidate docs' shingle sets
    cand_ids = pairs.select(F.explode(F.array("id_a", "id_b")).alias("_cid")).distinct()
    if signatures is not None:
        sets = sigs.select("id", "hs")
        pruned = sets.join(F.broadcast(cand_ids), F.col("id") == F.col("_cid"), "left_semi")
    else:
        # prune the RAW docs before hashing: the optimizer cannot push a
        # semi join below the shingle projection, so pruning the hashed
        # sets would re-hash the whole corpus for a few candidates
        pruned_docs = df.join(F.broadcast(cand_ids), F.col(id_col) == F.col("_cid"), "left_semi")
        pruned = portable_hashed_shingle_sets(pruned_docs, id_col, text, shingle_k)
    return jaccard_verified_pairs(pruned, pairs, threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text: str = "text",
    k: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard dedup via prefix filtering — the hash-free
    member of the dedup family, with NO recall loss (the MinHash and
    simhash pipelines trade recall for cost).

    Candidate generation is the PPJoin prefix filter (Xiao et al.,
    WWW'08): under any global total order of shingles, two sets with
    J >= t MUST share at least one element among each set's first
    |S| - ceil(t*|S|) + 1 smallest shingles. The order used is
    ASCENDING GLOBAL FREQUENCY (ties broken by the shingle string) —
    the canonical choice, because it makes every prefix a rare
    shingle: candidate buckets stay tiny instead of clustering on
    stopword-heavy grams (a lexicographic order benched 8× slower on
    the same corpus purely from hot prefix buckets). Costs one extra
    count+rank shuffle, which is the classic trade. Exact Jaccard then
    verifies each candidate — a ratio of small integer set sizes, one
    exact IEEE division, portable untruncated.
    """
    from crypto_data_pipeline_spark.sources.tables import fan_out

    exploded = (
        fan_out(df)
        .select(F.col(id_col).alias("id"), tokens(text).alias("_tk"))
        .select("id", F.explode(word_shingles(k=k)).alias("s"))
    )
    # per doc: shingles sorted by (global freq asc, shingle) — structs
    # compare field-wise identically in Spark and DuckDB. The frequency
    # is a window count over the shingle, so the (string-heavy)
    # shingling evaluates once with nothing persisted.
    sets = (
        exploded.withColumn("f", F.count(F.lit(1)).over(Window.partitionBy("s")))
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("f", "s"))).alias("fs"))
        .select("id", F.transform("fs", lambda x: x["s"]).alias("sh"))
    )
    prefix_len = (F.size("sh") - F.ceil(F.size("sh") * F.lit(threshold)) + 1).cast("int")
    prefixes = sets.select(
        "id",
        F.size("sh").alias("sz"),
        F.posexplode(F.slice("sh", 1, prefix_len)).alias("pos0", "pre"),
    ).select("id", "sz", (F.col("pos0") + 1).alias("pos"), "pre")
    # PPJoin's two additional exactness-preserving pruning predicates:
    #   length filter:    J >= t  ⟹  t·|a| <= |b| and t·|b| <= |a|
    #   positional filter: overlap needed α = ceil(t/(1+t)·(|a|+|b|));
    #     a pair first colliding at prefix positions (pa, pb) can still
    #     overlap at most min(|a|-pa, |b|-pb) + 1 elements
    alpha_factor = threshold / (1.0 + threshold)
    a, b = prefixes.alias("a"), prefixes.alias("b")
    alpha = F.ceil((F.col("a.sz") + F.col("b.sz")) * F.lit(alpha_factor))
    cands = (
        a.join(
            b,
            (F.col("a.pre") == F.col("b.pre"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.col("b.sz") >= F.col("a.sz") * threshold)
            & (F.col("a.sz") >= F.col("b.sz") * threshold)
            & (
                F.least(F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos")) + 1
                >= alpha
            ),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    jaccard = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    # verification: prune the sets to candidate ids (tiny after the
    # three PPJoin filters), broadcast both pair sides — the full sets
    # table never shuffles for the verify join (same layout as the
    # minhash verifier)
    cand_ids = cands.select(F.explode(F.array("id_a", "id_b")).alias("id")).distinct()
    pruned = sets.join(F.broadcast(cand_ids), "id", "left_semi")
    return (
        cands.join(
            F.broadcast(pruned.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))),
            "id_a",
        )
        .join(
            F.broadcast(pruned.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))),
            "id_b",
        )
        .select("id_a", "id_b", F.round(jaccard, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# simhash

SIMHASH_BITS = 60
SIMHASH_BANDS = 4  # 15-bit band keys: pigeonhole-complete for Hamming <= 3


def simhash_sketch(text: str = "text") -> Column:
    """60-bit Charikar simhash (STOC 2002) of the normalized text. Each
    token's polynomial char hash passes through
    `sampling.avalanche_bucket` twice (salts 0 and 1, low 30 bits
    each) for 60 well-mixed bits, and sketch bit b is set iff more than
    half of the tokens set bit b (2·count > n_tokens), so the expected
    Hamming distance of two texts is 60·θ/π for the angle θ between
    their token vectors. One SQL expression: the hashed token array is
    the aggregate's argument, evaluated once, and the per-bit vote
    accumulates in one pass over it. The DuckDB twin is
    plans/extension_queries.py:_portable_simhash_oracle."""
    low30 = (1 << 30) - 1
    hashes = f"transform({tokens_sql(text)}, t -> {_char_hash_sql('t')})"
    mixed = (
        f"transform({hashes}, h -> ({spark_sql_avalanche_bucket('h', 0)} & {low30}) "
        f"| shiftleft({spark_sql_avalanche_bucket('h', 1)} & {low30}, 30))"
    )
    return F.expr(
        f"aggregate({mixed}, array_repeat(0, {SIMHASH_BITS}), "
        "(acc, h) -> transform(acc, (c, b) -> c + IF((shiftright(h, b) & 1) = 1, 1, -1)), "
        "acc -> aggregate(transform(acc, (c, b) -> IF(c > 0, shiftleft(1L, b), 0L)), "
        "0L, (p, v) -> p | v))"
    )


def simhash_band_buckets(
    df: DataFrame, id_col: str = "doc_id", text: str = "text"
) -> DataFrame:
    """(band_idx, band_key, m): the docs' `simhash_sketch`es grouped by
    each of the 4 15-bit band keys, ``m`` the bucket's sorted
    (id, sh) members. A NULL text has no sketch and joins no bucket
    (a groupBy would put every NULL key in one bucket). The input fans
    out to cluster parallelism — a no-op whenever the scan is already
    multi-split — because the per-token hashing is the pipeline's CPU
    cost."""
    from crypto_data_pipeline_spark.sources.tables import fan_out

    width = SIMHASH_BITS // SIMHASH_BANDS
    keys = ", ".join(
        f"named_struct('band_idx', {b}, 'band_key', shiftright(sh, {b * width}) & {(1 << width) - 1})"
        for b in range(SIMHASH_BANDS)
    )
    # the sketch is NULL iff the text is; filtering the sketch column
    # would be pushed below its projection and compute every sketch twice
    return (
        fan_out(df)
        .where(F.col(text).isNotNull())
        .select(F.col(id_col).alias("id"), simhash_sketch(text).alias("sh"))
        .select("id", "sh", F.expr(f"inline(array({keys}))"))
        .groupBy("band_idx", "band_key")
        .agg(F.array_sort(F.collect_list(F.struct("id", "sh"))).alias("m"))
    )


def simhash_pairs_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, hamming) whose `simhash_sketch`es
    differ in at most ``max_hamming`` bits (Manku, Jain & Das Sarma,
    WWW 2007). The 60 bits split into 4 band keys of 15 bits; a pair
    within Hamming 3 agrees on at least one of them (pigeonhole), so
    `simhash_band_buckets` finds every such pair, and bit_count(xor)
    verifies the exact distance inside each bucket. One groupBy, not a
    band self-join, whose two sides would each compute the sketch. The
    distance filter runs inside the pair expansion, so a bucket's
    array holds only the pairs that survive, not all B²/2."""
    buckets = simhash_band_buckets(df, id_col, text).where(F.size("m") >= 2)
    pairs = buckets.select(
        F.expr(
            "inline(flatten(transform(m, (x, i) -> transform(filter(slice(m, i + 2, size(m)), "
            f"y -> x.id < y.id AND bit_count(x.sh ^ y.sh) <= {int(max_hamming)}), "
            "y -> named_struct('id_a', x.id, 'id_b', y.id, "
            "'hamming', CAST(bit_count(x.sh ^ y.sh) AS INT))))))"
        )
    )
    return pairs.distinct()


def winnowing_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    min_shared: int = 2,
    max_bucket: int = 200,
) -> DataFrame:
    """Substring-level near-dup/containment pairs via shared winnowing
    fingerprints: two documents share a fingerprint iff they share a
    substring of length ≥ k+window-1 chars (the MOSS guarantee) — this
    catches partial overlap and containment that whole-document
    Jaccard dilutes away. Returns (id_a, id_b, shared, containment)
    where containment = shared / min(|sketch_a|, |sketch_b|).

    Plan: explode sketches, ONE shuffle on fingerprint, bucket pair
    expansion with the same hot-bucket cap as LSH banding (a
    boilerplate fingerprint shared by B docs would otherwise cost
    O(B²)), then a broadcast join of the (small) per-doc sketch sizes.
    Every value is exact-integer/single-division — fully
    oracle-checkable."""
    from crypto_data_pipeline_spark.operators.text import winnow_fps

    sets = df.select(F.col(id_col).alias("id"), winnow_fps(text).alias("fps"))
    sizes = sets.select("id", F.size("fps").cast("long").alias("n_fps"))
    ex = sets.select("id", F.explode("fps").alias("fp"))
    buckets = (
        ex.groupBy("fp")
        .agg(F.array_sort(F.collect_set("id")).alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    pairs = (
        buckets.select(F.expr(_PAIRS_SQL))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    return (
        pairs.where(F.col("shared") >= min_shared)
        .join(F.broadcast(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_fps", "n_a")), "id_a")
        .join(F.broadcast(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_fps", "n_b")), "id_b")
        .select(
            "id_a", "id_b", "shared",
            F.round(F.col("shared") / F.least("n_a", "n_b"), 6).alias("containment"),
        )
    )


def containment_dedup(
    df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text: str = "text",
    max_bucket: int = 200,
) -> DataFrame:
    """Drop documents largely CONTAINED in another (winnowing
    containment ≥ threshold): the quote/boilerplate/repost case where
    a short doc is a substring of a longer one — invisible to
    symmetric Jaccard, caught by the asymmetric containment score.
    The smaller-sketch side of each containing pair loses (id
    tiebreak); survivors pass through via a broadcast anti join, so
    the corpus itself never shuffles."""
    from crypto_data_pipeline_spark.operators.text import winnow_fps

    sizes = df.select(
        F.col(id_col).alias("_sid"), F.size(winnow_fps(text)).cast("long").alias("_n")
    )
    pairs = winnowing_pairs(df, id_col, text, min_shared=2, max_bucket=max_bucket).where(
        F.col("containment") >= threshold
    )
    sized = (
        pairs.join(F.broadcast(sizes), F.col("id_a") == F.col("_sid"))
        .withColumnRenamed("_n", "_n_a").drop("_sid")
        .join(F.broadcast(sizes), F.col("id_b") == F.col("_sid"))
        .withColumnRenamed("_n", "_n_b").drop("_sid")
    )
    losers = sized.select(
        F.when(F.col("_n_a") < F.col("_n_b"), F.col("id_a"))
        .when(F.col("_n_b") < F.col("_n_a"), F.col("id_b"))
        .otherwise(F.greatest("id_a", "id_b"))
        .alias("_loser")
    ).distinct()
    return df.join(F.broadcast(losers), F.col(id_col) == F.col("_loser"), "left_anti")


def fuzzy_pairs_blocked(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    block_len: int = 8,
    prefix_len: int = 40,
    max_dist: int = 5,
) -> DataFrame:
    """Edit-distance near-match pairs (entity-resolution style): block
    on the first ``block_len`` chars of the normalized text (prefix
    blocking — the standard record-linkage trick that bounds the
    comparison space without a cross product), then compute Levenshtein
    over the first ``prefix_len`` chars within each block and keep
    pairs at distance <= ``max_dist``.

    Scale shape: one shuffle on the block key, O(block²) comparisons
    only inside blocks (bounded by construction for prefix blocks over
    near-dup corpora). Portability note: Spark's levenshtein counts
    CHARACTERS while DuckDB's counts BYTES — oracle-paired callers must
    project to ASCII first (see dedup_fuzzy_levenshtein)."""
    from crypto_data_pipeline_spark.operators.text import normalized

    norm = normalized(text)
    side = df.select(
        F.col(id_col).alias("id"),
        F.substring(norm, 1, prefix_len).alias("s"),
        F.substring(norm, 1, block_len).alias("blk"),
    )
    a, b = side.alias("a"), side.alias("b")
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
        .withColumn("dist", F.levenshtein(F.col("a.s"), F.col("b.s")).cast("long"))
        .where(F.col("dist") <= max_dist)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "dist")
    )


# ---------------------------------------------------------------------------
# incremental ingest (new batch vs persistent corpus store)


def incremental_ingest_dedup(
    store: DataFrame, batch: DataFrame, id_col: str = "doc_id", text: str = "text"
) -> DataFrame:
    """Admit only NOVEL documents from an arriving batch: drop batch
    rows whose normalized-content hash already exists in the ingested
    corpus ``store``, then collapse within-batch duplicates to the
    min-id survivor — the per-delivery dedup step of a continuously
    ingesting corpus (each admitted set unions into the store /
    publishes as a new generation via sources/generations.py).

    100 TB shape: the store is NEVER shuffled. Batches are small
    relative to the corpus, so the membership test runs as
    store ⋉ broadcast(batch hashes) (one store scan, hash-set
    semi join) producing the tiny hit list, and the batch anti-joins
    against broadcast(hits). Total: zero Exchange on the store, two
    kilobyte-scale broadcasts, one window shuffle over the batch —
    same store-untouched pattern as operators/contamination.py.

    NULL-text rows have no content identity and are NOT admissible:
    without this filter a NULL hash never matches any join key, so the
    same contentless row would be "novel" on every redelivery and
    accumulate forever (and the DuckDB NOT IN twin would disagree —
    NULL membership is three-valued there).
    """
    batch = batch.withColumn("content_hash", F.md5(normalized(text))).where(
        F.col("content_hash").isNotNull()
    )
    batch_hashes = batch.select("content_hash").distinct()
    hits = (
        store.withColumn("content_hash", F.md5(normalized(text)))
        .join(F.broadcast(batch_hashes), "content_hash", "left_semi")
        .select("content_hash")
        .distinct()
    )
    w = Window.partitionBy("content_hash").orderBy(id_col)
    return (
        batch.join(F.broadcast(hits), "content_hash", "left_anti")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def duplicated_spans(
    df: DataFrame, id_col: str = "doc_id", text: str = "text", k: int = 3
) -> DataFrame:
    """Maximal duplicated token spans — the exact-substring dedup of
    Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499): for every document, every maximal run
    of tokens all of whose k-token windows occur AT LEAST TWICE in the
    corpus (in another document or at another position of the same
    one). The paper removes these spans; this operator returns them as
    ``(doc_id, span_start, span_len)`` in token units so the caller can
    clip, drop, or audit. Differs from winnowing (fingerprint SAMPLING
    for pair discovery): this is exhaustive span-level coverage, the
    paper's suffix-array semantics re-expressed as positional k-gram
    shingling.

    Plan shape / 100 TB: one tokenize scan → positional windows
    (posexplode); the window census is a ``groupBy(shingle)`` whose
    map-side partial aggregation absorbs hot shingles before the
    shuffle; positions rejoin the >1-occurrence keys on the shingle
    hash (AQE skew-join handles residual hot keys); merging adjacent
    duplicated windows into maximal spans is the islands trick — one
    per-doc window, positions-only rows. Nothing is ever all-pairs.
    Production uses k≈50 tokens (the paper's threshold), where window
    keys are near-unique and skew vanishes; the default k=3 suits the
    short synthetic fixtures. All-integer output → exact cross-engine
    hash checks.
    """
    staged = df.select(F.col(id_col).alias("id"), tokens(text).alias("_tk")).where(
        F.size("_tk") >= k
    )
    win = staged.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("_tk") - k),
                lambda i: F.concat_ws(" ", F.slice("_tk", i + 1, k)),
            )
        ).alias("pos", "sh"),
    )
    dup_keys = (
        win.groupBy("sh").agg(F.count(F.lit(1)).alias("_c")).where(F.col("_c") > 1)
    )
    dup_pos = win.join(dup_keys.select("sh"), "sh")
    w = Window.partitionBy("id").orderBy("pos")
    return (
        dup_pos.withColumn("_grp", F.col("pos") - F.row_number().over(w))
        .groupBy("id", "_grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") - F.min("pos") + k).alias("span_len"),
        )
        .select(F.col("id").alias(id_col), "span_start", "span_len")
    )


def segment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    seg_tokens: int = 10,
    split_pattern: str | None = None,
) -> DataFrame:
    """Segment-level exact dedup — the C4 / CCNet "discard any line
    that occurs more than once in the corpus" rule (Raffel et al. 2020
    §2.2 dedup three-sentence spans; CCNet dedups paragraph hashes):
    segment every document, keep only the globally FIRST occurrence of
    each distinct normalized segment (by ``(id, position)``), and
    reassemble the surviving text per document.

    Segmentation is pluggable: ``split_pattern`` (a regex — real
    corpora use ``'\\n'`` lines or paragraph breaks) or, for
    newline-free text, fixed runs of ``seg_tokens`` tokens. Returns one
    row per input document: ``(id, n_segments, n_kept, text_clean)``.

    Plan shape / 100 TB: one scan → explode to segments; the global
    first-occurrence census is ONE row_number window partitioned by the
    normalized segment (hot segments — boilerplate lines — are exactly
    the duplicated ones, and their window state is a per-key counter,
    not a buffer); reassembly is one groupBy(id) whose collect_list is
    bounded by the document's own segment count. Two shuffles total,
    both on keys the data already provides; nothing is pairwise.
    """
    if split_pattern is not None:
        segs = F.filter(
            F.transform(F.split(F.col(text), split_pattern), lambda s: F.trim(s)),
            lambda s: s != "",
        )
        joiner = "\n"
    else:
        toks = tokens(text)
        starts = F.sequence(
            F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(seg_tokens)
        )
        segs = F.transform(
            starts, lambda st: F.concat_ws(" ", F.slice(toks, st + 1, seg_tokens))
        )
        joiner = " "
    ex = df.select(F.col(id_col).alias("id"), F.posexplode(segs).alias("pos", "seg"))
    w = Window.partitionBy("_key").orderBy("id", "pos")
    flagged = ex.withColumn("_key", normalized("seg")).withColumn(
        "_keep", F.row_number().over(w) == 1
    )
    return (
        flagged.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.col("_keep").cast("long")).alias("n_kept"),
            F.concat_ws(
                joiner,
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_keep"), F.struct(F.col("pos"), F.col("seg")))
                        )
                    ),
                    lambda s: s["seg"],
                ),
            ).alias("text_clean"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("n_segments").cast("long").alias("n_segments"),
            F.col("n_kept").cast("long").alias("n_kept"),
            "text_clean",
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter-accelerated incremental ingest

BLOOM_SEED = 23


def _bloom_positions(text: str, m_bits: int, k: int) -> Column:
    """k bloom bit positions for a document's normalized content:
    the engine-portable polynomial char fold (the family doc_winnowing
    / simhash_pairs_portable prove bit-identical in DuckDB) mapped
    through k universal-hash transforms (a_j*h + b_j) mod P mod m.
    Products stay under 2^62, so the exact integer arithmetic is
    reproducible on any engine with 64-bit integers."""
    params = portable_minhash_params(k, BLOOM_SEED)
    h = _poly_fold(F.transform(F.split(normalized(text), ""), F.ascii))
    return F.array(
        *[
            ((h * F.lit(a) + F.lit(b)) % F.lit(PORTABLE_MOD) % F.lit(m_bits))
            for a, b in params
        ]
    )


def bloom_bitset(
    store: DataFrame, m_bits: int = 4096, k: int = 4, text: str = "text"
) -> DataFrame:
    """The corpus content-bloom as a DataFrame of distinct set-bit
    positions (``bit`` long): at most ``m_bits`` rows REGARDLESS of
    corpus size, so it is always broadcastable. Map-side partial
    aggregation collapses each scan task to <= m_bits rows before the
    single tiny shuffle. The set is monotone under union, so a
    continuously ingesting store maintains it incrementally (union the
    admitted batch's positions) instead of rescanning — the build here
    is the bootstrap."""
    return (
        store.where(normalized(text).isNotNull())
        .select(F.explode(_bloom_positions(text, m_bits, k)).alias("bit"))
        .distinct()
    )


def bloom_prefilter_flags(
    store: DataFrame,
    batch: DataFrame,
    m_bits: int = 4096,
    k: int = 4,
    id_col: str = "doc_id",
    text: str = "text",
    bits: DataFrame | None = None,
) -> DataFrame:
    """Admissible batch rows annotated with ``content_hash`` and
    ``bloom_pass`` — whether ALL k bloom positions of the row's content
    are set in the store's bloom (Bloom 1970: no false negatives, so
    ``bloom_pass = false`` PROVES novelty; ``true`` only licenses the
    exact check). A row passes iff each of its k positions finds its
    bit in the broadcast bit set. Pass a maintained ``bits`` frame
    (distinct positions in one ``bit`` long column, as `bloom_bitset`
    returns) to skip the bootstrap store scan — the incremental steady
    state."""
    if bits is None:
        bits = bloom_bitset(store, m_bits=m_bits, k=k, text=text)
    # one scan of the batch and no shuffle: position j of every row
    # probes its own broadcast left join (the k joins reuse one
    # broadcast of the distinct bits)
    flagged = (
        batch.withColumn("content_hash", F.md5(normalized(text)))
        .where(F.col("content_hash").isNotNull())
        .withColumns({"_pos": _bloom_positions(text, m_bits, k), "bloom_pass": F.lit(True)})
    )
    for j in range(k):
        b = bits.alias("_bits")
        flagged = (
            flagged.join(F.broadcast(b), F.col("_pos")[j] == F.col("_bits.bit"), "left")
            .withColumn("bloom_pass", F.col("bloom_pass") & F.col("_bits.bit").isNotNull())
            .drop(F.col("_bits.bit"))
        )
    return flagged.drop("_pos")


def bloom_prefilter_ingest(
    store: DataFrame,
    batch: DataFrame,
    m_bits: int = 4096,
    k: int = 4,
    id_col: str = "doc_id",
    text: str = "text",
    bits: DataFrame | None = None,
) -> DataFrame:
    """incremental_ingest_dedup accelerated by a bloom prefilter, with
    the IDENTICAL admitted set (the bloom only routes rows; the exact
    md5 membership check still decides every maybe-duplicate).

    100 TB shape: the store collapses once into a <= m_bits-row bit
    set (thereafter maintained incrementally — see bloom_bitset), so
    the common case — novel content — is admitted by a broadcast join
    against kilobytes of bits WITHOUT touching the store at all. Only
    the bloom-positive slice (true duplicates + the controlled
    false-positive tail, ~(1-e^{-kn/m})^k of novel rows) pays the
    store-scan semi join that plain incremental_ingest_dedup pays for
    the whole batch. Store: zero Exchange ever; batch: one window
    shuffle, same as the unaccelerated path."""
    return bloom_admit(
        store,
        bloom_prefilter_flags(
            store, batch, m_bits=m_bits, k=k, id_col=id_col, text=text, bits=bits
        ),
        id_col=id_col,
        text=text,
    )


def bloom_admit(
    store: DataFrame, flagged: DataFrame, id_col: str = "doc_id", text: str = "text"
) -> DataFrame:
    """The admitted rows of a `bloom_prefilter_flags` frame: the
    bloom-negative rows, plus the bloom-positive rows whose content
    hash the store does not hold (store scan, broadcast semi join),
    first per content hash by ``id_col``."""
    definite_novel = flagged.where(~F.col("bloom_pass"))
    maybe = flagged.where(F.col("bloom_pass"))
    # semi and anti joins are set operations: neither broadcast side
    # needs a distinct (and an aggregation shuffle) first
    known = (
        store.withColumn("content_hash", F.md5(normalized(text)))
        .join(F.broadcast(maybe.select("content_hash")), "content_hash", "left_semi")
        .select("content_hash")
    )
    admitted = definite_novel.unionByName(
        maybe.join(F.broadcast(known), "content_hash", "left_anti")
    )
    w = Window.partitionBy("content_hash").orderBy(id_col)
    return (
        admitted.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "bloom_pass")
    )
