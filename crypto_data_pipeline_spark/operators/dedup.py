"""Deduplication operators for the `documents` table (north star ops).

Five families, from exact to fuzzy:

  * exact       — md5 over normalized text, hash-groupBy (one shuffle).
  * minhash+LSH — shingle → minhash signature → band → bucket join →
                  candidate pairs → exact-Jaccard verify.
  * simhash     — 64-bit sign-of-weighted-bits fingerprint; near-dup =
                  small Hamming distance, banded for bucketing.
  * n-gram Jaccard — exact verified similarity on candidate pairs.
  * embedding cosine — see similarity.py.

Scale design: nothing here ever materializes an O(n²) cross product.
Candidate generation is always a shuffle-on-bucket-key equi-join (LSH
bands / simhash bands), so cost is O(sum of bucket sizes²) — the
standard web-scale dedup layout (MinHashLSH as in Broder '97 /
the Spark MLlib MinHashLSH design, re-expressed with higher-order
array functions so signatures stay inside codegen).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from crypto_data_pipeline_spark.exprcache import memo_expr
from crypto_data_pipeline_spark.operators.text import normalized, tokens


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


def word_shingles(text: str = "text", k: int = 3, toks: Column | None = None) -> Column:
    """Distinct k-word shingles of the normalized text (k-shingling as
    in Broder's resemblance paper). Short docs (<k words) contribute
    their whole text as one shingle.

    Pass ``toks`` as a STAGED column (a bare attribute reference) when
    calling from a DataFrame builder: an outer EXPRESSION referenced
    inside the slice lambda is re-evaluated per element (no CSE inside
    higher-order functions), so the inline default re-tokenizes the
    document once per shingle — O(len^2)."""
    toks = tokens(text) if toks is None else toks
    n = F.size(toks)
    shingled = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )
    return F.array_distinct(F.when(n >= k, shingled).otherwise(F.array(F.concat_ws(" ", toks))))


def shingle_sets(df: DataFrame, id_col: str = "doc_id", text: str = "text", k: int = 3) -> DataFrame:
    """(id, sh) — each doc's distinct shingle set, materialized ONCE as
    a projection stage. Downstream signature/verify operators consume
    the `sh` column instead of re-deriving the shingle expression (an
    expression tree repeated n_hashes× defeats codegen CSE and was the
    dominant cost in the first cut of this operator)."""
    staged = df.select(F.col(id_col).alias("id"), tokens(text).alias("_tk"))
    return staged.select(
        "id", word_shingles(k=k, toks=F.col("_tk")).alias("sh")
    )


def _rotl(h: Column, r: int) -> Column:
    return F.shiftleft(h, r).bitwiseOR(F.shiftrightunsigned(h, 64 - r))


def hashed_shingle_sets(df: DataFrame, id_col: str = "doc_id", text: str = "text", k: int = 3) -> DataFrame:
    """(id, hs: array<long>) — distinct k-shingle HASHES, string-free.

    Profiling showed string shingle construction (slice + concat_ws per
    window position) dominating the minhash pipeline. Here each token
    is xxhash64'd once, and a shingle hash is the XOR of the k token
    hashes under position-distinct rotations (order-sensitive, no
    string materialization). ~3× cheaper than string shingling and the
    downstream minhash consumes longs directly."""
    # expression fragments memoized per session (exprcache): identical
    # trees over the named refs, rebuilt 0 times instead of per call
    th = memo_expr(
        ("dedup.token_hashes", text),
        lambda: F.transform(tokens(text), lambda t: F.xxhash64(t)),
    )
    staged = df.select(F.col(id_col).alias("id"), th.alias("th"))

    def build_hs() -> Column:
        t_col = F.col("th")
        n = F.size(t_col)

        def shingle_hash(i: Column) -> Column:
            h = _rotl(F.element_at(t_col, i + 1), k - 1)
            for j in range(1, k):
                e = F.element_at(t_col, i + j + 1)
                h = h.bitwiseXOR(_rotl(e, k - 1 - j) if k - 1 - j > 0 else e)
            return h

        whole_doc = F.aggregate(
            t_col, F.lit(0).cast("long"), lambda a, x: _rotl(a, 1).bitwiseXOR(x)
        )
        hs = F.when(
            n >= k, F.transform(F.sequence(F.lit(0), n - k), shingle_hash)
        ).otherwise(F.array(whole_doc))
        return F.array_distinct(hs)

    return staged.select("id", memo_expr(("dedup.xx_shingles", k), build_hs).alias("hs"))


def _perm_masks(num_hashes: int) -> list[int]:
    """Deterministic 64-bit XOR masks (golden-ratio multiples, signed)."""
    out = []
    for j in range(num_hashes):
        m = (0x9E3779B97F4A7C15 * (j + 1)) & 0xFFFFFFFFFFFFFFFF
        out.append(m - (1 << 64) if m >= (1 << 63) else m)
    return out


def minhash_signature(shingles: Column, num_hashes: int = 32) -> Column:
    """num_hashes-long minhash signature.

    Cost design: the expensive operation is string hashing, so each
    shingle is xxhash64'd ONCE; the num_hashes "permutations" are cheap
    XOR bijections of that base hash (h_j = min over shingles of
    base ^ mask_j) — the standard one-hash + universal-permutation
    minhash family. Arrays + higher-order functions only; the whole
    signature never leaves the JVM. Pass a *column reference* (e.g.
    from shingle_sets), not a derived expression."""
    hashed = F.transform(shingles, lambda s: F.xxhash64(s))
    return _signature_from_hashes(hashed, num_hashes)


def _signature_from_hashes(hashed: Column, num_hashes: int) -> Column:
    # Deliberately unrolled per mask: a nested HOF over a literal mask
    # array benches 2-4x slower here (lambda-variable dispatch per
    # element), while the unrolled form stays in codegen.
    #
    # The mask MUST be bound through a closure (helper function), not a
    # `lambda h, m=m:` default argument: PySpark dispatches HOF lambdas
    # on PARAMETER COUNT, so a two-parameter lambda is the
    # (element, index) form and the "default" m silently becomes the
    # array index — every mask then computes the identical
    # min(h ^ position) and the signature degenerates to 32 copies of
    # one mask-free value (LSH collapses to near-exact matching; found
    # by tools/dedup_scale_probe.py when non-identical planted
    # near-dups stopped colliding).
    def min_under_mask(m: int) -> Column:
        return F.array_min(F.transform(hashed, lambda h: h.bitwiseXOR(F.lit(m))))

    return F.array(*[min_under_mask(m) for m in _perm_masks(num_hashes)])


def lsh_band_buckets(
    sets: DataFrame, num_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """(band_idx, band_hash, ids): the banding's bucket frame BEFORE
    the hot-bucket cap — one signature pass, one shuffle on the band
    key. lsh_candidate_pairs consumes it (filtered to 2..max_bucket
    and pair-expanded); tools/dedup_scale_probe.py reads its size
    histogram directly so cap engagement is a measured artifact, not
    an inference from the dropped pairs."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sig = memo_expr(
        ("dedup.xx_signature", num_hashes),
        lambda: _signature_from_hashes(F.col("hs"), num_hashes),
    )
    band_arr = memo_expr(
        ("dedup.xx_bands", num_hashes, bands),
        lambda: F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.xxhash64(F.slice(F.col("sig"), b * r + 1, r)).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ),
    )
    banded = (
        sets.select(F.col("id"), sig.alias("sig"))
        .select("id", band_arr.alias("band"))
        .select("id", "band.band_idx", "band.band_hash")
    )
    return banded.groupBy("band_idx", "band_hash").agg(
        F.array_sort(F.collect_set("id")).alias("ids")
    )


def lsh_candidate_pairs(
    sets: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket: int = 200,
) -> DataFrame:
    """MinHash-LSH banding: split the signature into `bands` bands of
    r = num_hashes/bands rows, hash each band, shuffle on
    (band_idx, band_hash), emit intra-bucket pairs (a < b).

    One signature pass + ONE shuffle: buckets are built with
    groupBy/collect_set and pairs expanded with array combinatorics —
    no self-join, so the (expensive) signature expression evaluates
    once per doc, not twice. Buckets larger than `max_bucket` are
    dropped (LSH hot-bucket guard: a degenerate bucket of size B costs
    O(B²) pairs; at web scale a stopword-like shingle pattern would
    otherwise dominate the whole job — the standard cap-and-drop
    mitigation).

    `sets` is a hashed_shingle_sets() frame (id, hs). Returns distinct
    (id_a, id_b)."""
    buckets = lsh_band_buckets(sets, num_hashes, bands).where(
        (F.size("ids") >= 2) & (F.size("ids") <= max_bucket)
    )
    pairs = buckets.select(_pair_expansion().alias("p"))
    return pairs.select("p.id_a", "p.id_b").distinct()


def _pair_expansion() -> Column:
    """Upper-triangular pair explosion of a sorted ``ids`` array —
    shared (and session-memoized) by both banding pipelines."""
    return memo_expr(
        ("dedup.pair_expansion",),
        lambda: F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ),
    )


def jaccard_verified_pairs(
    sets: DataFrame,
    candidates: DataFrame,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs.

    Jaccard is computed over the hashed shingle sets (id, hs) — set
    semantics are identical up to (negligible) 64-bit hash collisions.
    Pass a `sets` frame already pruned to the candidate ids (see
    minhash_dedup_pairs) — both pair sides broadcast it. The hint is
    deliberate and BOUNDED, unlike an entity-proportional frame: the
    broadcast side is capped by the LSH bucket cap (max_bucket rows
    per band bucket) and, in the production staged pipeline, by
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


# --- portable MinHash twin: every stage reproducible in ANSI-ish SQL ---

PORTABLE_MOD = 2147483647  # 2^31 - 1: products of two residues fit int64
PORTABLE_BASE = 131


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


def portable_hashed_shingle_sets(
    df: DataFrame, id_col: str = "doc_id", text: str = "text", k: int = 3
) -> DataFrame:
    """(id, hs): distinct word-k-shingle hashes under the polynomial
    char hash (h·131 + codepoint) mod 2^31-1 — exact integer arithmetic
    both engines execute bit-identically (the same family the rolling
    fingerprint proves portable). The CHECKABLE twin of
    hashed_shingle_sets' xxhash64 fast path.

    Deliberately NO ``fan_out`` here (round 13, measured): unlike the
    simhash pipelines (one signature pass, 47s single-task), this
    frame's consumers either persist it once (the curation signature
    stage) or re-derive it on BOTH sides of the banding self-join per
    call — adding the adaptive repartition made dedup_minhash_portable
    ~3x WORSE on CPU (8.2 → 22.5 CPU-s steady at sf0.1: a full-text
    shuffle per call per branch) for no wall gain."""
    # two staging hops (tokens, then shingles) so neither array
    # expression re-evaluates inside a downstream lambda; each hop's
    # expression is session-memoized (exprcache)
    tk = memo_expr(("text.tokens", text), lambda: tokens(text))
    staged = df.select(F.col(id_col).alias("id"), tk.alias("_tk"))
    sh = memo_expr(
        ("dedup.port_shingles", k), lambda: word_shingles(k=k, toks=F.col("_tk"))
    )
    staged = staged.select("id", sh.alias("_sh"))
    hs = memo_expr(
        ("dedup.port_shingle_hashes",),
        lambda: F.array_distinct(
            F.transform(
                F.col("_sh"),
                lambda s: _poly_fold(F.transform(F.split(s, ""), F.ascii)),
            )
        ),
    )
    return staged.select("id", hs.alias("hs"))


def portable_minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """(id, hs, sig): the per-document COMPUTE stage of the portable
    MinHash pipeline — distinct shingle hashes plus the num_hashes
    (a·x+b) mod P signature — factored out of
    `minhash_dedup_pairs_portable` (round 12; VERDICT r11 next #6) so
    that (a) the scale probe can attribute the near-dup stage's cost
    between signature compute, the band shuffle, and verification,
    and (b) callers can land this frame AT REST keyed by content and
    reuse it across re-curations: the signature is a pure function of
    the text, so an incremental pipeline recomputes it only for novel
    documents instead of re-paying the per-corpus compute (stage
    attribution measured in docs/SCALE_PROBE.md, round 12)."""
    sets = portable_hashed_shingle_sets(df, id_col, text, shingle_k)

    def build_sig() -> Column:
        params = portable_minhash_params(num_hashes)

        def affine(a: int, b: int):
            # closure factory, NOT default-arg lambdas: pyspark reads
            # the function's parameter count as the HOF lambda arity
            return lambda h: (h * a + b) % F.lit(PORTABLE_MOD)

        return F.array(
            *[F.array_min(F.transform(F.col("hs"), affine(a, b))) for a, b in params]
        )

    sig = memo_expr(("dedup.port_signature", num_hashes), build_sig)
    return sets.select("id", "hs", sig.alias("sig"))


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
    """MinHash-LSH near-dup pairs with EVERY stage engine-portable:
    polynomial shingle hashes, (a·x+b) mod P signature rows, polynomial
    band keys, bucket pairing, exact-Jaccard verify — so the whole
    lossy pipeline (not just its exactness baseline) hash-checks
    against a DuckDB oracle. Same one-shuffle banding plan as the
    xxhash64 fast path (lsh_candidate_pairs); the fast path remains
    the production default, this twin is the differential proof.

    ``signatures``: a precomputed `portable_minhash_signatures` frame
    (id, hs, sig) — pass it to serve signatures from rest/cache
    instead of recomputing the corpus (the incremental re-curation
    path; it must have been built with the SAME shingle_k/num_hashes,
    which the caller owns since the frame may come from storage)."""
    # no persist: the twin recomputes the (cheap at check SF) shingle
    # pass rather than managing cache lifecycle inside a library call
    sigs = (
        signatures
        if signatures is not None
        else portable_minhash_signatures(df, id_col, text, shingle_k, num_hashes)
    )
    sets = sigs.select("id", "hs")
    pairs = portable_lsh_candidate_pairs(sigs, num_hashes, bands, max_bucket)
    # prune verification to candidate docs only, as in minhash_dedup_pairs
    cand_ids = pairs.select(F.explode(F.array("id_a", "id_b")).alias("_cid")).distinct()
    pruned = sets.join(F.broadcast(cand_ids), F.col("id") == F.col("_cid"), "left_semi")
    return jaccard_verified_pairs(pruned, pairs, threshold)


def portable_lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int = 200,
) -> DataFrame:
    """The SHUFFLE stage of the portable pipeline, factored out
    (round 12) so the probe attributes band-join cost separately from
    signature compute and verification: polynomial band keys over the
    (id, sig) frame, one groupBy on (band_idx, band_hash), hot buckets
    capped, upper-triangular pair explosion, distinct."""
    if num_hashes % bands:
        raise ValueError("num_hashes must divide into equal bands")
    r = num_hashes // bands
    band_arr = memo_expr(
        ("dedup.port_bands", num_hashes, bands),
        lambda: F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        _poly_fold(F.slice(F.col("sig"), b * r + 1, r)).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ),
    )
    banded = (
        signatures.select("id", "sig")
        .select("id", band_arr.alias("band"))
        .select("id", "band.band_idx", "band.band_hash")
    )
    buckets = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.array_sort(F.collect_set("id")).alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    return buckets.select(_pair_expansion().alias("p")).select(
        "p.id_a", "p.id_b"
    ).distinct()


def minhash_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup detection: shingle once, LSH
    candidates, exact-Jaccard verification at `threshold`."""
    from crypto_data_pipeline_spark.sources.tables import fan_out

    sets = hashed_shingle_sets(fan_out(df), id_col, text, shingle_k)
    # candidates are a tiny pair list but an expensive plan (the full
    # minhash pipeline); they are consumed three times downstream (id
    # census + two pair-join sides) — persist so the signature pass
    # runs once. (Round 13 re-measured the persist-free alternative —
    # ReusedExchange does NOT reliably dedupe the subtree across the
    # broadcast consumer, walls 0.84 → 1.7-2.5s — so the persist
    # stays.)
    cands = lsh_candidate_pairs(sets, num_hashes, bands).persist()
    # prune the RAW docs to candidate ids BEFORE shingling (a semi-join
    # cannot be pushed below the shingle projection by the optimizer),
    # so verification re-shingles only the handful of candidate docs,
    # never the corpus
    cand_ids = cands.select(F.explode(F.array("id_a", "id_b")).alias("_cid")).distinct()
    pruned_docs = df.join(F.broadcast(cand_ids), F.col(id_col) == F.col("_cid"), "left_semi")
    pruned_sets = hashed_shingle_sets(pruned_docs, id_col, text, shingle_k).persist()
    return jaccard_verified_pairs(pruned_sets, cands, threshold=threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text: str = "text",
    k: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard dedup via prefix filtering — the hash-free,
    engine-portable member of the dedup family (its DuckDB oracle
    reproduces it verbatim, unlike the xxhash64-based minhash and
    simhash paths), with NO recall loss.

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
        .select("id", F.explode(word_shingles(k=k, toks=F.col("_tk"))).alias("s"))
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


def simhash64(text: str = "text") -> Column:
    """Charikar simhash: per token take xxhash64, accumulate +1/-1 per
    bit across tokens, sign-pack into a 64-bit long. One aggregate over
    the token array with a 64-length accumulator — single pass, no
    explode, no Python.

    The per-token hash is staged through one ``transform`` pass (round
    13, guide §4.2): higher-order-function lambdas are interpreted with
    NO common-subexpression elimination, so hashing inside the 64
    ``when`` branches of the bit-contribution array re-evaluated the
    token hash 64x per token. Hashing once into an array<long> and
    folding over the HASHES leaves only cheap shift/mask ops in the
    hot lambda — value-identical (same hash per token, same
    accumulation order)."""
    hs = F.transform(tokens(text), lambda t: F.xxhash64(t))

    def contrib(h: Column) -> Column:
        return F.array(
            *[
                F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
                for i in range(64)
            ]
        )

    acc = F.aggregate(
        hs,
        F.array(*[F.lit(0) for _ in range(64)]),
        lambda a, h: F.zip_with(a, contrib(h), lambda x, y: x + y),
    )
    # sign-pack: bit 63 is the two's-complement sign bit of the long
    packed = F.lit(0).cast("long")
    for i in range(64):
        bit_val = (1 << i) if i < 63 else -(1 << 63)
        packed = packed.bitwiseOR(
            F.when(F.element_at(acc, i + 1) > 0, F.lit(bit_val).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return packed


def simhash_candidate_pairs(df: DataFrame, id_col: str = "doc_id", text: str = "text", max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by simhash: band the 64 bits into 4 × 16-bit keys
    (any pair within Hamming distance 3 must agree on ≥1 band), bucket-
    join, verify true Hamming distance with bit_count(xor)."""
    from crypto_data_pipeline_spark.sources.tables import fan_out

    sh = fan_out(df).select(F.col(id_col).alias("id"), simhash64(text).alias("sh"))
    bands = sh.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright("sh", b * 16).bitwiseAND(F.lit(0xFFFF)).alias("band_key"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("band"),
    ).select("id", "sh", "band.band_idx", "band.band_key")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), F.col("a.sh").alias("sh_a"), F.col("b.sh").alias("sh_b"))
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_pairs_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    max_hamming: int = 3,
    bits: int = 28,
    bands: int = 4,
) -> DataFrame:
    """Charikar simhash near-dup pairs with the engine-portable
    polynomial token hash instead of xxhash64: a 28-bit sign-pack
    (4 × 7-bit bands, pigeonhole-complete for Hamming ≤ 3), banded
    candidates, exact bit_count(xor) verify — every value integer and
    reproducible in DuckDB, so the full lossy simhash pipeline
    hash-checks. Same plan shape as simhash_candidate_pairs; the
    64-bit xxhash64 version stays the production fast path.

    Round 13 (guide §4.2, §2.1): the per-token polynomial fold is
    staged through ONE ``transform`` pass before the bit accumulation —
    interpreted HOF lambdas do no common-subexpression elimination, so
    folding inside each of the ``bits`` ``when`` branches re-ran the
    whole char-level fold 28x per token (measured 47.6 CPU-s / 46.9 s
    single-task wall for 5k docs at sf0.1). The input also fans out to
    cluster parallelism like the xxhash64 path — a no-op whenever the
    scan is already multi-split."""
    from crypto_data_pipeline_spark.sources.tables import fan_out

    if bits % bands:
        raise ValueError("bits must divide into equal bands")
    width = bits // bands
    mask = (1 << width) - 1

    def tok_hash(t: Column) -> Column:
        return _poly_fold(F.transform(F.split(t, ""), F.ascii))

    hs = F.transform(tokens(text), tok_hash)

    def contrib(h: Column) -> Column:
        return F.array(
            *[
                F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
                for i in range(bits)
            ]
        )

    acc = F.aggregate(
        hs,
        F.array(*[F.lit(0) for _ in range(bits)]),
        lambda a, h: F.zip_with(a, contrib(h), lambda x, y: x + y),
    )
    packed = F.lit(0).cast("long")
    for i in range(bits):
        packed = packed.bitwiseOR(
            F.when(F.element_at(acc, i + 1) > 0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    sh = fan_out(df).select(F.col(id_col).alias("id"), packed.alias("sh"))
    banded = sh.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright("sh", b * width).bitwiseAND(F.lit(mask)).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("id", "sh", "band.band_idx", "band.band_key")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"), F.col("b.sh").alias("sh_b"),
        )
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


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
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    ).groupBy("p.id_a", "p.id_b").agg(F.count(F.lit(1)).cast("long").alias("shared"))
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
