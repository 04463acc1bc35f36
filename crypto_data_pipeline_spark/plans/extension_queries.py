"""Extension query catalog: the LLM-training-data-pipeline operators
(north star, BASELINE.json:6) over the `documents` and `embeddings`
tables — dedup, similarity search, text analysis, multimodal plumbing.

Oracle parity notes:
  * DuckDB ``regexp_replace`` needs the explicit 'g' flag (Spark
    replaces all matches by default).
  * Tokenization: Spark ``split(norm, ' ')`` == DuckDB
    ``string_split(norm, ' ')`` on the collapsed-whitespace form.
  * The MinHash and simhash pipelines hash with exact int64
    arithmetic (polynomial char folds, (a·x+b) mod P, the avalanche
    bucket), so their DuckDB twins reproduce every hash bit for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from crypto_data_pipeline_spark import serve_store
from crypto_data_pipeline_spark.operators import (
    contamination,
    dedup,
    dsir,
    multimodal,
    sampling,
    similarity,
    text,
)
from crypto_data_pipeline_spark.operators.text import LANG_PRIORITY, STOPWORDS
from crypto_data_pipeline_spark.plans.registry import register
from crypto_data_pipeline_spark.sources.tables import fan_out, load_table

# DuckDB spelling of text.normalized()
NORM_SQL = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
TOKENS_SQL = f"string_split({NORM_SQL}, ' ')"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


# ---------------------------------------------------------------------------
# exact dedup


@register(
    "dedup_exact_groups",
    survey_ids=("EXT-dedup",),
    bench=True,
    oracle=f"""
SELECT md5({NORM_SQL}) AS content_hash,
       count(*) AS n_docs,
       min(doc_id) AS keep_id
FROM documents
GROUP BY 1
""",
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup census: hash-groupBy on normalized content."""
    return dedup.exact_dup_groups(_docs(spark, sf_dir))


@register(
    "dedup_exact_survivors",
    extra=True,
    survey_ids=("EXT-dedup",),
    oracle=f"""
SELECT doc_id, content_hash
FROM (
  SELECT doc_id, md5({NORM_SQL}) AS content_hash,
         row_number() OVER (PARTITION BY md5({NORM_SQL}) ORDER BY doc_id) AS rn
  FROM documents
)
WHERE rn = 1
""",
)
def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, survivor rows only (min doc_id per content hash)."""
    return dedup.exact_dedup(_docs(spark, sf_dir)).select("doc_id", "content_hash")


@register(
    "incremental_ingest_dedup",
    extra=True,
    survey_ids=("EXT-dedup", "EXT-stream"),
    oracle=f"""
WITH b AS (
  -- h IS NOT NULL mirrors the operator: NULL-text rows have no
  -- content identity and are inadmissible (and a NULL inside NOT IN
  -- would three-value-poison the membership test)
  SELECT doc_id, lang, h FROM (
    SELECT doc_id, lang, md5({NORM_SQL}) AS h
    FROM documents WHERE doc_id % 4 = 0
  ) WHERE h IS NOT NULL
),
s AS (
  SELECT DISTINCT h FROM (
    SELECT md5({NORM_SQL}) AS h FROM documents WHERE doc_id % 4 <> 0
  ) WHERE h IS NOT NULL
),
novel AS (SELECT * FROM b WHERE h NOT IN (SELECT h FROM s)),
adm AS (
  SELECT lang, doc_id FROM (
    SELECT lang, doc_id,
           row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
    FROM novel
  ) WHERE rn = 1
),
bat AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_batch FROM b GROUP BY 1),
aag AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_admitted,
         min(doc_id) AS first_admitted_id
  FROM adm GROUP BY 1
)
SELECT bat.lang, bat.n_batch,
       CAST(coalesce(aag.n_admitted, 0) AS BIGINT) AS n_admitted,
       CAST(coalesce(aag.first_admitted_id, -1) AS BIGINT) AS first_admitted_id
FROM bat LEFT JOIN aag USING (lang)
""",
)
def incremental_ingest_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion dedup: an arriving batch (doc_id % 4 == 0
    simulates the delivery) is admitted only where its normalized
    content is NOVEL versus the already-ingested store (the other 3/4
    of the corpus), then within-batch duplicates collapse to the
    min-id survivor. Per-language admission report, LEFT join so
    languages whose every batch doc was already known still report
    (n_admitted=0, sentinel -1 id — both engines coalesce
    identically). The store is never shuffled: membership runs as a
    store-scan semi join against the broadcast batch-hash set, the
    classic new-data-vs-100 TB-corpus shape
    (`operators/dedup.py:incremental_ingest_dedup`)."""
    from crypto_data_pipeline_spark.operators.text import normalized

    docs = _docs(spark, sf_dir)
    store = docs.where(F.col("doc_id") % 4 != 0)
    batch = docs.where(F.col("doc_id") % 4 == 0)
    admitted = dedup.incremental_ingest_dedup(store, batch)
    # n_batch counts admissible rows (non-null content identity) — the
    # same population the operator and the oracle's b CTE consider
    bat = (
        batch.where(F.md5(normalized("text")).isNotNull())
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_batch"))
    )
    aag = admitted.groupBy("lang").agg(
        F.count(F.lit(1)).alias("_n_adm"), F.min("doc_id").alias("_first")
    )
    return bat.join(aag, "lang", "left").select(
        "lang",
        "n_batch",
        F.coalesce(F.col("_n_adm"), F.lit(0)).alias("n_admitted"),
        F.coalesce(F.col("_first"), F.lit(-1)).cast("long").alias("first_admitted_id"),
    )


_BLOOM_M, _BLOOM_K = 4096, 4


def _bloom_oracle() -> str:
    from crypto_data_pipeline_spark.operators.dedup import (
        BLOOM_SEED,
        PORTABLE_MOD,
        portable_minhash_params,
    )

    params = portable_minhash_params(_BLOOM_K, BLOOM_SEED)
    fold = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({NORM_SQL}, ''), ch -> CAST(ascii(ch) AS BIGINT))), "
        "(h, x) -> (h * 131 + x) % 2147483647)"
    )
    pos = (
        "["
        + ", ".join(
            f"(h * {a} + {b}) % {PORTABLE_MOD} % {_BLOOM_M}" for a, b in params
        )
        + "]"
    )
    return f"""
WITH sb AS (
  SELECT doc_id, lang, md5({NORM_SQL}) AS ch, {fold} AS h
  FROM documents WHERE doc_id % 4 = 0
),
b0 AS (SELECT * FROM sb WHERE ch IS NOT NULL),
sr AS (
  SELECT {fold} AS h FROM documents
  WHERE doc_id % 4 <> 0 AND {NORM_SQL} IS NOT NULL
),
bits AS (SELECT DISTINCT unnest({pos}) AS bit FROM sr),
bp AS (SELECT doc_id, unnest({pos}) AS bit FROM b0),
hit AS (
  SELECT bp.doc_id, count(*) AS nk, count(bits.bit) AS nh
  FROM bp LEFT JOIN bits ON bp.bit = bits.bit GROUP BY 1
),
flagged AS (
  SELECT b0.*, (hit.nk = hit.nh) AS pass FROM b0 JOIN hit USING (doc_id)
),
smd5 AS (
  SELECT DISTINCT md5({NORM_SQL}) AS ch FROM documents
  WHERE doc_id % 4 <> 0 AND {NORM_SQL} IS NOT NULL
),
adm0 AS (
  SELECT * FROM flagged
  WHERE (NOT pass) OR ch NOT IN (SELECT ch FROM smd5)
),
adm AS (
  SELECT lang, doc_id FROM (
    SELECT lang, doc_id,
           row_number() OVER (PARTITION BY ch ORDER BY doc_id) AS rn
    FROM adm0
  ) WHERE rn = 1
),
bat AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_batch,
         CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass
  FROM flagged GROUP BY 1
),
aag AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_admitted,
         min(doc_id) AS first_admitted_id
  FROM adm GROUP BY 1
)
SELECT bat.lang, bat.n_batch, bat.n_bloom_pass,
       CAST(coalesce(aag.n_admitted, 0) AS BIGINT) AS n_admitted,
       CAST(coalesce(aag.first_admitted_id, -1) AS BIGINT) AS first_admitted_id
FROM bat LEFT JOIN aag USING (lang)
"""


@register(
    "bloom_prefilter_ingest",
    extra=True,
    survey_ids=("EXT-dedup", "EXT-stream", "EXT-olap"),
    oracle=_bloom_oracle(),
)
def bloom_prefilter_ingest_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """incremental_ingest_dedup accelerated by a content Bloom filter
    (Bloom 1970): the store collapses once into a <= 4096-row set-bit
    DataFrame (monotone under union → maintained incrementally in
    steady state), and a batch row touches the store's exact md5
    membership ONLY if all 4 of its portable-hash bloom positions are
    set. Bloom-negative rows are admitted straight off the broadcast
    bit join — at 100 TB the novel-content common case never scans the
    corpus. No false negatives, so the admitted set is IDENTICAL to
    the unaccelerated operator (tests/test_dedup_similarity.py pins
    the equivalence); the per-language report also exposes
    n_bloom_pass — the exact-check slice (true dups + the ~(1-e^-kn/m)^k
    false-positive tail) — which the portable hash family makes
    reproducible in DuckDB, so even the lossy filter's routing
    decisions hash-check (`operators/dedup.py:bloom_prefilter_ingest`)."""
    docs = _docs(spark, sf_dir)
    store = docs.where(F.col("doc_id") % 4 != 0)
    batch = docs.where(F.col("doc_id") % 4 == 0)
    # build the bit set ONCE and share it — flags + ingest would
    # otherwise each rebuild it (two store scans for identical bits)
    bits = dedup.bloom_bitset(store, m_bits=_BLOOM_M, k=_BLOOM_K)
    flagged = dedup.bloom_prefilter_flags(
        store, batch, m_bits=_BLOOM_M, k=_BLOOM_K, bits=bits
    )
    admitted = dedup.bloom_prefilter_ingest(
        store, batch, m_bits=_BLOOM_M, k=_BLOOM_K, bits=bits
    )
    bat = flagged.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_batch"),
        F.sum(F.col("bloom_pass").cast("long")).alias("n_bloom_pass"),
    )
    aag = admitted.groupBy("lang").agg(
        F.count(F.lit(1)).alias("_n_adm"), F.min("doc_id").alias("_first")
    )
    return bat.join(aag, "lang", "left").select(
        "lang",
        "n_batch",
        "n_bloom_pass",
        F.coalesce(F.col("_n_adm"), F.lit(0)).cast("long").alias("n_admitted"),
        F.coalesce(F.col("_first"), F.lit(-1)).cast("long").alias("first_admitted_id"),
    )


# ---------------------------------------------------------------------------
# fuzzy dedup: MinHash-LSH and simhash, each hash-checked end to end


def _portable_minhash_oracle(
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int = 200,
    source: str = "documents",
) -> str:
    """DuckDB twin of the ENTIRE MinHash-LSH pipeline
    (dedup.minhash_dedup_pairs_portable): polynomial shingle hashes,
    (a·x+b) mod P signature, polynomial band keys, bucket-capped
    candidates, raw-Jaccard threshold then 6-dp rounding — every
    constant generated from the same dedup.portable_minhash_params
    the Spark expressions use."""
    m = dedup.PORTABLE_MOD
    base = dedup.PORTABLE_BASE
    params = dedup.portable_minhash_params(num_hashes)
    a_lit = "[" + ", ".join(str(a) for a, _ in params) + "]"
    b_lit = "[" + ", ".join(str(b) for _, b in params) + "]"
    r = num_hashes // bands
    poly = f"(h, x) -> (h * {base} + x) % {m}"
    return f"""
WITH s0 AS (
  SELECT doc_id AS id,
         CASE WHEN len({TOKENS_SQL}) >= 3
              THEN list_distinct(list_transform(range(len({TOKENS_SQL}) - 2),
                     i -> array_to_string(list_slice({TOKENS_SQL}, i + 1, i + 3), ' ')))
              ELSE [array_to_string({TOKENS_SQL}, ' ')]
         END AS sh0
  FROM {source}
),
hs AS (
  SELECT id, list_distinct(list_transform(sh0, sg ->
           list_reduce(list_prepend(CAST(0 AS BIGINT),
                         list_transform(string_split(sg, ''), ch -> CAST(ascii(ch) AS BIGINT))),
                       {poly}))) AS hs
  FROM s0
),
sig AS (
  SELECT id, hs, list_transform(range({num_hashes}), j ->
           list_min(list_transform(hs, h -> (h * ({a_lit})[j + 1] + ({b_lit})[j + 1]) % {m}))) AS sig
  FROM hs
),
bands AS (
  SELECT id, b,
         list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(sig, b * {r} + 1, b * {r} + {r})),
                     {poly}) AS band_hash
  FROM sig, UNNEST(range({bands})) AS t(b)
),
sized AS (SELECT b, band_hash, count(*) AS n FROM bands GROUP BY 1, 2),
cand AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b
  FROM bands x
  JOIN bands y ON x.b = y.b AND x.band_hash = y.band_hash AND x.id < y.id
  JOIN sized s ON s.b = x.b AND s.band_hash = x.band_hash
  WHERE s.n BETWEEN 2 AND {max_bucket}
)
SELECT id_a, id_b, round(jraw, 6) AS jaccard
FROM (
  SELECT c.id_a, c.id_b,
         CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
           / len(list_distinct(list_concat(a.hs, b.hs))) AS jraw
  FROM cand c JOIN hs a ON a.id = c.id_a JOIN hs b ON b.id = c.id_b
)
WHERE jraw >= {threshold}
"""


@register(
    "dedup_minhash_portable",
    survey_ids=("EXT-dedup",),
    oracle=_portable_minhash_oracle(),
)
def dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs at Jaccard >= 0.5, 16 hashes in 4
    bands: the oracle reproduces every hash, so a match proves the
    LOSSY pipeline itself is computed correctly; recall against
    brute-force Jaccard is pinned in tests/test_dedup_similarity.py."""
    return dedup.minhash_dedup_pairs_portable(_docs(spark, sf_dir), threshold=0.5)


@register(
    "dedup_minhash_lsh",
    survey_ids=("EXT-dedup",),
    bench=True,
    extra=True,
    oracle=_portable_minhash_oracle(num_hashes=32, bands=8),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same MinHash-LSH pipeline at 32 hashes in 8 bands of 4
    rows: a steeper S-curve around the 0.5 threshold for twice the
    signature work. The bench's MinHash row; its input fans out to
    cluster parallelism, since the signatures are its CPU cost."""
    return dedup.minhash_dedup_pairs_portable(
        fan_out(_docs(spark, sf_dir)), threshold=0.5, num_hashes=32, bands=8
    )


@register(
    "dedup_minhash_incremental",
    survey_ids=("EXT-dedup",),
    extra=True,
    oracle=_portable_minhash_oracle(),
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental re-curation path for near-dup detection (round
    12; VERDICT r11 next #6): the STORE corpus's MinHash signatures —
    76-81% of the near-dup stage cost (docs/SCALE_PROBE.md) — are
    written to parquet ONCE per (session, corpus) and served from the
    reloaded scan; only the arriving DELIVERY (doc_id % 10 == 0, ~10%)
    computes signatures fresh. The union feeds the same banding +
    verify pipeline via `signatures=`
    (operators/dedup.py:minhash_dedup_pairs_portable). The oracle
    recomputes EVERYTHING from text in DuckDB, so a hash match proves
    the at-rest/reuse path is value-identical to a full fresh run —
    the property that makes signature reuse safe at 100 TB, where
    re-signing an unchanged corpus per delivery is the dominant
    avoidable cost."""
    import os

    docs = _docs(spark, sf_dir)
    store = docs.where(F.col("doc_id") % 10 != 0)
    delivery = docs.where(F.col("doc_id") % 10 == 0)

    # sig_store: the store corpus's MinHash signatures at rest
    def build(store_dir: str) -> DataFrame:
        path = os.path.join(store_dir, "sigs")
        dedup.portable_minhash_signatures(store).write.parquet(path)
        return spark.read.parquet(path)

    sigs_store = serve_store.serve(spark, sf_dir, "sig_store", ("documents",), build)
    all_sigs = sigs_store.unionByName(
        dedup.portable_minhash_signatures(delivery)
    )
    return dedup.minhash_dedup_pairs_portable(docs, signatures=all_sigs)


@register(
    "split_leakage_report",
    extra=True,
    survey_ids=("EXT-dedup", "EXT-sample"),
    oracle=f"""
WITH pairs AS ({_portable_minhash_oracle()}),
labeled AS (
  SELECT p.id_a, p.id_b,
         {sampling.sql_split_case("p.id_a", {"train": 0.8, "val": 0.1, "test": 0.1}, salt=11)} AS split_a,
         {sampling.sql_split_case("p.id_b", {"train": 0.8, "val": 0.1, "test": 0.1}, salt=11)} AS split_b
  FROM pairs p
)
SELECT least(split_a, split_b) AS split_lo,
       greatest(split_a, split_b) AS split_hi,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(id_a + id_b) AS BIGINT) AS pair_id_sum
FROM labeled GROUP BY 1, 2
""",
)
def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVAL-INTEGRITY audit: near-duplicate pairs that STRADDLE
    train/val/test — the leakage a random row-split silently ships
    (a test doc whose near-twin sits in train inflates every metric).
    Composes two gate-proven pieces: the portable MinHash-LSH pair
    pipeline and the deterministic keyed split (same salt/weights as
    train_val_test_split), so the report itself hash-checks. Output is
    the split-pair census with an id-sum membership pin; the cross-
    split rows (train/val, train/test, val/test) are the leaks a
    curation pipeline must quarantine before training. One banding
    shuffle — split labeling is a free keyed-hash expression on the
    pair rows."""
    from crypto_data_pipeline_spark.operators import sampling

    pairs = dedup.minhash_dedup_pairs_portable(_docs(spark, sf_dir), threshold=0.5)
    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    lab = pairs.select(
        "id_a",
        "id_b",
        sampling.split_column(F.col("id_a"), splits, salt=11).alias("split_a"),
        sampling.split_column(F.col("id_b"), splits, salt=11).alias("split_b"),
    )
    return (
        lab.groupBy(
            F.least("split_a", "split_b").alias("split_lo"),
            F.greatest("split_a", "split_b").alias("split_hi"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.col("id_a") + F.col("id_b")).cast("long").alias("pair_id_sum"),
        )
    )


def _staged_dedup_oracle() -> str:
    """Exact-first staged dedup twin: collapse verbatim clone groups
    (md5 of normalized text, min-id survivor via arg_min), run the full
    portable MinHash-LSH oracle over the survivors (nested-CTE
    subquery), then join each pair side's clone count back."""
    inner = _portable_minhash_oracle(source="surv")
    return f"""
WITH surv AS (
  SELECT min(doc_id) AS doc_id,
         arg_min(text, doc_id) AS text,
         CAST(count(*) AS BIGINT) AS n_clones
  FROM documents
  GROUP BY md5({NORM_SQL})
),
pairs AS (
  {inner}
)
SELECT p.id_a, p.id_b, p.jaccard,
       a.n_clones AS clones_a, b.n_clones AS clones_b
FROM pairs p
JOIN surv a ON a.doc_id = p.id_a
JOIN surv b ON b.doc_id = p.id_b
"""


@register(
    "dedup_staged_pipeline",
    survey_ids=("EXT-dedup",),
    oracle=_staged_dedup_oracle(),
    # demoted to extra in round 8 to seat source_curation_report in
    # the driver gate: EXT-dedup keeps five driver-facing rows (exact,
    # minhash, simhash, clusters, curation report) and this query is a
    # composition of two of them; stays locally oracle-tested
    extra=True,
)
def dedup_staged_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup-first, near-dup-second — the production ordering for
    dup-heavy corpora (docs/SCALE_PROBE.md: at a 100x-replicated sf10
    probe this runs 2.8x faster than direct minhash and keeps the
    near-dup stage linear in the DISTINCT corpus). Verbatim clone
    groups collapse to their min-id survivor via one md5 hash-groupBy —
    the cheapest full-corpus shuffle — then the engine-portable
    MinHash-LSH pipeline runs over survivors only, with each side's
    clone count joined back so downstream sampling can weight by true
    multiplicity."""
    docs = _docs(spark, sf_dir)
    surv = (
        docs.groupBy(F.md5(text.normalized("text")).alias("_fp"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.expr("min_by(text, doc_id)").alias("text"),
            F.count(F.lit(1)).cast("long").alias("n_clones"),
        )
    )
    pairs = dedup.minhash_dedup_pairs_portable(
        surv.select("doc_id", "text"), threshold=0.5
    )
    a = surv.select(F.col("doc_id").alias("id_a"), F.col("n_clones").alias("clones_a"))
    b = surv.select(F.col("doc_id").alias("id_b"), F.col("n_clones").alias("clones_b"))
    return pairs.join(a, "id_a").join(b, "id_b").select(
        "id_a", "id_b", "jaccard", "clones_a", "clones_b"
    )


def _portable_simhash_oracle(max_hamming: int = 3) -> str:
    """DuckDB twin of dedup.simhash_pairs_portable: polynomial token
    hashes, two avalanche buckets per token (low 30 bits each), the
    60-bit majority-vote sketch, 15-bit banding, bit_count(xor)
    verify. A NULL text has no sketch and pairs with nothing, as in
    Spark."""
    m = dedup.PORTABLE_MOD
    base = dedup.PORTABLE_BASE
    bits = dedup.SIMHASH_BITS
    width = bits // dedup.SIMHASH_BANDS
    low30 = (1 << 30) - 1
    av0 = sampling.sql_avalanche_bucket("h", 0)
    av1 = sampling.sql_avalanche_bucket("h", 1)
    return f"""
WITH t AS (SELECT doc_id AS id, {TOKENS_SQL} AS toks FROM documents),
th AS (
  SELECT id, list_transform(
           list_transform(toks, tok ->
             list_reduce(list_prepend(CAST(0 AS BIGINT),
                           list_transform(string_split(tok, ''), ch -> CAST(ascii(ch) AS BIGINT))),
                         (h, x) -> (h * {base} + x) % {m})),
           h -> (({av0}) & {low30}) | ((({av1}) & {low30}) << 30)) AS hs
  FROM t
),
sh AS (
  SELECT id, CAST(list_sum(list_transform(range({bits}), b ->
           CASE WHEN list_sum(list_transform(hs, h ->
                      CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
                THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS sh
  FROM th WHERE hs IS NOT NULL
),
bands AS (
  SELECT id, sh, b, (sh >> (b * {width})) & {(1 << width) - 1} AS band_key
  FROM sh, UNNEST(range({dedup.SIMHASH_BANDS})) AS t(b)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, c.id AS id_b, a.sh AS sh_a, c.sh AS sh_b
  FROM bands a JOIN bands c ON a.b = c.b AND a.band_key = c.band_key AND a.id < c.id
)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}
"""


@register(
    "dedup_simhash_portable",
    survey_ids=("EXT-dedup",),
    oracle=_portable_simhash_oracle(),
)
def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simhash near-dup pairs at Hamming <= 3 over 60-bit sketches; the
    oracle reproduces every sketch bit, so the lossy pipeline
    hash-checks end to end."""
    return dedup.simhash_pairs_portable(_docs(spark, sf_dir))


_NGRAM_JACCARD_ORACLE = f"""
WITH s0 AS (
  SELECT doc_id AS id,
         CASE WHEN len({TOKENS_SQL}) >= 3
              THEN list_distinct(list_transform(range(len({TOKENS_SQL}) - 2),
                     i -> array_to_string(list_slice({TOKENS_SQL}, i + 1, i + 3), ' ')))
              ELSE [array_to_string({TOKENS_SQL}, ' ')]
         END AS sh0
  FROM documents
),
e AS (SELECT id, unnest(sh0) AS sg FROM s0),
fr AS (SELECT sg, CAST(count(*) AS BIGINT) AS f FROM e GROUP BY 1),
s AS (
  SELECT e.id,
         list_transform(list_sort(list({{'f': fr.f, 's': e.sg}})), x -> x.s) AS sh
  FROM e JOIN fr USING (sg)
  GROUP BY e.id
),
p AS (
  SELECT id, unnest(list_slice(sh, 1,
           CAST(len(sh) - ceil(len(sh) * 0.5) + 1 AS INT))) AS pre
  FROM s
),
c AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM p a JOIN p b ON a.pre = b.pre AND a.id < b.id
)
SELECT id_a, id_b, jaccard
FROM (
  SELECT c.id_a, c.id_b,
         round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS jaccard
  FROM c JOIN s sa ON c.id_a = sa.id JOIN s sb ON c.id_b = sb.id
)
WHERE jaccard >= 0.5
"""


@register(
    "dedup_ngram_jaccard",
    extra=True,  # r6 rotation: EXT-dedup keeps five other driver rows and
    # this oracle still gates dedup_clusters; slot traded for
    # heavy_hitter_tokens (sketch-routed exact aggregation)
    survey_ids=("EXT-dedup",),
    oracle=_NGRAM_JACCARD_ORACLE,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs via PPJoin-style prefix
    filtering — hash-free, zero recall loss, fully oracle-checkable."""
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5)


_CLUSTERS_ORACLE = f"""
WITH RECURSIVE pairs AS ({_NGRAM_JACCARD_ORACLE}),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(v, lbl) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.v
),
cc AS (SELECT v, min(lbl) AS cluster_id FROM reach GROUP BY v)
SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(v) AS BIGINT) AS doc_id_sum
FROM cc GROUP BY 1
"""


@register("dedup_clusters", survey_ids=("EXT-dedup", "EXT-graph"), oracle=_CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: the n-gram Jaccard pairs as an
    edge list, closed under connectivity by iterative min-label
    propagation (operators/graph.py), then one row per cluster keyed by
    its minimum doc_id. sum(doc_id) pins exact membership. The oracle
    computes the same closure as a recursive CTE — the engines agree on
    an ITERATIVE algorithm's fixpoint, not just one pass."""
    from crypto_data_pipeline_spark.operators.graph import connected_components

    pairs = dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5)
    cc = connected_components(pairs, "id_a", "id_b")
    return cc.groupBy(F.col("component").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("v").alias("doc_id_sum"),
    )


@register(
    "dedup_graph_triangles",
    extra=True,
    survey_ids=("EXT-graph", "EXT-dedup"),
    oracle=f"""
WITH pairs AS ({_NGRAM_JACCARD_ORACLE}),
e AS (SELECT id_a AS a, id_b AS b FROM pairs WHERE id_a <> id_b),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1 JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT CAST(count(*) AS BIGINT) AS n_triangles,
       CAST(coalesce(sum(a + b + c), 0) AS BIGINT) AS vertex_id_sum
FROM tri
""",
)
def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-dup graph
    (`operators/graph.py:triangle_count`): cluster-cohesion diagnostic
    — cliquey components are one duplicated document, chains are
    borderline pairs. Spark runs the degree-ordered-orientation
    algorithm (each triangle produced once, out-degree capped at
    O(sqrt m) so no celebrity-node reducer melt); the oracle counts
    the same triangles with a naive ordered 3-way self-join (a<b<c
    holds because the pair list is already canonical). Equality proves
    the oriented algebra exact, including vertex membership via the
    id-sum pin."""
    from crypto_data_pipeline_spark.operators.graph import triangle_count

    pairs = dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5)
    return triangle_count(pairs, "id_a", "id_b")


@register("dedup_clusters_star",
    extra=True, survey_ids=("EXT-dedup", "EXT-graph"), oracle=_CLUSTERS_ORACLE)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same transitive closure computed by the O(log n)-round
    large-star/small-star algorithm (operators/graph.py:
    connected_components_star) — the scale path for adversarial
    long-chain graphs — checked against the identical recursive-CTE
    oracle as dedup_clusters, so BOTH CC algorithms are gate-proven
    equivalent."""
    from crypto_data_pipeline_spark.operators.graph import connected_components_star

    pairs = dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5)
    cc = connected_components_star(pairs, "id_a", "id_b")
    return cc.groupBy(F.col("component").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("v").alias("doc_id_sum"),
    )


def _pagerank_oracle(damping: float = 0.85, iters: int = 10) -> str:
    its = ["it0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"]
    for i in range(1, iters + 1):
        its.append(
            f"""it{i} AS (
  SELECT nd.id,
         (1.0 - {damping}) / (SELECT n FROM nn) + {damping} * coalesce(s.s, 0.0) AS rank
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS id, sum(r.rank / d.deg) AS s
    FROM edges e JOIN it{i - 1} r ON e.src = r.id JOIN deg d ON e.src = d.src
    GROUP BY 1) s ON nd.id = s.id
)"""
        )
    chain = ",\n".join(its)
    return f"""
WITH pairs AS ({_NGRAM_JACCARD_ORACLE}),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT src AS id FROM edges),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY 1),
{chain}
SELECT id AS doc_id, round(rank, 6) AS rank FROM it{iters}
"""


@register(
    "doc_pagerank",
    extra=True,
    survey_ids=("EXT-graph", "EXT-dedup"),
    oracle=_pagerank_oracle(iters=5),
)
def doc_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-duplicate similarity graph (symmetrized
    exact-Jaccard pairs): a centrality score for choosing the
    CANONICAL document of each near-dup neighborhood — the
    graph-aware upgrade of min-id survivorship. Fixed 5 iterations,
    damping 0.85, all declarative (`operators/graph.py:pagerank`):
    two key Exchanges per iteration, no per-iteration driver action,
    and the whole run is ONE differential query — DuckDB replays the
    identical unrolled iteration chain and the ranks hash-match at
    6 dp (the iteration is a contraction, so engine last-ulp noise
    decays instead of compounding)."""
    from crypto_data_pipeline_spark.operators.graph import pagerank

    pairs = dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5)
    # explode symmetrization, not a two-branch union (round 14, guide
    # §2.4 — same fix as connected_components): Catalyst does not share
    # subtrees across union branches, so the union form evaluated the
    # whole PPJoin pair pipeline twice inside pagerank's edge persist
    both = F.array(
        F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
    )
    edges = (
        pairs.select(F.explode(both).alias("p"))
        .select("p.src", "p.dst")
        .distinct()
    )
    ranks = pagerank(edges, damping=0.85, iters=5)
    return ranks.select(
        F.col("id").alias("doc_id"), F.round("rank", 6).alias("rank")
    )


# ASCII projection for edit-distance parity: Spark levenshtein counts
# characters, DuckDB counts bytes — identical only on ASCII, so both
# sides strip to [a-z0-9 ] (then re-collapse whitespace) first.
_ASCII_SQL = (
    f"trim(regexp_replace(regexp_replace({NORM_SQL}, '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
)


@register(
    "dedup_fuzzy_levenshtein",
    survey_ids=("EXT-dedup",),
    extra=True,  # r6 rotation: EXT-dedup driver-covered by 4 other dedup queries + dedup_staged_pipeline
    oracle=f"""
WITH s AS (
  SELECT doc_id,
         substr({_ASCII_SQL}, 1, 40) AS s,
         substr({_ASCII_SQL}, 1, 8) AS blk
  FROM documents WHERE lang = 'en'
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
FROM s a JOIN s b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE levenshtein(a.s, b.s) <= 5
""",
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-matching (entity-resolution style) over the
    English documents: prefix-blocked Levenshtein pairs
    (operators/dedup.py:fuzzy_pairs_blocked). ASCII-projected on both
    engines because DuckDB's levenshtein is byte-based."""
    docs = _docs(spark, sf_dir).where(F.col("lang") == "en")
    ascii_col = F.trim(
        F.regexp_replace(
            F.regexp_replace(text.normalized("text"), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    staged = docs.select("doc_id", ascii_col.alias("_ascii"))
    return dedup.fuzzy_pairs_blocked(staged, id_col="doc_id", text="_ascii")


# ---------------------------------------------------------------------------
# text analysis


@register(
    "text_quality",
    extra=True,
    survey_ids=("EXT-text",),
    bench=True,
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars_calc,
         CAST(len({TOKENS_SQL}) AS BIGINT) AS n_words,
         CAST(length(text) - length(regexp_replace(text, '[!?.,;:]', '', 'g')) AS DOUBLE)
           / length(text) AS punct_ratio,
         CAST(len(list_filter({TOKENS_SQL}, t -> t IN {STOPWORDS["en"]})) AS DOUBLE)
           / len({TOKENS_SQL}) AS stopword_ratio,
         CAST(list_sum(list_transform({TOKENS_SQL}, t -> length(t))) AS DOUBLE)
           / len({TOKENS_SQL}) AS mean_word_len
  FROM documents
)
SELECT *,
       round(0.3 * least(CAST(n_words AS DOUBLE) / 200, 1.0)
             + 0.3 * (1 - punct_ratio)
             + 0.4 * least(stopword_ratio * 5, 1.0), 6) AS quality_score
FROM t
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/punct/stopword stats + composite score."""
    df = text.with_quality_score(text.with_text_stats(_docs(spark, sf_dir)))
    return df.select(
        "doc_id", "n_chars_calc", "n_words", "punct_ratio", "stopword_ratio",
        "mean_word_len", "quality_score",
    )


_QF_REASONS_SQL = ", ".join(
    f"CASE WHEN {cond} THEN '{name}' END" for name, cond in text.QUALITY_RULES
)

_QUALITY_FILTER_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len({TOKENS_SQL}) AS BIGINT) AS n_words,
         CAST(length(text) - length(regexp_replace(text, '[!?.,;:]', '', 'g')) AS DOUBLE)
           / length(text) AS punct_ratio,
         CAST(len(list_filter({TOKENS_SQL}, t -> t IN {STOPWORDS["en"]})) AS DOUBLE)
           / len({TOKENS_SQL}) AS stopword_ratio,
         CAST(list_sum(list_transform({TOKENS_SQL}, t -> length(t))) AS DOUBLE)
           / len({TOKENS_SQL}) AS mean_word_len,
         CAST(length(regexp_replace({NORM_SQL}, '[^a-z ]', '', 'g')) AS DOUBLE)
           / length({NORM_SQL}) AS alpha_ratio,
         CASE WHEN len({TOKENS_SQL}) >= 2
              THEN round(1 - CAST(len(list_distinct(list_transform(range(len({TOKENS_SQL}) - 1),
                     i -> array_to_string(list_slice({TOKENS_SQL}, i + 1, i + 2), ' ')))) AS DOUBLE)
                   / (len({TOKENS_SQL}) - 1), 6)
              ELSE 0.0
         END AS dup_2gram_ratio
  FROM documents
)
SELECT doc_id, lang, n_words, alpha_ratio, dup_2gram_ratio,
       concat_ws(',', {_QF_REASONS_SQL}) AS fail_reasons,
       CAST(concat_ws(',', {_QF_REASONS_SQL}) = '' AS INT) AS keep
FROM t
"""


@register(
    "quality_filter",
    survey_ids=("EXT-text",),
    extra=True,
    oracle=_QUALITY_FILTER_ORACLE,
)
def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style composite corpus filter: every document scored
    against the named rule battery (length, word-shape, punctuation,
    stopword-presence, alphabetic-ratio), emitting the keep bit and
    the exact failed-rule list. The oracle's rule predicates are
    generated from the SAME text.QUALITY_RULES table the Spark
    expressions use, so thresholds cannot drift between engines. One
    scan, zero shuffles, pure codegen."""
    df = text.with_quality_filter(text.with_text_stats(_docs(spark, sf_dir)))
    return df.select(
        "doc_id", "lang", "n_words", "alpha_ratio", "dup_2gram_ratio",
        "fail_reasons", "keep",
    )


@register(
    "dedup_survivor_priority",
    survey_ids=("EXT-dedup",),
    extra=True,
    oracle=f"""
SELECT doc_id, source, content_hash
FROM (
  SELECT doc_id, source, md5({NORM_SQL}) AS content_hash,
         row_number() OVER (PARTITION BY md5({NORM_SQL})
                            ORDER BY CAST(substr(source, 4) AS INT), doc_id) AS rn
  FROM documents
)
WHERE rn = 1
""",
)
def dedup_survivor_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source survivorship: one copy per exact-duplicate group,
    keeping the copy from the highest-priority source (lower srcN rank
    wins; doc_id tiebreak) — "keep the best copy" when the same doc
    arrives from multiple feeds. Single window shuffle on the content
    hash (operators/dedup.py:exact_dedup_prioritized)."""
    out = dedup.exact_dedup_prioritized(
        _docs(spark, sf_dir),
        order_by=[F.expr("CAST(substring(source, 4) AS INT)"), F.col("doc_id")],
    )
    return out.select("doc_id", "source", "content_hash")


@register(
    "repetition_stats",
    survey_ids=("EXT-text",),
    extra=True,
    oracle=f"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents)
SELECT doc_id,
       round(1 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS dup_word_ratio,
       CASE WHEN len(toks) >= 2
            THEN round(1 - CAST(len(list_distinct(list_transform(range(len(toks) - 1),
                   i -> array_to_string(list_slice(toks, i + 1, i + 2), ' ')))) AS DOUBLE)
                 / (len(toks) - 1), 6)
            ELSE 0.0
       END AS dup_2gram_ratio
FROM t
""",
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repetition signals (Gopher duplicate n-gram fraction,
    doc-level): repeated-word share and repeated-2-gram share per
    document — the boilerplate/spam axis the composite quality filter
    draws on."""
    return text.with_repetition_stats(_docs(spark, sf_dir)).select(
        "doc_id", "dup_word_ratio", "dup_2gram_ratio"
    )


@register(
    "multimodal_frames",
    survey_ids=("EXT-mm",),
    extra=True,
    oracle="""
WITH blobs AS (
  SELECT doc_id, hex(encode(text)) AS h,
         CAST(octet_length(encode(text)) AS BIGINT) AS n
  FROM documents
)
SELECT doc_id,
       CAST(i AS BIGINT) AS frame_idx,
       CAST(i * 64 AS BIGINT) AS frame_off,
       CAST(least(64, n - i * 64) AS BIGINT) AS n_frame_bytes,
       md5(substr(h, CAST(i * 128 + 1 AS BIGINT), 128)) AS frame_md5
FROM blobs, UNNEST(range(0, CAST(ceil(n / 64.0) AS BIGINT), 2)) AS t(i)
""",
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over the binary media column: every 2nd 64-byte
    frame of each blob as its own row with an md5 identity the oracle
    re-derives from the hex expansion (operators/multimodal.py:
    sample_frames — Arrow-batched mapInPandas, amplification inside
    the batch, no shuffle of blob bytes)."""
    media = multimodal.fake_media_from_documents(_docs(spark, sf_dir))
    return multimodal.sample_frames(media, frame_bytes=64, stride=2)


@register(
    "doc_chunks",
    survey_ids=("EXT-text", "EXT-sample"),
    extra=True,
    oracle=f"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents)
SELECT doc_id, CAST(i AS BIGINT) AS start,
       CAST(len(list_slice(toks, i + 1, i + 32)) AS BIGINT) AS n_tokens,
       array_to_string(list_slice(toks, i + 1, i + 32), ' ') AS chunk_text
FROM t, UNNEST(range(0, len(toks), 16)) AS u(i)
""",
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: every document split into 32-token
    windows every 16 tokens (50% overlap) — the context-window prep
    step before token-budget packing (pack_token_budget). Inline
    sequence-explode + slice of one tokenization: single scan, no
    self-join, no Python."""
    return text.chunk_tokens(_docs(spark, sf_dir), chunk=32, stride=16)


@register(
    "doc_chunks_udtf",
    survey_ids=("U2", "EXT-text"),
    extra=True,
    oracle=f"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents)
SELECT doc_id, CAST(i AS BIGINT) AS start,
       CAST(len(list_slice(toks, i + 1, i + 32)) AS BIGINT) AS n_tokens,
       array_to_string(list_slice(toks, i + 1, i + 32), ' ') AS chunk_text
FROM t, UNNEST(range(0, len(toks), 16)) AS u(i)
""",
)
def doc_chunks_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME chunking contract as `doc_chunks`, but through the
    reference's table-function surface (SURVEY §2.10 U2 — a per-group
    function that RETURNS a frame): an Arrow-optimized Python UDTF
    consumed via SQL LATERAL, hash-checked against the identical
    DuckDB oracle as the codegen twin. Tokenization stays in the JVM
    (the UDTF receives the token array), so Python never re-implements
    normalization; `chunk_tokens` remains the preferred 100 TB path —
    this pins the API surface and its exact parity."""
    from crypto_data_pipeline_spark.functions import register_udtfs

    register_udtfs(spark)
    toks = _docs(spark, sf_dir).select("doc_id", text.tokens("text").alias("toks"))
    return spark.sql(
        """
        SELECT d.doc_id, c.start, c.n_tokens, c.chunk_text
        FROM {d} d, LATERAL chunk_toks(d.toks, 32, 16) c
        """,
        d=toks,
    )


@register(
    "tfidf_top_terms",
    survey_ids=("EXT-text",),
    extra=True,
    oracle=f"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
terms AS (SELECT doc_id, len(toks) AS dlen, unnest(toks) AS term FROM t),
pd AS (SELECT doc_id, dlen, term, count(*) AS tc FROM terms GROUP BY 1, 2, 3),
dfq AS (SELECT term, count(DISTINCT doc_id) AS dfreq FROM pd GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS nd FROM t),
scored AS (
  SELECT pd.doc_id, pd.term,
         round((CAST(tc AS DOUBLE) / dlen)
               * (ln((CAST(nd AS DOUBLE) + 1) / (dfreq + 1)) + 1), 6) AS tfidf
  FROM pd JOIN dfq USING (term), n
),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
      FROM scored)
SELECT doc_id, term, tfidf, CAST(rank AS INT) AS rank FROM r WHERE rank <= 3
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keywords (smoothed idf). One term
    shuffle reused by the document-frequency join + per-doc top-k
    window (operators/text.py:tfidf_top_terms); scores rounded to 6 dp
    before ranking so both engines rank identically."""
    return text.tfidf_top_terms(_docs(spark, sf_dir), k=3)


def _lang_score_sql(lang: str) -> str:
    return f"len(list_filter({TOKENS_SQL}, t -> t IN {STOPWORDS[lang]}))"


def _lang_case_sql() -> str:
    clauses = []
    for i, lang in enumerate(LANG_PRIORITY):
        s = _lang_score_sql(lang)
        conds = [f"{s} > 0"]
        for j, other in enumerate(LANG_PRIORITY):
            if other == lang:
                continue
            op = ">" if j < i else ">="
            conds.append(f"{s} {op} {_lang_score_sql(other)}")
        clauses.append("WHEN " + " AND ".join(conds) + f" THEN '{lang}'")
    return "CASE " + " ".join(clauses) + " ELSE 'und' END"


@register(
    "lang_id",
    extra=True,
    survey_ids=("EXT-text",),
    oracle=f"SELECT doc_id, lang, {_lang_case_sql()} AS lang_pred FROM documents",
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID (n-gram heuristic); 'und' if no list
    matches. Integer-count argmax → engine-portable exactly."""
    return text.with_lang_id(_docs(spark, sf_dir)).select("doc_id", "lang", "lang_pred")


@register(
    "token_counts",
    extra=True,
    survey_ids=("EXT-text",),
    oracle=f"""
SELECT doc_id,
       CAST(len({TOKENS_SQL}) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS re_tokens
FROM documents
""",
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting."""
    return text.with_token_counts(_docs(spark, sf_dir)).select("doc_id", "ws_tokens", "re_tokens")


@register(
    "pii_redaction",
    extra=True,
    survey_ids=("EXT-text",),
    oracle=r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(text, '\d{9,}')) AS BIGINT) AS n_idnum,
       md5(regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             '\d{9,}', '<ID>', 'g')) AS redacted_md5
FROM documents
""",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus scrubbing: per-class PII-shaped match counts on the raw
    text plus the md5 of the redacted text (the hash value-checks the
    full redaction output without shipping documents through the
    gate). Patterns restricted to Java-regex/RE2-identical syntax."""
    df = text.with_redactions(_docs(spark, sf_dir))
    return df.select(
        "doc_id", "n_email", "n_ipv4", "n_idnum",
        F.md5("redacted").alias("redacted_md5"),
    )


@register(
    "quality_unigram_logprob",
    extra=True,
    survey_ids=("EXT-text",),
    oracle=f"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
terms AS (SELECT doc_id, unnest(toks) AS term FROM t),
freq AS (SELECT term, count(*) AS tf FROM terms GROUP BY 1),
tot AS (SELECT sum(tf) AS n_total FROM freq),
scored AS (
  SELECT doc_id, count(*) AS n_tokens,
         round(avg(-ln(CAST(tf AS DOUBLE) / n_total)), 6) AS neg_logprob
  FROM terms JOIN freq USING (term), tot
  GROUP BY doc_id
),
b AS (SELECT quantile_cont(neg_logprob, 0.3333333333333333) AS b1,
             quantile_cont(neg_logprob, 0.6666666666666666) AS b2
      FROM scored)
SELECT doc_id, n_tokens, neg_logprob,
       CASE WHEN neg_logprob <= b1 THEN 'head'
            WHEN neg_logprob <= b2 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM scored, b
""",
)
def quality_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail perplexity split under the corpus
    unigram LM (operators/text.py:with_unigram_logprob). Scores and
    tercile bounds are 6-dp-rounded before bucketing so Spark and the
    oracle assign identical buckets."""
    return text.with_unigram_logprob(_docs(spark, sf_dir))


@register(
    "doc_fingerprint",
    extra=True,
    survey_ids=("EXT-text",),
    oracle=f"SELECT doc_id, md5({NORM_SQL}) AS fingerprint FROM documents",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined document fingerprint (md5 of normalized text)."""
    return text.with_fingerprint(_docs(spark, sf_dir)).select("doc_id", "fingerprint")


_ROLLING_FP_ORACLE = f"""
WITH c AS (
  SELECT doc_id,
         list_transform(string_split({NORM_SQL}, ''), ch -> ascii(ch)) AS codes
  FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(codes) >= 8 THEN
           list_transform(range(len(codes) - 7), i ->
             list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(codes, i + 1, i + 8)),
                         (h, x) -> (h * 131 + x) % 2147483647))
         ELSE [list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
                           (h, x) -> (h * 131 + x) % 2147483647)]
         END AS grams
  FROM c
)
SELECT doc_id,
       list_min(grams) AS rolling_min_hash,
       CAST(len(list_distinct(grams)) AS BIGINT) AS n_grams
FROM g
"""


_WINNOW_FPS_CTE = f"""c AS (
  SELECT doc_id,
         list_transform(string_split({NORM_SQL}, ''), ch -> CAST(ascii(ch) AS BIGINT)) AS codes
  FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(codes) >= 8 THEN
           list_transform(range(len(codes) - 7), i ->
             list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(codes, i + 1, i + 8)),
                         (h, x) -> (h * 131 + x) % 2147483647))
         ELSE [list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
                           (h, x) -> (h * 131 + x) % 2147483647)]
         END AS grams
  FROM c
),
w AS (
  SELECT doc_id,
         CASE WHEN len(grams) >= 4 THEN
           list_distinct(list_transform(range(len(grams) - 3), i ->
             list_min(list_slice(grams, i + 1, i + 4))))
         ELSE [list_min(grams)]
         END AS fps
  FROM g
)"""


_WINNOWING_PAIRS_ORACLE = f"""
WITH {_WINNOW_FPS_CTE},
ex AS (SELECT doc_id AS id, unnest(fps) AS fp FROM w),
sizes AS (SELECT doc_id AS id, CAST(len(fps) AS BIGINT) AS n_fps FROM w),
grp AS (SELECT fp, count(*) AS cnt FROM ex GROUP BY 1),
cand AS (
  SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS shared
  FROM ex a
  JOIN ex b ON a.fp = b.fp AND a.id < b.id
  JOIN grp g ON g.fp = a.fp
  WHERE g.cnt BETWEEN 2 AND 200
  GROUP BY 1, 2
)
SELECT c.id_a, c.id_b, c.shared,
       round(CAST(c.shared AS DOUBLE) / least(sa.n_fps, sb.n_fps), 6) AS containment
FROM cand c
JOIN sizes sa ON sa.id = c.id_a
JOIN sizes sb ON sb.id = c.id_b
WHERE c.shared >= 2
"""


@register("dedup_winnowing_pairs", extra=True, survey_ids=("EXT-dedup", "EXT-text"),
    oracle=_WINNOWING_PAIRS_ORACLE)
def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level overlap/containment pairs via shared winnowing
    fingerprints (operators/dedup.py:winnowing_pairs) — catches partial
    copies whole-document Jaccard dilutes away; hot-fingerprint capped
    like LSH banding, fully oracle-checked."""
    return dedup.winnowing_pairs(_docs(spark, sf_dir))


@register("boilerplate_ratio", extra=True, survey_ids=("EXT-text",),
    oracle=f"""
WITH {_WINNOW_FPS_CTE},
ex AS (SELECT doc_id AS id, unnest(fps) AS fp FROM w),
freq AS (SELECT fp, count(*) AS df FROM ex GROUP BY 1),
j AS (SELECT ex.id, CASE WHEN freq.df >= 5 THEN 1 ELSE 0 END AS hit
      FROM ex JOIN freq USING (fp))
SELECT id AS doc_id,
       CAST(count(*) AS BIGINT) AS n_fps,
       CAST(sum(hit) AS BIGINT) AS n_boiler,
       round(CAST(sum(hit) AS DOUBLE) / count(*), 6) AS boilerplate_ratio
FROM j GROUP BY 1
""")
def boilerplate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repetition share per doc: fraction of winnowing
    fingerprints appearing in ≥5 documents (operators/text.py:
    boilerplate_ratio) — the template/chrome detector complementing
    within-doc repetition_stats."""
    return text.boilerplate_ratio(_docs(spark, sf_dir), min_docs=5)


_WINNOWING_ORACLE = f"""
WITH c AS (
  SELECT doc_id,
         list_transform(string_split({NORM_SQL}, ''), ch -> CAST(ascii(ch) AS BIGINT)) AS codes
  FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(codes) >= 8 THEN
           list_transform(range(len(codes) - 7), i ->
             list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(codes, i + 1, i + 8)),
                         (h, x) -> (h * 131 + x) % 2147483647))
         ELSE [list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
                           (h, x) -> (h * 131 + x) % 2147483647)]
         END AS grams
  FROM c
),
w AS (
  SELECT doc_id,
         CASE WHEN len(grams) >= 4 THEN
           list_distinct(list_transform(range(len(grams) - 3), i ->
             list_min(list_slice(grams, i + 1, i + 4))))
         ELSE [list_min(grams)]
         END AS fps
  FROM g
)
SELECT doc_id,
       CAST(len(fps) AS BIGINT) AS n_fps,
       list_min(fps) AS min_fp,
       CAST(list_sum(fps) AS BIGINT) AS fp_sum
FROM w
"""


@register("doc_winnowing", extra=True, survey_ids=("EXT-text", "EXT-dedup"),
    oracle=_WINNOWING_ORACLE)
def doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing sketch per document: window-4 minimum selection
    over the char-8-gram rolling hashes (operators/text.py:
    with_winnowing) — the substring-match-guaranteed fingerprint set,
    reproduced bit-for-bit by the oracle."""
    return text.with_winnowing(_docs(spark, sf_dir)).select(
        "doc_id", "n_fps", "min_fp", "fp_sum"
    )


@register("doc_fingerprint_rolling",
    extra=True, survey_ids=("EXT-text",), oracle=_ROLLING_FP_ORACLE)
def doc_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash (Rabin-Karp char-8-gram) fingerprint: min gram hash
    + distinct gram count — edit-robust, exact-integer, oracle-checked."""
    return text.with_rolling_fingerprint(_docs(spark, sf_dir)).select(
        "doc_id", "rolling_min_hash", "n_grams"
    )


# ---------------------------------------------------------------------------
# similarity search


_TOPK_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 10
),
c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
),
scored AS (
  SELECT query_id, vec_id,
         round(list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cosine
  FROM c, q
  WHERE query_id != vec_id
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
WHERE rank <= 5
"""


@register("embedding_topk_bruteforce", survey_ids=("EXT-sim",), bench=True, oracle=_TOPK_ORACLE)
def embedding_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for 10 query vectors, via the partition-local
    top-k Arrow formulation (numpy matmul per corpus partition,
    kilobyte-sized final merge — similarity.brute_force_topk_arrow).
    Chosen over the crossJoin+window baseline on measurement: 0.48 s vs
    0.73 s at sf0.1/local[32], and the gap widens with the corpus
    because nothing |corpus|×|Q|-sized is ever materialized. The
    crossJoin twin stays registered below against the same oracle."""
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    return similarity.brute_force_topk_arrow(embs, queries, k=5)


@register("embedding_topk_crossjoin", survey_ids=("EXT-sim",), extra=True, oracle=_TOPK_ORACLE)
def embedding_topk_crossjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME exact top-5 via the broadcast-crossJoin + window
    baseline (pure codegen, zero Python) — the independent second
    formulation that cross-checks the Arrow path, both against the
    identical DuckDB oracle."""
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    return similarity.brute_force_topk(embs, queries, k=5)


@register(
    "embedding_similar_pairs",
    survey_ids=("EXT-sim", "EXT-dedup"),
    oracle="""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.3
""",
)
def embedding_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked on the label column
    (cluster id) so no O(n^2) cross product. Threshold 0.3 fits this
    corpus's near-random geometry; production near-dup would use ~0.95."""
    return similarity.near_dup_pairs_by_cosine(_embs(spark, sf_dir), threshold=0.3)


def _lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-doc LM score table ``(doc_id, lang, n_bigrams, ppl,
    ppl_kn)`` at rest — the serve store's ``lm_model`` entry, built
    once per (session, corpus): `lm.lm_fit` lands the model (one corpus
    pass), and every document is scored against the landed model in
    one more corpus pass (`lm.lm_scores`), whose table lands beside it
    and reloads with its known schema. The parquet-backed model gives
    the hint-free scoring joins accurate statistics, so a model-sized
    grid broadcasts by measurement. The four LM queries then read only
    the landed scores."""
    from crypto_data_pipeline_spark.operators import lm

    docs = _docs(spark, sf_dir)

    def build(model_dir: str) -> DataFrame:
        scores = lm.lm_scores(docs, *lm.lm_fit(docs, model_dir))
        scores.write.parquet(f"{model_dir}/scores")
        return spark.read.schema(scores.schema).parquet(f"{model_dir}/scores")

    return serve_store.serve(spark, sf_dir, "lm_model", ("documents",), build)


def _ivf_index_at_rest(
    spark: SparkSession, index_dir: str, built: "similarity.IvfIndex",
    nprobe: int, config_check: dict | None = None,
) -> "similarity.IvfIndex":
    """Land a freshly built IVF index at ``index_dir`` through
    `write_ivf_index` (which records the `ivf_config_check` verdict
    in the sidecar), drop the build's
    in-memory persist, and return the RELOADED cell-partitioned scan.
    Probes against it read nprobe cell directories — the production
    at-rest layout — and parquet-backed frames give the probe joins
    measured statistics."""
    similarity.write_ivf_index(built, index_dir, nprobe=nprobe, config_check=config_check)
    built.assigned.unpersist()
    return similarity.read_ivf_index(spark, index_dir)


def _ivf_recommended_index(
    spark: SparkSession, sf_dir: str, embs: DataFrame
) -> tuple:
    """The serve store's ``ivf`` entry: the KMeans IVF index at the
    guard's own recommended operating point, at rest — n_centroids =
    max(16, round(sqrt(N))), the production scale rule
    `ivf_config_check`'s warning quotes, and serving nprobe = the
    largest probe depth the fraction curve keeps under the guard
    threshold (`similarity.ivf_serving_nprobe`, one estimator pass).
    The sidecar records the check at THAT nprobe, so the at-rest
    verdict for this index is `ok` by construction unless even
    nprobe=1 fails — in which case the warning fires and names the
    geometry. Returns (index, serving_nprobe, n_cells)."""
    import math as _math

    def build(index_dir: str) -> tuple:
        n = embs.count()
        cells = max(16, round(_math.sqrt(n)))
        built = similarity.build_ivf_index(embs, n_centroids=cells, n_total=n)
        serve = similarity.ivf_serving_nprobe(built)
        # the chooser's one-pass curve already measured the serving
        # point: derive the sidecar verdict from it instead of paying a
        # second histogram+sample estimator pass in write_ivf_index's
        # default ivf_config_check
        check = similarity.ivf_config_check(
            built,
            stats={
                "expected_candidate_fraction":
                    serve["fraction_curve"][serve["nprobe"] - 1],
                "max_cell_fraction": serve["max_cell_fraction"],
                "n_cells": serve["n_cells"],
                "n_cells_empty": serve["n_cells_empty"],
                "nprobe": serve["nprobe"],
                "sample_cap": serve["sample_cap"],
                "n_sampled": serve["n_sampled"],
            },
        )
        index = _ivf_index_at_rest(
            spark, index_dir, built, nprobe=serve["nprobe"], config_check=check
        )
        return index, serve["nprobe"], cells

    return serve_store.serve(spark, sf_dir, "ivf", ("embeddings",), build)


def _ivf_fixed_index(spark: SparkSession, sf_dir: str) -> "similarity.IvfIndex":
    """The serve store's ``ivf_fixed`` entry: the deterministic
    fixed-quantizer index (centroids = normalized vectors of vec_id
    0..15) at rest — shared by every hash-checked IVF-family query
    (ANN, SemDeDup, cluster sampling, IVFPQ)."""
    embs = _embs(spark, sf_dir)
    return serve_store.serve(
        spark, sf_dir, "ivf_fixed", ("embeddings",),
        lambda index_dir: _ivf_index_at_rest(
            spark, index_dir, similarity.build_fixed_ivf_index(embs, list(range(16))),
            nprobe=4,
        ),
    )


@register("embedding_ann_ivf", survey_ids=("EXT-sim",), oracle=None, bench=True,
          extra=True)
def embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via an IVF index at the GUARD-RECOMMENDED operating
    point (round 12; VERDICT r11 next #3): ≈sqrt(N) KMeans cells —
    the production scale rule the guard's own warning quotes — with
    nprobe chosen by `ivf_serving_nprobe` as the largest probe depth
    whose expected candidate fraction stays under the guard threshold.
    The bench row therefore records what the tier achieves when a
    user FOLLOWS the guard (sidecar verdict ok), not the 16-cell demo
    geometry (which lives on as `embedding_ann_ivf_fixed`, the
    hash-checked SQL twin, warning by design). Index builds ONCE per
    (session, corpus), lands at rest partitioned by cell, and serves
    from the reloaded scan — the FAISS train/add vs search split.
    Rows-only: the quantizer is iterative ML, not SQL; recall is
    recorded against the brute-force baseline in every bench artifact
    and swept along the frontier by tools/ann_probe.py."""
    embs = _embs(spark, sf_dir)
    index, serve_nprobe, cells = _ivf_recommended_index(spark, sf_dir, embs)
    queries = embs.where(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    return similarity.ivf_topk(
        embs, queries, k=5, index=index, n_centroids=cells, nprobe=serve_nprobe
    )


def _plane_literal(plane: list[float]) -> str:
    """One hyperplane as a DuckDB DOUBLE[] literal — repr doubles
    round-trip exactly. Shared by every oracle that inlines the
    deterministic `similarity._hyperplanes` family, so the literal
    convention cannot silently diverge between twins."""
    return "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"


def _lsh_oracle(dim: int = 64, bits: int = 5, tables: int = 10, k: int = 5) -> str:
    """DuckDB twin of the full multi-table LSH ANN pipeline. The
    hyperplanes are deterministic (LCG, similarity._hyperplanes), so
    they inline as literals in a VALUES table and DuckDB re-derives the
    same buckets, candidates, and ranking — even the recall-lossy ANN
    path is differentially checked, not just its exact baseline. Bucket
    bits are sign decisions (dot > 0), so engine summation-order noise
    (~1e-16) cannot flip them except for dots within 1e-15 of zero —
    probability ~0 for random planes."""
    from crypto_data_pipeline_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, bits * tables, seed=42)
    values = ",\n".join(
        f"({t}, {i}, {_plane_literal(planes[t * bits + i])})"
        for t in range(tables)
        for i in range(bits)
    )
    return f"""
WITH planes(t, i, pv) AS (VALUES {values}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
keys AS (
  SELECT e.vec_id, p.t,
         CAST(SUM(CASE WHEN list_dot_product(e.v, p.pv) > 0
                       THEN (1 << p.i) ELSE 0 END) AS BIGINT) AS b
  FROM e CROSS JOIN planes p GROUP BY 1, 2
),
qk AS (SELECT vec_id AS query_id, t, b FROM keys WHERE vec_id < 10),
cands AS (
  SELECT DISTINCT qk.query_id, c.vec_id
  FROM qk JOIN keys c USING (t, b)
  WHERE c.vec_id <> qk.query_id
),
scored AS (
  SELECT cands.query_id, cands.vec_id,
         round(list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6)
           AS cosine
  FROM cands
  JOIN e q ON q.vec_id = cands.query_id
  JOIN e c ON c.vec_id = cands.vec_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM r WHERE rank <= {k}
"""


def _lsh_multiprobe_oracle(
    dim: int = 64, bits: int = 5, tables: int = 10, k: int = 5, n_flip: int = 2
) -> str:
    """DuckDB twin of the MULTI-PROBE LSH ANN pipeline: the single-probe
    oracle plus, per (query, table), the buckets reached by flipping
    the ``n_flip`` lowest-|margin| sign bits (row_number over abs(dot)
    with the same bit-index tiebreak as the Spark side's array_sort on
    struct(m, i)). Margins are O(1) random values, so a cross-engine
    1e-16 summation difference can only reorder two bits whose margins
    coincide to ~15 significant digits — probability ~0, same device
    as the sign-decision argument in _lsh_oracle."""
    from crypto_data_pipeline_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, bits * tables, seed=42)
    values = ",\n".join(
        f"({t}, {i}, {_plane_literal(planes[t * bits + i])})"
        for t in range(tables)
        for i in range(bits)
    )
    return f"""
WITH planes(t, i, pv) AS (VALUES {values}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
dots AS (
  SELECT e.vec_id, p.t, p.i, list_dot_product(e.v, p.pv) AS d
  FROM e CROSS JOIN planes p
),
keys AS (
  SELECT vec_id, t,
         CAST(SUM(CASE WHEN d > 0 THEN (1 << i) ELSE 0 END) AS BIGINT) AS b
  FROM dots GROUP BY 1, 2
),
qbase AS (SELECT vec_id AS query_id, t, b FROM keys WHERE vec_id < 10),
qflips AS (
  SELECT vec_id AS query_id, t, i,
         row_number() OVER (PARTITION BY vec_id, t ORDER BY abs(d), i) AS rn
  FROM dots WHERE vec_id < 10
),
qk AS (
  SELECT query_id, t, b FROM qbase
  UNION
  SELECT f.query_id, f.t, xor(qb.b, CAST((1 << f.i) AS BIGINT)) AS b
  FROM qflips f JOIN qbase qb ON qb.query_id = f.query_id AND qb.t = f.t
  WHERE f.rn <= {n_flip}
),
cands AS (
  SELECT DISTINCT qk.query_id, c.vec_id
  FROM qk JOIN keys c USING (t, b)
  WHERE c.vec_id <> qk.query_id
),
scored AS (
  SELECT cands.query_id, cands.vec_id,
         round(list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6)
           AS cosine
  FROM cands
  JOIN e q ON q.vec_id = cands.query_id
  JOIN e c ON c.vec_id = cands.vec_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM r WHERE rank <= {k}
"""


def _bucket_dedup_oracle(dim: int = 64, n_planes: int = 16) -> str:
    """DuckDB twin of the full-signature LSH dedup: the deterministic
    hyperplanes inline as literals (same device as _lsh_oracle; sign
    margins dwarf cross-engine float noise)."""
    from crypto_data_pipeline_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed=42)
    values = ",\n".join(
        f"({i}, {_plane_literal(p)})" for i, p in enumerate(planes)
    )
    return f"""
WITH planes(i, pv) AS (VALUES {values}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
keys AS (
  SELECT e.vec_id,
         CAST(SUM(CASE WHEN list_dot_product(e.v, p.pv) > 0
                       THEN (1 << p.i) ELSE 0 END) AS BIGINT) AS lsh_bucket
  FROM e CROSS JOIN planes p GROUP BY 1
)
SELECT lsh_bucket,
       CAST(min(vec_id) AS BIGINT) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_members
FROM keys GROUP BY 1
"""


@register(
    "embedding_bucket_dedup",
    extra=True,
    survey_ids=("EXT-sim", "EXT-dedup"),
    oracle=_bucket_dedup_oracle(),
)
def embedding_bucket_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic batch twin of the streaming LSH near-dedup
    (`similarity.stream_near_dup_filter`): one survivor (min vec_id)
    per full 16-bit LSH signature plus the collision count. One
    signature expression + one hash-groupBy shuffle — the same
    census-then-survivor shape as exact text dedup, applied to the
    embedding modality."""
    embs = similarity.with_lsh_bucket(_embs(spark, sf_dir))
    return embs.groupBy("lsh_bucket").agg(
        F.min("vec_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_members"),
    )


@register(
    "embedding_quantize_int8",
    extra=True,
    survey_ids=("EXT-sim",),
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale FROM e)
SELECT vec_id, scale,
       CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS TINYINT))
            ELSE list_transform(v, x -> CAST(round(x / scale * 127) AS TINYINT)) END AS q
FROM s
""",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization (the FAISS SQ8 /
    vector-DB storage trick): q_i = round(x_i/scale*127) with
    scale = max|x_i|, reconstruction x̂_i = q_i*scale/127. At 100 TB
    this is the at-rest embedding format — 4× smaller scans, exact
    max-norm kept per row for dequantization — and it is a pure
    codegen expression (array_max + transform), zero shuffle, zero
    Python. Rounding is half-away-from-zero in both engines (Spark
    HALF_UP, DuckDB round), so the int8 codes hash-match exactly."""
    embs = _embs(spark, sf_dir).select("vec_id", "embedding")
    return similarity.with_int8_codes(embs).select("vec_id", "scale", "q")


_RP_OUT, _RP_SEED = 16, 41


def _rp_oracle() -> str:
    from crypto_data_pipeline_spark.operators.dedup import (
        PORTABLE_MOD,
        portable_minhash_params,
    )

    params = portable_minhash_params(_RP_OUT, _RP_SEED)
    a_lit = "[" + ", ".join(str(a) for a, _ in params) + "]"
    b_lit = "[" + ", ".join(str(b) for _, b in params) + "]"
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
qz AS (
  SELECT vec_id, CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
         ELSE list_transform(v, x -> CAST(round(x / scale * 127) AS BIGINT)) END AS q
  FROM s
),
pj AS (
  SELECT vec_id,
         list_transform(range({_RP_OUT}), j ->
           list_sum(list_transform(q, (x, i) ->
             (1 - 2 * (((({a_lit})[j + 1] * (i - 1) + ({b_lit})[j + 1])
                        % {PORTABLE_MOD}) * 2 // {PORTABLE_MOD})) * x))) AS y
  FROM qz
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id,
         CAST(list_sum(list_transform(q.y, (x, i) -> (x - c.y[i]) * (x - c.y[i]))) AS BIGINT) AS rp_dist
  FROM pj q JOIN pj c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rp_dist ASC, vec_id ASC) AS rank
  FROM pairs
)
SELECT query_id, vec_id, rp_dist, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5
"""


@register(
    "embedding_rp_topk",
    extra=True,
    survey_ids=("EXT-sim",),
    oracle=_rp_oracle(),
)
def embedding_rp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss retrieval (`similarity.with_rp_codes` /
    `rp_topk`, Achlioptas 2003): project int8-quantized vectors to 16
    integer coordinates with a deterministic ±1 matrix derived from
    the portable hash family (the model artifact is three integers),
    then scan top-5 by exact integer squared-L2 in the projected
    space — 4x fewer multiplies and bytes per candidate than the raw
    64-dim scan. ALL-integer arithmetic makes this lossy
    dimensionality reduction hash-check end to end in DuckDB. The
    matmul is one numpy int64 Q@S.T per Arrow batch (the PQ-encode
    lesson: nested HOF grids evaluate interpreted), the projected
    query set broadcasts, the corpus never shuffles."""
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.rp_topk(embs, queries, k=5, out_dim=_RP_OUT, seed=_RP_SEED)


@register(
    "embedding_topk_quantized",
    extra=True,
    survey_ids=("EXT-sim",),
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
qz AS (
  SELECT vec_id,
         CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
              ELSE list_transform(v, x -> CAST(round(x / scale * 127) AS BIGINT)) END AS q
  FROM s
),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id,
         round(list_dot_product(a.q, b.q)
               / (sqrt(list_dot_product(a.q, a.q)) * sqrt(list_dot_product(b.q, b.q))), 6)
           AS cosine_q
  FROM qz a JOIN qz b ON a.vec_id < 10 AND b.vec_id <> a.vec_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine_q DESC, vec_id) AS rank
  FROM pairs
)
SELECT query_id, vec_id, cosine_q, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5
""",
)
def embedding_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 cosine over the int8 codes (`similarity.quantized_topk`):
    the compressed-scan search path. Integer dot products make the
    quantized score EXACT across engines — the strongest hash-check in
    the similarity family (no float-fold noise at all before the final
    sqrt/divide on identical integers). Ranking recall vs the float
    baseline is pinned in tests/test_dedup_similarity.py."""
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.quantized_topk(embs, queries, k=5)


def _ivf_fixed_oracle(n_centroids: int = 16, nprobe: int = 4, k: int = 5) -> str:
    """DuckDB twin of the ENTIRE fixed-quantizer IVF pipeline: centroid
    derivation (normalized vectors of vec_id < n_centroids), corpus
    cell assignment ((distance, cell) argmin), query nprobe cell
    choice, candidate equi-join on cell, and rounded-cosine ranking.
    No literals needed — the quantizer is a function of the corpus, so
    the oracle derives it from the same table. Distance ordering uses
    2 - 2·dot on unit vectors (mathematically equal to the Spark
    side's Euclidean fold; cross-engine float noise ~1e-15 vs
    inter-centroid margins O(0.1), same class of tie argument as the
    LSH oracle's sign margins)."""
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u FROM e),
ctr AS (SELECT CAST(vec_id AS INT) AS cell, u AS cu FROM n WHERE vec_id < {n_centroids}),
dists AS (
  SELECT n.vec_id, ctr.cell,
         2 - 2 * list_dot_product(n.u, ctr.cu) AS d
  FROM n CROSS JOIN ctr
),
asg AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM dists
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM dists WHERE vec_id < 10
  ) WHERE rn <= {nprobe}
),
scored AS (
  SELECT p.query_id, a.vec_id,
         round(list_dot_product(qn.u, cn.u), 6) AS cosine
  FROM probes p
  JOIN asg a USING (cell)
  JOIN n qn ON qn.vec_id = p.query_id
  JOIN n cn ON cn.vec_id = a.vec_id
  WHERE a.vec_id <> p.query_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM r WHERE rank <= {k}
"""


@register("embedding_ann_ivf_fixed", survey_ids=("EXT-sim",), oracle=_ivf_fixed_oracle())
def embedding_ann_ivf_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hash-checked IVF twin: same probe machinery as
    `embedding_ann_ivf` (assign → nprobe → cell join → cosine rank) but
    with the deterministic fixed quantizer of
    `similarity.build_fixed_ivf_index` (centroids = normalized vectors
    of vec_id 0..15), so the whole pipeline is SQL-expressible and the
    driver-class check covers IVF end to end — the KMeans build
    remains the production recall path, proven rows-only + recall
    floor."""
    embs = _embs(spark, sf_dir)
    # same per-(session, corpus) amortization as embedding_ann_ivf,
    # served from the at-rest layout with the guard verdict in its
    # sidecar (round 11). NOTE: the 16-cell/nprobe-4 demo geometry
    # intentionally trips the guard (expected fraction ≈ 0.25 > 0.10)
    # — it exists for the SQL-expressible twin; production sizes
    # n_centroids ≈ sqrt(N) and the warn is the guard telling the
    # truth about this geometry at scale.
    index = _ivf_fixed_index(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_topk(
        embs, queries, k=5, index=index, n_centroids=16, nprobe=4, seed=-1
    )


def _semdedup_oracle(n_centroids: int = 16, threshold: float = 0.7) -> str:
    """DuckDB twin of SemDeDup over the fixed quantizer: same centroid
    derivation and (distance, cell)-argmin assignment CTEs as
    `_ivf_fixed_oracle`, then the paper's upper-triangular keep rule —
    drop a vector iff any lower-id cell-mate has rounded cosine >=
    threshold."""
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u FROM e),
ctr AS (SELECT CAST(vec_id AS INT) AS cell, u AS cu FROM n WHERE vec_id < {n_centroids}),
dists AS (
  SELECT n.vec_id, ctr.cell,
         2 - 2 * list_dot_product(n.u, ctr.cu) AS d
  FROM n CROSS JOIN ctr
),
asg AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM dists
  ) WHERE rn = 1
),
pairs AS (
  SELECT b.vec_id AS b_id
  FROM asg a
  JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN n na ON na.vec_id = a.vec_id
  JOIN n nb ON nb.vec_id = b.vec_id
  WHERE round(list_dot_product(na.u, nb.u), 6) >= {threshold}
),
dom AS (SELECT b_id, count(*) AS n_dominators FROM pairs GROUP BY 1)
SELECT asg.vec_id, CAST(asg.cell AS INT) AS cell,
       CAST(coalesce(dom.n_dominators, 0) AS BIGINT) AS n_dominators,
       coalesce(dom.n_dominators, 0) = 0 AS is_kept
FROM asg LEFT JOIN dom ON dom.b_id = asg.vec_id
"""


@register(
    "semantic_dedup",
    extra=True,
    survey_ids=("EXT-sim", "EXT-dedup"),
    oracle=_semdedup_oracle(),
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: cluster-blocked embedding dedup
    (operators/similarity.py:semantic_dedup) on the deterministic fixed
    quantizer, so assignment + pairwise pruning hash-check end to end.
    Production swaps in the KMeans quantizer exactly as
    embedding_ann_ivf does over embedding_ann_ivf_fixed."""
    index = _ivf_fixed_index(spark, sf_dir)
    return similarity.semantic_dedup(index, threshold=0.7)


def _cluster_sample_oracle(n_centroids: int = 16, quota: int = 8) -> str:
    """DuckDB twin of the cluster-balanced diversity sample: the fixed
    quantizer's (distance, cell)-argmin assignment CTEs (same as
    `_ivf_fixed_oracle`), a quality score from the SAME portable
    token/alpha expressions as the quality battery, and a per-cell
    top-``quota`` window. Score = n_words x alpha_ratio: both factors
    are exact-integer-derived, so the float product is bit-identical
    across engines and rounding cannot flip the rank order."""
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u FROM e),
ctr AS (SELECT CAST(vec_id AS INT) AS cell, u AS cu FROM n WHERE vec_id < {n_centroids}),
dists AS (
  SELECT n.vec_id, ctr.cell,
         2 - 2 * list_dot_product(n.u, ctr.cu) AS d
  FROM n CROSS JOIN ctr
),
asg AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM dists
  ) WHERE rn = 1
),
s AS (
  SELECT doc_id, lang,
         coalesce(round(CAST(len({TOKENS_SQL}) AS BIGINT)
           * (CAST(length(regexp_replace({NORM_SQL}, '[^a-z ]', '', 'g')) AS DOUBLE)
              / length({NORM_SQL})), 6), -1.0) AS score
  FROM documents
),
j AS (SELECT a.cell, s.doc_id, s.lang, s.score FROM s JOIN asg a ON a.vec_id = s.doc_id),
r AS (
  SELECT *, row_number() OVER (PARTITION BY cell ORDER BY score DESC, doc_id) AS rank
  FROM j
)
SELECT cell, doc_id, lang, score, CAST(rank AS INT) AS rank
FROM r WHERE rank <= {quota}
"""


@register(
    "cluster_balanced_sample",
    extra=True,
    survey_ids=("EXT-sim", "EXT-sample"),
    oracle=_cluster_sample_oracle(),
)
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity sampling: assign every document's
    embedding to its nearest quantizer cell, then keep the top-8 docs
    PER CELL by quality score — the curation move that caps
    over-represented semantic neighborhoods (near-duplicate topic
    floods) while guaranteeing every region of embedding space keeps
    its best examples. Deterministic end to end on the fixed quantizer
    (production swaps in KMeans exactly as embedding_ann_ivf does);
    score = n_words x alpha_ratio from the quality battery's shared
    expressions, rounded 6 dp, nulls to -1 on both engines.

    100 TB shape: assignment is a scan + broadcast of 16 centroids
    (zero corpus shuffle), the doc join is 1:1 on the id, and the
    per-cell quota window is WindowGroupLimit-prunable — no global
    sort, no full materialization of any cell."""
    index = _ivf_fixed_index(spark, sf_dir)
    asg = index.assigned.select(
        F.col("vec_id").alias("doc_id"), F.col("_cell").alias("cell")
    )
    docs = text.with_quality_filter(text.with_text_stats(_docs(spark, sf_dir)))
    scored = docs.select(
        "doc_id",
        "lang",
        F.coalesce(
            F.round(F.col("n_words") * F.col("alpha_ratio"), 6), F.lit(-1.0)
        ).alias("score"),
    )
    w = Window.partitionBy("cell").orderBy(F.col("score").desc(), "doc_id")
    return (
        scored.join(asg, "doc_id")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 8)
        .select("cell", "doc_id", "lang", "score", "rank")
    )


def _lsh_keys(spark: SparkSession, sf_dir: str, embs: DataFrame) -> "similarity.LshIndex":
    """The serve store's ``lsh`` entry: the corpus's persisted
    (id, table, bucket) keys, shared by both LSH queries."""
    return serve_store.serve(
        spark, sf_dir, "lsh", ("embeddings",),
        lambda _tmp: similarity.build_lsh_keys(embs),
        release=lambda ix: ix.keys.unpersist(),
    )


@register(
    "embedding_ann_lsh",
    # r9 rotation: EXT-sim driver slot passes to embedding_ann_lsh_multiprobe
    # (the round's flagship ANN operator); this stays oracle-tested and
    # benched so the single-probe baseline keeps its timing/recall rows
    extra=True,
    survey_ids=("EXT-sim",),
    oracle=_lsh_oracle(),
    bench=True,
)
def embedding_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via random-hyperplane LSH bucketing (recall-lossy scale
    path; tests ALSO compare recall against the brute-force baseline).
    The corpus (id, table, bucket) keys — the at-rest index side —
    build once per (session, corpus) and are cached, mirroring the IVF
    train/search split. Hash-checked end to end: the deterministic
    hyperplanes inline into the DuckDB oracle (see _lsh_oracle)."""
    embs = _embs(spark, sf_dir)
    c_keys = _lsh_keys(spark, sf_dir, embs)
    queries = embs.where(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    return similarity.lsh_topk(embs, queries, k=5, corpus_keys=c_keys)


@register(
    "embedding_ann_lsh_multiprobe",
    # r9 rotation: seated in the driver gate in embedding_ann_lsh's
    # EXT-sim slot — the flagship ANN operator of the round, hash-checked
    # by the driver every round from here on
    survey_ids=("EXT-sim",),
    oracle=_lsh_multiprobe_oracle(),
    bench=True,
)
def embedding_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN (Lv et al. 2007, VLDB): the SAME at-rest
    index as embedding_ann_lsh — the cached corpus (id, t, b) keys are
    shared, nothing is rebuilt — with recall bought purely at query
    time by also probing, per table, the two buckets at Hamming
    distance 1 on the query's lowest-|margin| sign bits. Measured
    recall@5 vs the brute-force twin: 0.44 → 0.86 at sf0.001 and
    0.56 → 0.94 at sf0.01 over the single-probe sibling (bench
    records both rows every round). The 100 TB asymmetry is the whole
    story: improving recall by re-indexing is a full corpus rewrite;
    improving it by multi-probe is 3× the probed buckets per query —
    a few more pruned partition reads against the identical layout.
    Hash-checked end to end against a DuckDB twin that re-derives the
    probe set (see _lsh_multiprobe_oracle)."""
    embs = _embs(spark, sf_dir)
    c_keys = _lsh_keys(spark, sf_dir, embs)
    queries = embs.where(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    return similarity.lsh_topk(embs, queries, k=5, corpus_keys=c_keys, probes_per_table=2)


# ---------------------------------------------------------------------------
# temporal joins (EXT-asof): as-of enrichment and bounded range join


@register(
    "asof_last_click",
    survey_ids=("EXT-asof",),
    oracle="""
WITH purch AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'click'
)
SELECT p.event_id, p.user_id, p.value AS purchase_value,
       coalesce(c.value, -1.0) AS click_value,
       coalesce(epoch_us(p.ts) - epoch_us(c.ts), CAST(-1 AS BIGINT)) AS gap_us
FROM purch p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
)
def asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase enriched with the user's most recent
    click at-or-before it. Union+window plan — one shuffle on user_id,
    no inequality-join explosion (see operators/asof.py). Oracle is
    DuckDB's native ASOF LEFT JOIN; nulls → sentinels for stable
    comparison. (user_id, ts) is unique in events, so no tiebreak."""
    from crypto_data_pipeline_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("value").alias("click_value")
    )
    out = asof_join(
        purch, clicks, on=["user_id"], left_ts="ts", right_ts="click_ts",
        right_cols=["click_value"],
    )
    return out.select(
        "event_id",
        "user_id",
        "purchase_value",
        F.coalesce("click_value", F.lit(-1.0)).alias("click_value"),
        F.coalesce(
            F.unix_micros("ts") - F.unix_micros("click_ts"), F.lit(-1).cast("long")
        ).alias("gap_us"),
    )


@register(
    "range_join_click_context",
    survey_ids=("EXT-asof",),
    extra=True,  # r6 rotation: EXT-asof driver-covered by asof_last_click; slot re-seats numeric_projection (P7)
    oracle="""
WITH purch AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'click'
)
SELECT p.event_id, p.user_id,
       CAST(count(c.ts) AS BIGINT) AS n_clicks,
       round(coalesce(sum(c.value), 0.0), 2) AS click_value_sum
FROM purch p LEFT JOIN clicks c
  ON p.user_id = c.user_id
 AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 3600000000 AND epoch_us(p.ts)
GROUP BY 1, 2
""",
)
def range_join_click_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded range join: per purchase, count/sum the same user's
    clicks in the preceding hour. Bucketed-band plan (operators/
    asof.py:range_join_agg) turns the interval predicate into an equi
    join on (user_id, hour-bucket) — hash-joinable at any scale, vs the
    oracle's nested-loop inequality join which only DuckDB can afford
    at sf0.01."""
    from crypto_data_pipeline_spark.operators.asof import range_join_agg

    ev = load_table(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    out = range_join_agg(
        purch, clicks, on=["user_id"], left_ts="ts", right_ts="ts",
        lower_s=-3600.0, upper_s=0.0,
        aggs=[
            F.count("value_r").alias("n_clicks"),
            F.round(F.coalesce(F.sum("value_r"), F.lit(0.0)), 2).alias("click_value_sum"),
        ],
    )
    return out.select("event_id", "user_id", "n_clicks", "click_value_sum")


# ---------------------------------------------------------------------------
# deterministic sampling / splitting / mixing (EXT-sample)

_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}
_MIX_RATES = {"en": 0.3}


@register(
    "sample_hash_10pct",
    extra=True,
    survey_ids=("EXT-sample",),
    oracle=f"""
SELECT doc_id, lang, source FROM documents
WHERE {sampling.sql_hash_bucket('doc_id', salt=7)} < {int(0.1 * sampling.MOD)}
""",
)
def sample_hash_10pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample of documents by keyed hash — the
    oracle compares exact row MEMBERSHIP, proving the sample is a pure
    function of doc_id, not of partitioning or retries (which
    df.sample cannot promise). Plan: scan + codegen filter, no
    shuffle."""
    docs = _docs(spark, sf_dir)
    return sampling.deterministic_sample(docs, "doc_id", 0.1, salt=7).select(
        "doc_id", "lang", "source"
    )


@register(
    "train_val_test_split",
    extra=True,
    survey_ids=("EXT-sample",),
    oracle=f"""
SELECT {sampling.sql_split_case('doc_id', _SPLITS, salt=11)} AS split, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(n_chars) + 1e-9, 2) AS avg_chars
FROM documents GROUP BY 1, 2
""",
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 split keyed on doc_id: every row gets a stable split
    label; correlated rows (same key) can never straddle splits. The
    per-(split, lang) profile both checks proportions and catches any
    membership drift."""
    docs = _docs(spark, sf_dir)
    labeled = docs.withColumn("split", sampling.split_column(F.col("doc_id"), _SPLITS, salt=11))
    return labeled.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars") + F.lit(1e-9), 2).alias("avg_chars"),
    )


@register(
    "mix_rebalance_langs",
    extra=True,
    survey_ids=("EXT-sample",),
    oracle=f"""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
FROM documents
WHERE {sampling.sql_hash_bucket('doc_id', salt=3)} <
      CASE WHEN lang = 'en' THEN {int(0.3 * sampling.MOD)} ELSE {sampling.MOD} END
GROUP BY 1
""",
)
def mix_rebalance_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture rebalance: down-sample the dominant language
    (en → 30%) while keeping the rest — one scan, the per-stratum
    threshold folded into the pushed-down filter. sum(doc_id) pins
    exact membership per language, not just counts."""
    docs = _docs(spark, sf_dir)
    mixed = sampling.weighted_mix(docs, "doc_id", "lang", _MIX_RATES, salt=3)
    return mixed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("doc_id_sum"),
    )


@register(
    "pack_token_budget",
    # r9 rotation: EXT-sample driver slot passes to
    # dsir_importance_resample (the continuation's flagship sampling
    # operator); EXT-sample keeps five other driver-facing rows and
    # this stays oracle-tested in the catalog suite
    extra=True,
    survey_ids=("EXT-sample",),
    oracle=f"""
WITH t AS (
  SELECT source, doc_id,
         CAST(len(string_split({NORM_SQL}, ' ')) AS BIGINT) AS toks
  FROM documents
), c AS (
  SELECT source, toks,
         sum(toks) OVER (PARTITION BY source ORDER BY doc_id) - toks AS before
  FROM t
)
SELECT source, CAST(before // 2048 AS BIGINT) AS pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(toks) AS BIGINT) AS pack_tokens
FROM c GROUP BY 1, 2
""",
)
def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into contiguous ~2048-token training batches per
    source (operators/sampling.py:pack_sequences): one window cumsum,
    parallel across sources, every pack assignment integer-exact and
    oracle-verified."""
    docs = _docs(spark, sf_dir)
    staged = docs.withColumn("toks", F.size(text.tokens("text")).cast("long"))
    packed = sampling.pack_sequences(staged, "doc_id", "toks", budget=2048, stratum="source")
    return packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("toks").alias("pack_tokens"),
    )


# ---------------------------------------------------------------------------
# catalog introspection (S9)

_TABLE_LIST = "'region','nation','customer','supplier','part','orders','lineitem','events','documents','embeddings'"


@register(
    "catalog_columns",
    survey_ids=("S9",),
    extra=True,  # r6 rotation: S9 driver-covered by data_quality_report
    oracle=f"""
SELECT table_name, CAST(count(*) AS BIGINT) AS n_columns
FROM information_schema.columns
WHERE table_name IN ({_TABLE_LIST})
GROUP BY 1
""",
)
def catalog_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 (notebooks/EDA.ipynb cell 7): the reference's
    information_schema introspection as spark.catalog — register every
    table as a view, answer per-table column counts from DataFrame
    schemas. Catalog metadata is inherently driver-side; the data path
    is untouched."""
    from crypto_data_pipeline_spark.sources.tables import TABLES, register_views

    register_views(spark, sf_dir)
    rows = [(name, len(spark.table(name).columns)) for name in TABLES]
    return spark.createDataFrame(rows, "table_name string, n_columns long")


# ---------------------------------------------------------------------------
# custom stateful streaming


_SESSIONIZE_STATEFUL_ORACLE = """
WITH stamped AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
  FROM events
),
sessions AS (
  SELECT user_id, event_id, us,
         SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM stamped
),
per_session AS (
  SELECT user_id, session_id,
         min(us) AS session_start_us, max(us) AS session_end_us,
         CAST(count(*) AS BIGINT) AS n_events
  FROM sessions GROUP BY 1, 2
),
last AS (SELECT user_id, max(session_id) AS last_id FROM per_session GROUP BY 1)
SELECT p.user_id, p.session_start_us, p.session_end_us, p.n_events
FROM per_session p JOIN last l
  ON p.user_id = l.user_id AND p.session_id <> l.last_id
"""


@register(
    "sessionize_stateful",
    survey_ids=("ST1", "ST2", "EXT-stream"),
    oracle=_SESSIONIZE_STATEFUL_ORACLE,
)
def sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandasWithState gap-sessionizer run as a real
    Structured Streaming query (availableNow over the events parquet,
    exactly-once file sink), returning the closed sessions. With no
    timeout flush, "closed" is exactly "every session except each
    user's trailing one" — an all-integer frame the gaps-and-islands
    SQL twin reproduces, so even the custom state-store operator is
    hash-checked (total_value stays out of the gate projection: its
    float sum order is engine-specific; the batch-equivalence test
    tests/test_sources_streaming.py::test_sessionizer_matches_batch_twin
    covers it)."""
    import tempfile

    from crypto_data_pipeline_spark.sources.tables import load_events_stream
    from crypto_data_pipeline_spark.streaming.sessionize import sessionize_stream

    stream = load_events_stream(spark, sf_dir).select("user_id", "event_id", "ts", "value")
    out_dir = tempfile.mkdtemp(prefix="sessionize_out_")
    ckpt = tempfile.mkdtemp(prefix="sessionize_ckpt_")
    q = (
        sessionize_stream(stream)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).select(
        "user_id", "session_start_us", "session_end_us", "n_events"
    )


_HH_STREAM_SHARDS, _HH_STREAM_CAP = 4, 16


def _hh_stream_oracle() -> str:
    """Single availableNow delivery over one parquet file = ONE
    micro-batch with empty initial state, so the stateful tracker's
    summary is `_mg_merge(empty, shard_substream, cap)` — a
    deterministic function of the key multiset: per-shard counts minus
    the (cap+1)-th largest count (0 if the shard holds <= cap keys),
    keeping strictly-positive remainders. Plain SQL."""
    fold = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(string_split(k, ''), ch -> CAST(ascii(ch) AS BIGINT))), "
        "(h, x) -> (h * 131 + x) % 2147483647)"
    )
    return f"""
WITH toks AS (
  SELECT t AS k FROM (SELECT unnest({TOKENS_SQL}) AS t FROM documents) WHERE t <> ''
),
counts AS (
  SELECT CAST({fold} % {_HH_STREAM_SHARDS} AS INT) AS shard, k,
         CAST(count(*) AS BIGINT) AS c
  FROM toks GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY c DESC, k) AS rn
  FROM counts
),
cut AS (
  SELECT shard, max(CASE WHEN rn = {_HH_STREAM_CAP + 1} THEN c ELSE CAST(0 AS BIGINT) END) AS cutoff
  FROM ranked GROUP BY shard
)
SELECT counts.shard, counts.k, counts.c - cut.cutoff AS mg_count
FROM counts JOIN cut USING (shard)
WHERE counts.c > cut.cutoff
"""


@register(
    "heavy_hitter_stream_tokens",
    extra=True,
    survey_ids=("EXT-stream", "EXT-text"),
    oracle=_hh_stream_oracle(),
)
def heavy_hitter_stream_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STATEFUL STREAMING heavy-hitter tracker
    (`streaming/heavy_hitters.py`) run as a real Structured Streaming
    query: documents stream in via availableNow, tokens hash-shard to
    4 applyInPandasWithState rows, each maintaining a capacity-16
    Misra-Gries summary in the checkpointed state store (bounded
    FOREVER — no watermark needed, unlike the sessionizer). The
    single-delivery summary is a deterministic function of the token
    multiset (one `_mg_merge` per shard), and the portable shard hash
    makes it reproducible shard-for-shard in DuckDB — a custom
    state-store operator whose EMISSIONS hash-check. Multi-delivery /
    restart behavior is pinned by
    tests/test_streaming_heavy_hitters.py."""
    import tempfile

    from crypto_data_pipeline_spark.streaming.heavy_hitters import (
        heavy_hitter_stream,
        latest_summaries,
    )

    schema = _docs(spark, sf_dir).schema
    # glob → the parent dir becomes basePath (file sources need a dir)
    stream = spark.readStream.schema(schema).parquet(f"{sf_dir}/documents.[p]arquet")
    keyed = stream.select(F.explode(text.tokens("text")).alias("k")).where(
        F.col("k") != ""
    )
    out_dir = tempfile.mkdtemp(prefix="hh_stream_out_")
    ckpt = tempfile.mkdtemp(prefix="hh_stream_ckpt_")
    summaries = heavy_hitter_stream(keyed, _HH_STREAM_SHARDS, _HH_STREAM_CAP)

    def land(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    q = (
        summaries.writeStream.foreachBatch(land)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return latest_summaries(spark, out_dir).select("shard", "k", "mg_count")


@register(
    "stream_dedup_idempotent",
    survey_ids=("ST2", "EXT-stream"),
    extra=True,  # r6 rotation: ST2 via dedupe_last_write_wins/sessionize_stateful, EXT-stream via cdc_apply_changes
    oracle="SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1",
)
def stream_dedup_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once redelivery collapsed to exactly-once IN FLIGHT:
    every event is delivered twice (explode — the redelivery simulator)
    and ``dropDuplicatesWithinWatermark`` keeps one copy per event_id,
    holding key state only inside the watermark horizon (bounded state
    — the property that makes streaming dedup viable at 100 TB/day,
    unlike an unbounded dropDuplicates). The sink lands exactly the
    batch table, so per-type counts hash-match the plain batch oracle.
    """
    import tempfile

    from crypto_data_pipeline_spark.sources.tables import load_events_stream

    stream = load_events_stream(spark, sf_dir).select("event_id", "event_type", "ts")
    redelivered = stream.withColumn("_copy", F.explode(F.array(F.lit(1), F.lit(2)))).drop(
        "_copy"
    )
    deduped = redelivered.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out_dir = tempfile.mkdtemp(prefix="stream_dedup_out_")
    ckpt = tempfile.mkdtemp(prefix="stream_dedup_ckpt_")
    q = (
        deduped.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# multimodal plumbing


@register(
    "multimodal_ingest",
    extra=True,
    survey_ids=("EXT-mm",),
    oracle="""
SELECT doc_id,
       'fake/bin' AS format,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents
""",
)
def multimodal_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column + typed metadata struct (schema plumbing)."""
    media = multimodal.fake_media_from_documents(_docs(spark, sf_dir))
    return media.select("doc_id", F.col("meta.format").alias("format"), F.col("meta.n_bytes").alias("n_bytes"))


@register(
    "multimodal_features",
    extra=True,
    survey_ids=("EXT-mm",),
    oracle="""
WITH blobs AS (
  SELECT doc_id, encode(text) AS b, CAST(octet_length(encode(text)) AS BIGINT) AS n
  FROM documents
),
bytes AS (
  SELECT doc_id, n, substr(hex(b), 2*i+1, 2) AS bh
  FROM blobs, UNNEST(range(0, n)) AS t(i)
),
freq AS (
  SELECT doc_id, n, bh, count(*) AS c FROM bytes GROUP BY doc_id, n, bh
)
SELECT doc_id,
       n AS n_bytes,
       'application/octet-stream' AS format,
       CAST(count(*) AS INT) AS n_distinct_bytes,
       round(-sum((c / CAST(n AS DOUBLE)) * log2(c / CAST(n AS DOUBLE))), 6) AS byte_entropy
FROM freq GROUP BY doc_id, n
""",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-free byte-level features over binary blobs via mapInPandas
    (numpy histogram per Arrow batch): size, magic-number format sniff,
    distinct byte count, Shannon byte entropy. The entropy oracle
    re-derives byte frequencies in SQL from the hex expansion of the
    same blob, so the Arrow plumbing is value-checked end to end (6 dp
    rounding absorbs libm log2 ulp differences)."""
    media = multimodal.fake_media_from_documents(_docs(spark, sf_dir))
    feats = multimodal.extract_media_features(media)
    return feats.select(
        "doc_id", "n_bytes", "format", "n_distinct_bytes",
        F.round("byte_entropy", 6).alias("byte_entropy"),
    )


# ---------------------------------------------------------------------------
# merged driver-facing queries: the driver's CORRECTNESS gate checks at
# most registry.DRIVER_CAP entries, so the per-doc text / sampling /
# multimodal scalars are ALSO exposed as single wide frames (one gate
# slot each). The granular single-concern variants above stay registered
# as extra=True — still oracle-tested locally and usable for debugging.

_TEXT_METRICS_ORACLE = f"""
WITH q AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars_calc,
         CAST(len({TOKENS_SQL}) AS BIGINT) AS n_words,
         CAST(length(text) - length(regexp_replace(text, '[!?.,;:]', '', 'g')) AS DOUBLE)
           / length(text) AS punct_ratio,
         CAST(len(list_filter({TOKENS_SQL}, t -> t IN {STOPWORDS["en"]})) AS DOUBLE)
           / len({TOKENS_SQL}) AS stopword_ratio,
         CAST(list_sum(list_transform({TOKENS_SQL}, t -> length(t))) AS DOUBLE)
           / len({TOKENS_SQL}) AS mean_word_len,
         {_lang_case_sql()} AS lang_pred,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS re_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS BIGINT) AS n_email,
         CAST(len(regexp_extract_all(text, '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b')) AS BIGINT) AS n_ipv4,
         CAST(len(regexp_extract_all(text, '\\d{{9,}}')) AS BIGINT) AS n_idnum,
         md5(regexp_replace(
               regexp_replace(
                 regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
                 '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b', '<IP>', 'g'),
               '\\d{{9,}}', '<ID>', 'g')) AS redacted_md5,
         md5({NORM_SQL}) AS fingerprint,
         lang
  FROM documents
),
scored AS (
  SELECT *,
         round(0.3 * least(CAST(n_words AS DOUBLE) / 200, 1.0)
               + 0.3 * (1 - punct_ratio)
               + 0.4 * least(stopword_ratio * 5, 1.0), 6) AS quality_score
  FROM q
),
r AS ({_ROLLING_FP_ORACLE})
SELECT scored.*, r.rolling_min_hash, r.n_grams
FROM scored JOIN r USING (doc_id)
"""


@register("text_metrics", survey_ids=("EXT-text",), oracle=_TEXT_METRICS_ORACLE)
def text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole per-document text-analysis battery in ONE pass over
    ``documents`` — quality stats + composite score, stopword-hit
    language ID, dual tokenizer counts, PII match counts + redacted-text
    md5, content fingerprint, and the Rabin-Karp rolling fingerprint —
    every column the codegen twin of the granular extra=True queries
    above. One scan, zero shuffles, one gate slot."""
    df = text.with_quality_score(text.with_text_stats(_docs(spark, sf_dir)))
    df = text.with_lang_id(df)
    df = text.with_token_counts(df)
    df = text.with_redactions(df)
    df = text.with_fingerprint(df)
    df = text.with_rolling_fingerprint(df)
    return df.select(
        "doc_id", "lang", "n_chars_calc", "n_words", "punct_ratio",
        "stopword_ratio", "mean_word_len", "quality_score", "lang_pred",
        "re_tokens", "n_email", "n_ipv4", "n_idnum",
        F.md5("redacted").alias("redacted_md5"),
        "fingerprint", "rolling_min_hash", "n_grams",
    )


def _mix_threshold_ctes(source: str, c: str = "c", t: str = "t", r: str = "r",
                        alpha: float = 0.3, budget: float = 0.5) -> str:
    """CTE chain computing the temperature-mix per-language keep
    threshold over ``source`` — the ONE spelling shared by the
    standalone mix oracle and the composed curation oracle (whose
    census runs over the near-dup survivors, not raw documents). A
    default change in temperature_mix_flags must be mirrored here
    exactly once."""
    return f"""{c} AS (SELECT lang, count(*) AS n FROM {source} GROUP BY 1),
{t} AS (SELECT sum(n) AS tot, sum(pow(CAST(n AS DOUBLE), {alpha})) AS zraw FROM {c}),
{r} AS (
  SELECT lang,
         CAST(round(least(1.0,
               {budget} * tot * (pow(CAST(n AS DOUBLE), {alpha}) / zraw) / n) * {sampling.MOD})
              AS BIGINT) AS thresh
  FROM {c}, {t}
)"""


def _mix_keep_sql(id_expr: str, salt: int = 17) -> str:
    return f"CAST({sampling.sql_hash_bucket(id_expr, salt=salt)} < r.thresh AS INT)"


def _order_ctes(source: str, h: str = "h", ord_: str = "ord",
                n_shards: int = 8, salt_shard: int = 13, salt_order: int = 14) -> str:
    """CTE chain for the reproducible training order (shard + in-shard
    rank) over ``source`` — shared by training_order_shuffle and the
    curation oracle. Avalanche hashes (round 12), in lockstep with
    sampling.training_order: a permutation is a joint statistic and
    the affine order is a 3-gap lattice, not a shuffle."""
    return f"""{h} AS (
  SELECT doc_id,
         {sampling.sql_avalanche_bucket('doc_id', salt=salt_shard)} AS hs,
         {sampling.sql_avalanche_bucket('doc_id', salt=salt_order)} AS ho
  FROM {source}
),
{ord_} AS (
  SELECT doc_id, CAST(hs % {n_shards} AS INT) AS shard,
         CAST(row_number() OVER (PARTITION BY hs % {n_shards} ORDER BY ho, doc_id) AS INT) AS pos
  FROM {h}
)"""


@register(
    "mix_temperature_sampling",
    survey_ids=("EXT-sample",),
    extra=True,
    oracle=f"""
WITH {_mix_threshold_ctes('documents')}
SELECT d.doc_id, d.lang,
       {_mix_keep_sql('d.doc_id')} AS keep_temp
FROM documents d JOIN r USING (lang)
""",
)
def mix_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha=0.3) multilingual mix at half budget
    (operators/sampling.py:temperature_mix_flags): tail languages
    up-sampled toward uniform, every keep decision a deterministic
    hash bit the oracle re-derives. Census groupBy + broadcast
    threshold join — the corpus never shuffles."""
    return sampling.temperature_mix_flags(_docs(spark, sf_dir))


@register(
    "contamination_semantic",
    survey_ids=("EXT-sim",),
    extra=True,
    oracle="""
WITH bench AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE label = 0),
corpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE label <> 0),
scored AS (
  SELECT c.vec_id,
         round(max(list_dot_product(c.v, b.v)
               / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(b.v, b.v)))), 6) AS mx
  FROM corpus c CROSS JOIN bench b
  GROUP BY 1
)
SELECT vec_id, mx AS max_benchmark_cosine, mx >= 0.4 AS is_contaminated
FROM scored
""",
)
def contamination_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination
    (operators/contamination.py:semantic_contamination): label-0
    embeddings stand in as the eval benchmark, every other vector gets
    its max benchmark cosine and a contamination flag. The benchmark
    rides one broadcast collect_list row; the corpus never shuffles."""
    embs = _embs(spark, sf_dir)
    return contamination.semantic_contamination(
        embs.where(F.col("label") != 0), embs.where(F.col("label") == 0)
    )


@register(
    "training_order_shuffle",
    survey_ids=("EXT-sample",),
    extra=True,
    oracle=f"""
WITH {_order_ctes('documents')}
SELECT doc_id, shard, pos FROM ord
""",
)
def training_order_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible pseudorandom training order
    (operators/sampling.py:training_order): shard + within-shard
    position from two independently-salted portable hashes — the
    decorrelate-then-export step before feeding a data loader, stable
    under retries and epoch-reshufflable by salt. Every (shard, pos)
    assignment hash-checks against the DuckDB twin."""
    return sampling.training_order(_docs(spark, sf_dir))


@register(
    "sampling_membership",
    survey_ids=("EXT-sample",),
    oracle=f"""
SELECT doc_id, lang, source,
       CAST({sampling.sql_hash_bucket('doc_id', salt=7)} < {int(0.1 * sampling.MOD)} AS INT) AS in_10pct,
       {sampling.sql_split_case('doc_id', _SPLITS, salt=11)} AS split,
       CAST({sampling.sql_hash_bucket('doc_id', salt=3)} <
            CASE WHEN lang = 'en' THEN {int(0.3 * sampling.MOD)} ELSE {sampling.MOD} END AS INT) AS mix_keep
FROM documents
""",
)
def sampling_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every deterministic sampling decision as per-row flags in one
    frame: ~10% keyed sample membership (salt 7), the 80/10/10
    train/val/test label (salt 11), and the language-rebalance keep flag
    (en → 30%, salt 3). The oracle hash-compares EVERY row's decision
    bits, which is a strictly stronger check than the filtered variants
    (extra=True above) — membership of all three operators proven from
    one scan with no shuffle."""
    docs = _docs(spark, sf_dir)
    b7 = sampling.hash_bucket(F.col("doc_id"), salt=7)
    b3 = sampling.hash_bucket(F.col("doc_id"), salt=3)
    mix_thresh = F.when(
        F.col("lang") == "en", F.lit(int(0.3 * sampling.MOD))
    ).otherwise(F.lit(sampling.MOD))
    return docs.select(
        "doc_id", "lang", "source",
        (b7 < F.lit(int(0.1 * sampling.MOD))).cast("int").alias("in_10pct"),
        sampling.split_column(F.col("doc_id"), _SPLITS, salt=11).alias("split"),
        (b3 < mix_thresh).cast("int").alias("mix_keep"),
    )


def _unpersist(frames) -> None:
    for df in frames:
        df.unpersist()


def _dsir_staged(spark: SparkSession, sf_dir: str) -> tuple:
    """The serve store's ``dsir`` entry: the persisted (feats, model,
    weighted) triple the DSIR queries serve from — one tokenization
    pass, one fit, and one scoring join per (session, corpus). The
    features feed the target fit, the source fit AND the scorer
    (without the persist each consumer re-tokenizes the corpus).
    ``weighted`` is persisted because the quantile selection scans it
    more than once — without the persist each scan would replay the
    scoring join."""
    docs = _docs(spark, sf_dir)

    def build(_tmp: str) -> tuple:
        feats = dsir.dsir_features(docs).persist()
        target = docs.where(F.col("lang") == "en").select(F.col("doc_id").alias("id"))
        model = dsir.dsir_bucket_logratio(feats.join(target, "id"), feats).persist()
        weighted = dsir.dsir_importance_weights(docs, model, feats=feats).persist()
        return feats, model, weighted

    return serve_store.serve(spark, sf_dir, "dsir", ("documents",), build, release=_unpersist)


def _dsir_oracle(
    n_buckets: int = 4096,
    keep_fraction: float = 0.25,
    gumbel_salt: int | None = None,
    selection: str = "threshold",
) -> str:
    """DuckDB twin of the FULL DSIR pipeline: hashed unigram+bigram
    features under the portable polynomial hash, add-one-smoothed
    bucket log-ratios (target = lang='en'), per-doc weights rounded
    6 dp (the quality_unigram_logprob float device — addends are O(1)
    logs, association noise ~1e-14), and the selection. ``selection``
    mirrors the two Spark paths: 'threshold' (default, the
    dsir_resample_quantile twin) keeps weight >= the exact
    k-th-largest weight — ties at the cutoff all kept, no rank column;
    'rank' (the dsir_resample twin) emits the total order with the
    doc-id tiebreak. The threshold cutoff coalesces to +infinity when
    the kept set is empty (keep_fraction=0) — same contract as
    dsir_kth_weight, so kept is uniformly false, never NULL. ``gumbel_salt`` switches the selection column to
    the Gumbel-top-k key from the portable sampling hash — rank is the
    dsir_resample_gumbel twin, threshold the
    dsir_resample_gumbel_quantile twin. The twin's model CTE covers
    only OCCUPIED buckets where the Spark model spans all n_buckets
    (operators/dsir.py:dsir_bucket_logratio) — equivalent here by
    construction: the scoring join only ever references buckets this
    same corpus's features occupy; the full range exists for
    serve-time docs outside the fit corpus, which this query has
    none of."""
    m = dedup.PORTABLE_MOD
    base = dedup.PORTABLE_BASE
    poly = f"(h, x) -> (h * {base} + x) % {m}"
    if gumbel_salt is None:
        key_col = "weight"
        key_sel = ""
        cols = "doc_id, n_features, weight"
    else:
        u = f"(({sampling.sql_avalanche_bucket('doc_id', salt=gumbel_salt)}) + 0.5) / {float(sampling.MOD)!r}"
        key_col = "key"
        key_sel = f", round(weight - ln(-ln({u})), 6) AS key"
        cols = "doc_id, n_features, weight, key"
    if selection == "threshold":
        tail = f"""
SELECT {cols},
       {key_col} >= coalesce((
         SELECT min({key_col}) FROM (
           SELECT {key_col},
                  row_number() OVER (ORDER BY {key_col} DESC, doc_id) AS rn,
                  count(*) OVER () AS n
           FROM weighted
         ) WHERE rn <= ceil(n * {keep_fraction})
       ), 'infinity'::DOUBLE) AS kept
FROM weighted
"""
    else:
        tail = f"""
SELECT {cols},
       CAST(row_number() OVER (ORDER BY {key_col} DESC, doc_id) AS INT) AS rank,
       row_number() OVER (ORDER BY {key_col} DESC, doc_id)
         <= ceil(count(*) OVER () * {keep_fraction}) AS kept
FROM weighted
"""
    return f"""
WITH t0 AS (SELECT doc_id, lang, {TOKENS_SQL} AS toks FROM documents),
grams AS (
  SELECT doc_id, unnest(list_concat(toks,
           CASE WHEN len(toks) >= 2
                THEN list_transform(range(len(toks) - 1), i -> toks[i + 1] || ' ' || toks[i + 2])
                ELSE [] END)) AS g
  FROM t0
),
feats AS (
  SELECT doc_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(g, ''), ch -> CAST(ascii(ch) AS BIGINT))),
                     {poly}) % {n_buckets} AS bucket,
         count(*) AS cnt
  FROM grams GROUP BY 1, 2
),
tc AS (
  SELECT f.bucket, sum(f.cnt) AS c_t
  FROM feats f JOIN t0 USING (doc_id) WHERE t0.lang = 'en' GROUP BY 1
),
sc AS (SELECT bucket, sum(cnt) AS c_s FROM feats GROUP BY 1),
model AS (
  SELECT coalesce(tc.bucket, sc.bucket) AS bucket,
         ln((CAST(coalesce(c_t, 0) AS DOUBLE) + 1)
            / ((SELECT CAST(sum(c_t) AS DOUBLE) FROM tc) + {n_buckets}))
         - ln((CAST(coalesce(c_s, 0) AS DOUBLE) + 1)
              / ((SELECT CAST(sum(c_s) AS DOUBLE) FROM sc) + {n_buckets})) AS log_ratio
  FROM tc FULL OUTER JOIN sc ON tc.bucket = sc.bucket
),
scored AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_features,
         round(sum(cnt * log_ratio), 6) AS weight
  FROM feats JOIN model USING (bucket) GROUP BY 1
),
weighted AS (
  SELECT d.doc_id,
         coalesce(s.n_features, CAST(0 AS BIGINT)) AS n_features,
         coalesce(s.weight, 0.0) AS weight{key_sel}
  FROM documents d LEFT JOIN scored s USING (doc_id)
){tail}"""


@register(
    "dsir_importance_resample",
    # r9 rotation: seated in the driver gate in pack_token_budget's
    # EXT-sample slot — the continuation's flagship sampling operator,
    # hash-checked by the driver every round from here on; bench=True
    # because gate queries are bench-observable by default (r8 review)
    survey_ids=("EXT-sample", "EXT-text"),
    oracle=_dsir_oracle(),
    bench=True,
)
def dsir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023): importance resampling of the raw corpus
    toward a target distribution (here lang='en' documents) in a
    hashed unigram+bigram feature space (operators/dsir.py). The
    log-ratio model is n_buckets-bounded — a CONFIG parameter like the
    BPE merge count, not a vocabulary-proportional structure, so its
    scoring join broadcasts at any corpus size by construction.
    Selection is the SCALE path (round-10 rewrite of the round-9
    global-window flaw): the exact 75th-percentile weight cutoff from
    dsir_kth_weight's bounded histogram refinement, applied as a pure
    per-row predicate — no WindowExec anywhere in the plan (the plan
    doctor screens for it). The whole pipeline — portable-hash
    features, smoothed fit, per-doc weights, threshold selection with
    ties-all-kept — hash-checks against the DuckDB twin; the total-
    order variant lives on as the dsir_resample_exact extra."""
    feats, model, weighted = _dsir_staged(spark, sf_dir)
    return dsir.dsir_resample_quantile(weighted)


@register(
    "dsir_resample_exact",
    extra=True,
    survey_ids=("EXT-sample",),
    oracle=_dsir_oracle(selection="rank"),
)
def dsir_resample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic exact-top-k twin of dsir_importance_resample:
    total order by (weight desc, doc_id), rank column included — the
    driver-SF oracle anchor that pins the quantile path's cutoff
    semantics (its min kept weight IS the threshold the gate query
    inlines). Ranks through a DECLARED single-partition window
    (plan-doctor GLOBAL_WINDOW_OK) — oracle-twin duty at driver SFs,
    never the production selection."""
    feats, model, weighted = _dsir_staged(spark, sf_dir)
    return dsir.dsir_resample(weighted)


@register(
    "dsir_resample_gumbel",
    extra=True,
    survey_ids=("EXT-sample",),
    oracle=_dsir_oracle(gumbel_salt=17, selection="rank"),
)
def dsir_resample_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR with the paper's Gumbel-top-k selection (sampling without
    replacement proportional to exp(weight)), seeded through the
    portable sampling hash so a (corpus, salt) pair always draws the
    same sample and a new salt draws an independent one — the
    diversity-preserving sibling of dsir_resample_exact's argmax
    top-k, sharing the cached (feats, model, weighted) triple.
    Hash-checked end to end: the DuckDB twin re-derives the Gumbel
    keys from the same integer hash. Global-rank oracle twin
    (GLOBAL_WINDOW_OK); dsir_resample_gumbel_quantile is the scale
    path over the same keys."""
    feats, model, weighted = _dsir_staged(spark, sf_dir)
    return dsir.dsir_resample_gumbel(weighted, salt=17)


@register(
    "dsir_resample_gumbel_quantile",
    extra=True,
    survey_ids=("EXT-sample",),
    oracle=_dsir_oracle(gumbel_salt=17),
)
def dsir_resample_gumbel_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gumbel draw at scale: identical seeded keys to
    dsir_resample_gumbel, selected by the exact k-th-largest key from
    the histogram refinement — no window in the plan, so the per-epoch
    reshuffle-by-salt device survives corpus scale. Hash-checked
    against a DuckDB twin that re-derives keys AND the threshold."""
    feats, model, weighted = _dsir_staged(spark, sf_dir)
    return dsir.dsir_resample_gumbel_quantile(weighted, salt=17)


@register(
    "weighted_sample_docs",
    extra=True,
    survey_ids=("EXT-sample",),
    oracle=f"""
WITH t AS (
  SELECT doc_id, CAST(length(text) AS DOUBLE) AS weight,
         {sampling.sql_weighted_priority('doc_id', 'CAST(length(text) AS DOUBLE)', salt=13)} AS priority
  FROM documents WHERE length(text) > 0
)
SELECT doc_id, weight, priority FROM t ORDER BY priority, doc_id LIMIT 50
""",
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis
    A-ES, exponential-jumps form): 50 documents drawn with inclusion
    probability proportional to text length, the draw decided by the
    engine-portable avalanche uniform — so the oracle replays EXACT sample
    membership, priorities included, not just counts
    (`operators/sampling.py:weighted_sample`). Plans as TakeOrdered:
    each partition ships only its local candidates, no global sort."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.length("text").cast("double").alias("weight")
    )
    out = sampling.weighted_sample(
        docs, "doc_id", "weight", n=50, salt=13, priority_col="priority"
    )
    return out.select("doc_id", "weight", "priority")


@register(
    "multimodal_pipeline",
    survey_ids=("EXT-mm",),
    oracle="""
WITH blobs AS (
  SELECT doc_id, encode(text) AS b, CAST(octet_length(encode(text)) AS BIGINT) AS n
  FROM documents
),
bytes AS (
  SELECT doc_id, n, substr(hex(b), 2*i+1, 2) AS bh
  FROM blobs, UNNEST(range(0, n)) AS t(i)
),
freq AS (
  SELECT doc_id, n, bh, count(*) AS c FROM bytes GROUP BY doc_id, n, bh
)
SELECT doc_id,
       'fake/bin' AS meta_format,
       n AS n_bytes,
       'application/octet-stream' AS format,
       CAST(count(*) AS INT) AS n_distinct_bytes,
       round(-sum((c / CAST(n AS DOUBLE)) * log2(c / CAST(n AS DOUBLE))), 6) AS byte_entropy
FROM freq GROUP BY doc_id, n
""",
)
def multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal ingest + codec-free featurization end to end in one
    gate slot: binary media column with typed metadata struct (the
    ingest plumbing — meta_format / n_bytes come from the codegen
    octet_length path), then Arrow-batched mapInPandas byte features
    (format sniff, distinct byte count, Shannon entropy re-derived by
    the oracle from the hex expansion of the same blob). Covers both
    extra=True multimodal variants above."""
    media = multimodal.fake_media_from_documents(_docs(spark, sf_dir))
    feats = multimodal.extract_media_features(media)
    meta = media.select(
        "doc_id",
        F.col("meta.format").alias("meta_format"),
        F.col("meta.n_bytes").alias("meta_n_bytes"),
    )
    return feats.join(meta, "doc_id").select(
        "doc_id", "meta_format",
        F.col("meta_n_bytes").alias("n_bytes"),
        "format", "n_distinct_bytes",
        F.round("byte_entropy", 6).alias("byte_entropy"),
    )


# ---------------------------------------------------------------------------
# benchmark contamination (EXT-text / EXT-dedup): n-gram overlap screening

_SHINGLE_SQL = f"""
  SELECT doc_id AS id,
         CASE WHEN len({TOKENS_SQL}) >= 3
              THEN list_distinct(list_transform(range(len({TOKENS_SQL}) - 2),
                     i -> array_to_string(list_slice({TOKENS_SQL}, i + 1, i + 3), ' ')))
              ELSE [array_to_string({TOKENS_SQL}, ' ')]
         END AS sh
  FROM documents
"""

_CONTAMINATION_ORACLE = f"""
WITH sh AS ({_SHINGLE_SQL}),
bench AS (SELECT DISTINCT unnest(sh) AS sg FROM sh WHERE id % 97 = 0),
corp AS (SELECT id, len(sh) AS n_grams, unnest(sh) AS sg FROM sh WHERE id % 97 <> 0)
SELECT corp.id AS doc_id,
       CAST(count(*) AS BIGINT) AS n_hits,
       CAST(n_grams AS BIGINT) AS n_grams,
       round(CAST(count(*) AS DOUBLE) / n_grams, 6) AS contamination_ratio
FROM corp JOIN bench USING (sg)
GROUP BY 1, corp.n_grams
"""


@register(
    "contamination_ngram",
    survey_ids=("EXT-text", "EXT-dedup"),
    extra=True,
    oracle=_CONTAMINATION_ORACLE,
)
def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screening: every ~1%-of-corpus document
    (doc_id % 97 == 0) plays the held-out eval set; the rest is the
    training corpus. A corpus doc is reported with how many of its
    distinct word 3-grams appear verbatim anywhere in the benchmark —
    the GPT-3/PaLM decontamination primitive. The benchmark n-gram set
    broadcasts (eval suites are tiny vs the corpus), so the corpus
    never shuffles to find candidates."""
    docs = _docs(spark, sf_dir)
    bench = docs.where((F.col("doc_id") % 97) == 0)
    corpus = docs.where((F.col("doc_id") % 97) != 0)
    return contamination.contamination_hits(corpus, bench)


@register(
    "interval_join_pairs",
    survey_ids=("EXT-stream", "EXT-asof"),
    extra=True,
    oracle="""
WITH purch AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'click'
)
SELECT p.event_id, p.user_id,
       epoch_us(p.ts) AS purchase_us,
       epoch_us(c.ts) AS click_us,
       c.value AS click_value
FROM purch p JOIN clicks c
  ON p.user_id = c.user_id
 AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 3600000000 AND epoch_us(p.ts)
""",
)
def interval_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval join
    (streaming/joins.py:click_purchase_pairs): every (purchase, click)
    pair where the click fell in the preceding hour. The SAME plan
    function runs as a watermarked symmetric-hash streaming join —
    tests/test_streaming_join.py proves the streaming result equals
    this frame — so the oracle here certifies both executions."""
    from crypto_data_pipeline_spark.streaming.joins import click_purchase_pairs

    return click_purchase_pairs(load_table(spark, sf_dir, "events"))


@register(
    "zorder_cluster_keys",
    survey_ids=("EXT-olap",),
    extra=True,
    oracle="""
WITH b AS (
  SELECT CAST(min(user_id) AS DOUBLE) AS xmin, CAST(max(user_id) AS DOUBLE) AS xmax,
         min(value) AS vmin, max(value) AS vmax
  FROM events WHERE value IS NOT NULL
),
q AS (
  SELECT event_id,
         least(greatest(CAST(floor((CAST(user_id AS DOUBLE) - xmin) / (xmax - xmin + 1e-9) * 65536) AS BIGINT),
                        CAST(0 AS BIGINT)), CAST(65535 AS BIGINT)) AS zx,
         least(greatest(CAST(floor((value - vmin) / (vmax - vmin + 1e-9) * 65536) AS BIGINT),
                        CAST(0 AS BIGINT)), CAST(65535 AS BIGINT)) AS zy
  FROM events, b WHERE value IS NOT NULL
)
SELECT event_id, zx, zy,
       CAST(list_sum(list_transform(range(16), i ->
            (((zx >> i) & 1) << (2 * i)) | (((zy >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS z
FROM q
""",
)
def zorder_cluster_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-order clustering key for every event over the
    (user_id, value) plane — the layout key write_zordered
    (sources/zorder.py) range-partitions files on so parquet footer
    stats prune on BOTH dimensions. Quantizer bounds ride a broadcast
    1-row aggregate; bucketize + bit interleave are pure IEEE/bit
    expressions the oracle mirrors term for term."""
    from crypto_data_pipeline_spark.sources.zorder import bucketize, zvalue

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_id", "user_id", "value")
    )
    bounds = ev.agg(
        F.min("user_id").alias("_xmin"), F.max("user_id").alias("_xmax"),
        F.min("value").alias("_ymin"), F.max("value").alias("_ymax"),
    )
    return (
        ev.crossJoin(F.broadcast(bounds))
        .withColumn("zx", bucketize(F.col("user_id"), F.col("_xmin"), F.col("_xmax")))
        .withColumn("zy", bucketize(F.col("value"), F.col("_ymin"), F.col("_ymax")))
        .select("event_id", "zx", "zy", zvalue(F.col("zx"), F.col("zy")).alias("z"))
    )


# avalanche (round 12), in lockstep with stratified_fixed_n: a quota
# is a top-n across keys — the affine rank order is systematic
_FIXED_N_HASH = sampling.sql_avalanche_bucket("doc_id", salt=19)


@register(
    "stratified_sample_fixed_n",
    extra=True,
    survey_ids=("EXT-sample",),
    oracle=f"""
SELECT doc_id, lang
FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY {_FIXED_N_HASH}, doc_id) AS rn
  FROM documents
)
WHERE rn <= 20
""",
)
def stratified_sample_fixed_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-20-docs-per-language quota sample — eval sets want
    fixed counts, not rates (operators/sampling.py stratified_fixed_n:
    deterministic hash order, WindowGroupLimit caps each map task at n
    rows per stratum before the shuffle). The oracle replays every
    selection decision bit-for-bit via the shared avalanche hash."""
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return sampling.stratified_fixed_n(docs, "doc_id", "lang", 20, salt=19)


# ---------------------------------------------------------------------------
# the flagship composition: the WHOLE curation pipeline as one DAG


def _curation_oracle() -> str:
    """Composed DuckDB twin of the full curation pipeline. Every stage
    reuses the already-proven fragment: the quality-rule battery
    (generated from text.QUALITY_RULES), min-id exact survivorship,
    the portable MinHash-LSH pipeline re-sourced over the exact
    survivors, the temperature-mix thresholds over the NEAR-DUP
    survivor census (stage order matters: the census shifts as
    upstream stages drop rows), and the training-order hashes over the
    final keep set. NULL-bearing outputs (shard/pos of dropped docs)
    coalesce to -1 in both engines."""
    inner = _portable_minhash_oracle(source="exk")
    return f"""
WITH stats AS ({_QUALITY_FILTER_ORACLE}),
q AS (
  SELECT d.doc_id, d.lang, d.text, s.keep AS q_keep
  FROM documents d JOIN stats s USING (doc_id)
),
ex AS (
  SELECT doc_id, CAST(rn = 1 AS INT) AS ex_keep FROM (
    SELECT doc_id,
           row_number() OVER (PARTITION BY md5({NORM_SQL}) ORDER BY doc_id) AS rn
    FROM q WHERE q_keep = 1
  )
),
exk AS (
  SELECT q.doc_id, q.lang, q.text
  FROM q JOIN ex USING (doc_id) WHERE ex.ex_keep = 1
),
pairs AS ({inner}),
nd AS (
  SELECT exk.doc_id, exk.lang FROM exk
  WHERE exk.doc_id NOT IN (SELECT id_b FROM pairs)
),
{_mix_threshold_ctes('nd', t='tt')},
mix AS (
  SELECT nd.doc_id,
         {_mix_keep_sql('nd.doc_id')} AS mix_keep
  FROM nd JOIN r USING (lang)
),
{_order_ctes('(SELECT doc_id FROM mix WHERE mix_keep = 1)')}
SELECT q.doc_id, q.lang, q.q_keep,
       coalesce(ex.ex_keep, 0) AS ex_keep,
       CASE WHEN nd.doc_id IS NULL THEN 0 ELSE 1 END AS nd_keep,
       coalesce(mix.mix_keep, 0) AS mix_keep,
       coalesce(ord.shard, -1) AS shard,
       coalesce(ord.pos, -1) AS pos
FROM q
LEFT JOIN ex  ON ex.doc_id = q.doc_id
LEFT JOIN nd  ON nd.doc_id = q.doc_id
LEFT JOIN mix ON mix.doc_id = q.doc_id
LEFT JOIN ord ON ord.doc_id = q.doc_id
"""


@register(
    "corpus_curation_pipeline",
    survey_ids=("EXT-text", "EXT-dedup", "EXT-sample"),
    bench=True,
    oracle=_curation_oracle(),
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation DAG a training-data pipeline actually
    runs, as ONE query: quality-rule battery -> exact dedup (min-id
    survivor per md5 group) -> near-dup drop (portable MinHash-LSH,
    upper-triangular rule) -> temperature-scaled language mix computed
    over the SURVIVOR census -> reproducible training order for the
    final keep set. Output is the per-document decision record — why
    each doc was kept or dropped, and where the kept ones land
    (shard, pos); -1 marks never-reached stages.

    Each stage is the registered operator, so the composition adds no
    new primitives — what it proves is the STAGE WIRING (drop-order
    semantics, censuses over survivors rather than the raw corpus),
    hash-checked end to end against the composed oracle. Scale: the
    stages' own designs (one scan for quality, one md5 groupBy, banded
    LSH, census broadcast, shard-partitioned ranks); the decision
    record joins are all on doc_id and AQE broadcasts the
    stage-shrunk sides."""
    staged, _rates, mix, order = serve_store.serve(
        spark, sf_dir, "curation", ("documents",),
        lambda _tmp: _curation_build(_docs(spark, sf_dir)),
        release=_release_curation,
    )
    return curation_decision_record(staged, mix=mix, order=order)


def _curation_build(docs: DataFrame) -> tuple:
    """The serve store's ``curation`` entry: the persisted stage frames
    (`curation_stages`) plus the serve frames (rates, mix, order)
    materialized from them — all pure functions of the near-dup
    survivor set (exk anti dominated), so serving them from the cold
    build is value-identical and the steady assembly neither evaluates
    the mix subtree twice (its own join + training_order's input) nor
    re-runs the shard-rank windows per call."""
    staged = curation_stages(docs)
    # The signature frame's only consumer is `dominated`: materialize
    # it (executes the frame's own QueryExecution, no rows to the
    # driver) and release sigs immediately — at 20M docs the ~12 GB
    # cached signature frame otherwise pressures the storage pool
    # through every later assembly (measured — docs/SCALE_PROBE.md
    # round 12). The tuple keeps the released handle; the entry's
    # release unpersists it again, a no-op.
    staged[3]._jdf.queryExecution().toRdd().count()
    staged[4].unpersist()
    ndk = staged[2].join(F.broadcast(staged[3]), "doc_id", "left_anti")
    rates = sampling.temperature_mix_rates(ndk).persist()
    rates._jdf.queryExecution().toRdd().count()
    mix = sampling.temperature_mix_flags(ndk, keep_all=True, rates=rates).persist()
    mix._jdf.queryExecution().toRdd().count()
    order = sampling.training_order(mix.where(F.col("keep_temp") == 1)).persist()
    order._jdf.queryExecution().toRdd().count()
    return staged, rates, mix, order


def _release_curation(entry: tuple) -> None:
    (q, _ex, exk, dominated, sigs), rates, mix, order = entry  # ex is never persisted
    _unpersist((q, exk, dominated, sigs, rates, mix, order))


def curation_stages(
    docs: DataFrame, max_rows_per_cache_partition: int | None = 100_000
) -> tuple:
    """The pipeline's persisted stage frames — (q, ex, exk, dominated,
    sigs) — extracted (round 11) so tools/curation_scale_probe.py measures
    the COMPOSED pipeline on the operator's own code path, not a
    probe-local copy. q fans out to 2 consumers and exk to 3 (pairs,
    anti join, and the decision-record join) — both persist so the
    quality battery and the dedup window evaluate once, not per branch
    (measured 15s -> ~7s at sf0.1). The dominated-id set is tiny but
    its lineage is the whole LSH DAG — persist it or every downstream
    branch (mix census, final join, training order) re-runs the
    banding+verify pipeline. Callers own the persists: the registered
    query keeps them in the serve store's ``curation`` entry, which
    unpersists them on evict; the probe unpersists explicitly per N.

    ``max_rows_per_cache_partition`` (round 12; VERDICT r11 next #4)
    bounds the PERSISTED stages' partition sizes: the full-text q and
    exk frames inherit the input's partitioning, and a wide-partition
    corpus (e.g. a generated 20M-doc frame in spark.range's 32
    partitions — 625k rows ≈ 300 MB deserialized PER CACHED BLOCK)
    GC-thrashed a 16g heap to OOM in the round-11 probe before the
    probe repartitioned around it. The bound now lives in the
    pipeline: when ceil(n_docs / bound) exceeds the input's partition
    count, q and exk repartition to it before persisting (one
    round-robin Exchange in the BUILD, amortized like the persists
    themselves); otherwise the plan is untouched — parquet scans are
    already byte-bounded by maxPartitionBytes, so the bench plans gain
    no Exchange. Heap math for a single 64 GiB JVM at 20M docs
    (docs/SCALE_PROBE.md round 11): ~3 resident text copies (docs, q,
    exk) ⇒ ≤100k rows/partition keeps every cached block at tens of
    MB; on a real cluster the copies spread across executors and the
    same bound just sets sane task granularity."""
    from pyspark.sql import Window

    bound_parts = None
    # File-backed inputs skip the sizing count outright (round 13;
    # ADVICE r12): a parquet scan's partitions are already byte-bounded
    # by spark.sql.files.maxPartitionBytes (128 MB default), so its
    # cached blocks can never hit the wide-partition class this bound
    # exists for (a GENERATED frame concentrating millions of rows in a
    # handful of partitions) — and the count() here is a full input
    # scan per cold build, which at 100 TB is a corpus pass spent
    # confirming a bound the scan layout already guarantees.
    if max_rows_per_cache_partition and not docs.inputFiles():
        n_docs = docs.count()
        needed = -(-n_docs // max_rows_per_cache_partition)
        if needed > docs.rdd.getNumPartitions():
            bound_parts = int(needed)

    def bounded(df: DataFrame) -> DataFrame:
        return df.repartition(bound_parts) if bound_parts else df

    q = bounded(
        text.with_quality_filter(text.with_text_stats(docs)).select(
            "doc_id", "lang", "text", F.col("keep").alias("q_keep")
        )
    ).persist()
    qk = q.where(F.col("q_keep") == 1)
    w = Window.partitionBy(F.md5(text.normalized("text"))).orderBy("doc_id")
    ex = qk.withColumn(
        "ex_keep", (F.row_number().over(w) == 1).cast("int")
    )
    exk = bounded(
        ex.where(F.col("ex_keep") == 1).select("doc_id", "lang", "text")
    ).persist()
    # Signatures computed ONCE and persisted (round 12; VERDICT r11
    # next #6): the unpersisted near-dup DAG evaluated the shingle +
    # signature pass ~3x (once under the banding branch, once per
    # verify side) — measured 318.5s vs 65.3 + 4.9 + 11.9 = 82.1s for
    # sig + band-shuffle + verify at 2M docs
    # (tools/curation_scale_probe.py, docs/SCALE_PROBE.md round 12).
    # The frame carries (id, hs, sig) — no text — and inherits exk's
    # bounded partitioning; it is also the at-rest reuse hook: the
    # signature is a pure function of the text, so an incremental
    # re-curation can land this frame keyed by content hash and pass
    # it back through `signatures=` instead of recomputing the corpus.
    sigs = dedup.portable_minhash_signatures(exk).persist()
    pairs = dedup.minhash_dedup_pairs_portable(exk, threshold=0.5, signatures=sigs)
    dominated = pairs.select(F.col("id_b").alias("doc_id")).distinct().persist()
    return (q, ex, exk, dominated, sigs)


def curation_decision_record(
    staged: tuple,
    rates: DataFrame | None = None,
    mix: DataFrame | None = None,
    order: DataFrame | None = None,
) -> DataFrame:
    """The per-document decision record over prepared stage frames —
    the steady-state assembly the bench times (stages cached). The
    signature frame rides the tuple for lifecycle only (the pairs in
    ``dominated`` already consumed it). ``rates`` optionally serves
    the temperature-mix threshold frame precomputed from the SAME
    survivor set (``temperature_mix_rates`` over exk anti dominated —
    a pure function of it, so reuse is value-identical); default None
    keeps the self-contained census for probe callers.

    ``ex_keep`` is derived from the PERSISTED survivor frame ``exk``
    (round 13, guide §2.4): the ``ex`` window column is
    row_number-over-md5(text)==1, so re-projecting it here re-ran the
    md5-keyed Exchange — a full-text corpus shuffle plus sort — inside
    every steady-state assembly, for information the cold build already
    materialized: a quality-kept doc has ex_keep=1 iff its id is in
    ``exk``. The presence join against exk's (doc_id) is
    value-identical (non-survivors and quality-dropped docs both
    coalesce to 0) and shuffles ids, not text. ``ex`` stays in the
    tuple for the probe's stage-attribution timings.

    ``mix`` / ``order`` (round 14, guide §2.4): optionally serve the
    per-doc mix-flag frame and the training order precomputed from the
    SAME survivor set — pure functions of (staged, rates), so reuse is
    value-identical. Without them the assembly evaluates the mix
    subtree TWICE per call (Catalyst shares nothing between its two
    consumers, the record join and training_order's input) and re-runs
    the shard-rank windows on every call. Defaults (None) keep the
    self-contained form for probe callers."""
    q, _ex, exk, dominated, _sigs = staged
    if mix is None:
        ndk = exk.join(F.broadcast(dominated), "doc_id", "left_anti")
        # keep_all=True (round 13, guide §3): mix carries one row per ndk
        # row structurally (NULL-lang rows ride with keep_temp NULL), so
        # presence-in-mix IS presence-in-ndk and one joined frame serves
        # both the nd_keep and mix_keep flags — two corpus×corpus doc_id
        # joins removed from every steady assembly vs round 12 (the
        # ndk-presence join, plus the identity filter the old
        # `ndk.join(mix.where(keep_temp==1)...)` paid before
        # training_order; mix is computed FROM ndk, so the kept ids are
        # already a subset and training_order reads nothing but doc_id).
        # Value-identity: absent-then-coalesce(0) ≡ NULL-then-coalesce(0)
        # for mix_keep, and where(keep_temp==1) filters NULL the same as
        # absence.
        mix = sampling.temperature_mix_flags(ndk, keep_all=True, rates=rates)
    if order is None:
        order = sampling.training_order(mix.where(F.col("keep_temp") == 1))
    return (
        q.select("doc_id", "lang", "q_keep")
        .join(
            exk.select("doc_id").withColumn("ex_keep", F.lit(1)),
            "doc_id",
            "left",
        )
        .join(
            mix.select(
                "doc_id",
                F.lit(1).alias("nd_keep"),
                F.col("keep_temp").alias("mix_keep"),
            ),
            "doc_id",
            "left",
        )
        .join(order, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "q_keep",
            F.coalesce("ex_keep", F.lit(0)).alias("ex_keep"),
            F.coalesce("nd_keep", F.lit(0)).alias("nd_keep"),
            F.coalesce("mix_keep", F.lit(0)).alias("mix_keep"),
            F.coalesce("shard", F.lit(-1)).alias("shard"),
            F.coalesce("pos", F.lit(-1)).alias("pos"),
        )
    )


_NB_ORACLE = f"""
WITH t AS (SELECT doc_id, lang, {TOKENS_SQL} AS toks FROM documents),
tr AS (SELECT * FROM t WHERE doc_id % 5 <> 0),
te AS (SELECT * FROM t WHERE doc_id % 5 = 0),
trt AS (SELECT doc_id, lang AS label, unnest(toks) AS term FROM tr),
v AS (SELECT count(DISTINCT term) AS vsize FROM trt),
ntr AS (SELECT count(*) AS n_train FROM tr),
cls AS (
  SELECT d.label, k.n_class_tokens, v.vsize,
         ln(CAST(d.n_docs AS DOUBLE) / ntr.n_train) AS log_prior,
         ln(1.0 / (k.n_class_tokens + v.vsize)) AS log_unseen
  FROM (SELECT lang AS label, count(*) AS n_docs FROM tr GROUP BY 1) d
  JOIN (SELECT label, count(*) AS n_class_tokens FROM trt GROUP BY 1) k USING (label),
       v, ntr
),
grid AS (
  SELECT g.term, g.label, ln((g.tf + 1.0) / (c.n_class_tokens + c.vsize)) AS loglik
  FROM (SELECT term, label, count(*) AS tf FROM trt GROUP BY 1, 2) g
  JOIN cls c USING (label)
),
tet AS (SELECT doc_id, unnest(toks) AS term FROM te),
scored AS (
  SELECT tet.doc_id, c.label,
         round(sum(coalesce(g.loglik, c.log_unseen)) + any_value(c.log_prior) + 1e-9,
               6) AS score
  FROM tet CROSS JOIN cls c
  LEFT JOIN grid g ON g.term = tet.term AND g.label = c.label
  GROUP BY 1, 2
),
pred AS (
  SELECT doc_id, label AS predicted, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, label) AS rk
  FROM scored
)
SELECT te.doc_id, te.lang AS actual, p.predicted, p.score,
       CAST(te.lang = p.predicted AS INT) AS hit
FROM te JOIN pred p ON p.doc_id = te.doc_id AND p.rk = 1
"""


@register(
    "nb_lang_classifier",
    extra=True,
    bench=True,
    survey_ids=("EXT-text",),
    oracle=_NB_ORACLE,
)
def nb_lang_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained and applied
    entirely in DataFrame aggregations (ml/classify.py) — the
    fastText-style supervised filter of CCNet-class pipelines, with the
    fitted model itself a broadcastable (term, class) DataFrame. Train
    on doc_id % 5 != 0, score the holdout, argmax with a label-asc tie
    break; scores 6-dp rounded (tie-up nudge) on both engines.

    Train/serve split (round-7 plan consolidation): the fit is two
    grouping-sets aggregations materialized via localCheckpoint
    (ml/classify.py:nb_train) and cached per (session, corpus) like
    the ANN indexes, so the serve plan is 3 shuffles (score agg,
    argmax window, holdout join) instead of re-deriving the training
    statistics once per model consumer — the 11-shuffle shape the
    round-6 audit flagged. bench.py reports the one-time fit as a
    cold_build_seconds row."""
    from crypto_data_pipeline_spark.ml.classify import (
        load_nb_model,
        nb_lang_holdout,
        nb_train,
        save_nb_model,
    )

    docs = _docs(spark, sf_dir)

    # nb_model: the fitted (classes, grid) at rest. The serve joins carry
    # no broadcast hint and checkpoint-lineage size estimates are
    # unreliable (the grid join once went shuffled, 97 KB -> 1.8 MB); a
    # parquet-backed model measures its true size, so it broadcasts.
    def build(model_dir: str) -> tuple:
        save_nb_model(model_dir, *nb_train(docs.where(F.col("doc_id") % 5 != 0)))
        return load_nb_model(spark, model_dir)

    model = serve_store.serve(spark, sf_dir, "nb_model", ("documents",), build)
    return nb_lang_holdout(docs, model=model)


_LM_BUCKETS_SQL = f"""
WITH toks AS (SELECT doc_id, lang, {TOKENS_SQL} AS t FROM documents),
bg AS (
  SELECT doc_id, lang, t[i + 1] AS w1, t[i + 2] AS w2
  FROM toks, UNNEST(range(len(t) - 1)) AS u(i)
),
grid AS (SELECT lang, w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2, 3),
ctx  AS (SELECT lang, w1, count(*) AS c1 FROM bg GROUP BY 1, 2),
voc  AS (SELECT lang, count(DISTINCT w2) AS vsize FROM bg GROUP BY 1),
sc AS (
  SELECT b.doc_id, b.lang,
         ln((coalesce(g.c12, 0) + 1.0) / (coalesce(c.c1, 0) + v.vsize)) AS logp
  FROM bg b
  LEFT JOIN grid g USING (lang, w1, w2)
  LEFT JOIN ctx c USING (lang, w1)
  JOIN voc v USING (lang)
),
ppl AS (
  SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_bigrams,
         round(exp(-avg(logp)) + 1e-9, 6) AS ppl
  FROM sc GROUP BY 1, 2
),
base AS (
  SELECT d.doc_id, d.lang, p.n_bigrams, p.ppl
  FROM documents d LEFT JOIN ppl p ON p.doc_id = d.doc_id
)
SELECT doc_id, lang, n_bigrams, ppl,
       CASE ntile(3) OVER (PARTITION BY lang ORDER BY ppl, doc_id)
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM base WHERE ppl IS NOT NULL
UNION ALL
SELECT doc_id, lang, CAST(0 AS BIGINT) AS n_bigrams, -1.0 AS ppl,
       'unscored' AS bucket
FROM base WHERE ppl IS NULL
"""


@register(
    "lm_perplexity_buckets",
    bench=True,
    survey_ids=("EXT-text", "EXT-sample"),
    oracle=_LM_BUCKETS_SQL,
)
def lm_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's third curation pillar (Wenzek et al. 2020) next to the
    engine's lang-id and dedup tiers: per-language add-one bigram LMs
    fitted in one corpus-sized aggregation, every document scored by
    its language's model, each language ntile'd into head/middle/tail
    perplexity thirds with a deterministic (ppl, doc_id) tie-break so
    the lossy filter itself hash-checks (`operators/lm.py`).
    Sub-2-token docs land in the 'unscored' sentinel bucket instead of
    a NULL the gate can't sort. Scale shape (docs/SCALE_PROBE.md):
    the fitted grid is NOT bounded — distinct
    bigrams grow with corpus vocabulary (Heaps' law, measured
    75k→77M rows over the K=1..1000 clone probe) — so `lm.lm_fit`
    exposes a ``min_count`` pruning knob and the serve joins carry NO
    broadcast hint: the model lands AT REST (parquet, accurate
    statistics) and AQE broadcasts it only when it measures small,
    falling back to a shuffled join instead of an OOM past the
    threshold. The fit and the per-doc scores of both families are
    built once per (session, corpus) — the same train/serve split as
    the NB classifier and the ANN indexes — and one score table serves
    all four LM queries (`_lm_scores`); this query is an ntile over it.
    It registers first of them, so bench.py's cold_build_seconds row
    for it carries the shared fit."""
    from crypto_data_pipeline_spark.operators.lm import ntile_buckets

    return ntile_buckets(_lm_scores(spark, sf_dir))


_LM_KN_BUCKETS_SQL = f"""
WITH toks AS (SELECT doc_id, lang, {{TOKENS_SQL}} AS t FROM documents),
bg AS (
  SELECT doc_id, lang, t[i + 1] AS w1, t[i + 2] AS w2
  FROM toks, UNNEST(range(len(t) - 1)) AS u(i)
),
grid AS (SELECT lang, w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2, 3),
ctxk AS (SELECT lang, w1, sum(c12) AS c1, count(*) AS n1p_w1
         FROM grid GROUP BY 1, 2),
tot  AS (SELECT lang, count(*) AS n1p_all, count(DISTINCT w2) AS vsize
         FROM grid GROUP BY 1),
cont AS (SELECT lang, w2, count(*) AS n1p_w2 FROM grid GROUP BY 1, 2),
sc AS (
  SELECT b.doc_id, b.lang,
         ln(CASE WHEN c.c1 IS NOT NULL
                 THEN greatest(coalesce(g.c12, 0) - 0.75, 0.0) / c.c1
                      + 0.75 * c.n1p_w1 / c.c1
                        * ((coalesce(ct.n1p_w2, 0) + 1.0) / (t.n1p_all + t.vsize))
                 ELSE (coalesce(ct.n1p_w2, 0) + 1.0) / (t.n1p_all + t.vsize)
            END) AS logp
  FROM bg b
  LEFT JOIN grid g USING (lang, w1, w2)
  LEFT JOIN ctxk c USING (lang, w1)
  LEFT JOIN cont ct USING (lang, w2)
  JOIN tot t USING (lang)
),
ppl AS (
  SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_bigrams,
         round(exp(-avg(logp)) + 1e-9, 6) AS ppl
  FROM sc GROUP BY 1, 2
),
base AS (
  SELECT d.doc_id, d.lang, p.n_bigrams, p.ppl
  FROM documents d LEFT JOIN ppl p ON p.doc_id = d.doc_id
)
SELECT doc_id, lang, n_bigrams, ppl,
       CASE ntile(3) OVER (PARTITION BY lang ORDER BY ppl, doc_id)
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM base WHERE ppl IS NOT NULL
UNION ALL
SELECT doc_id, lang, CAST(0 AS BIGINT) AS n_bigrams, -1.0 AS ppl,
       'unscored' AS bucket
FROM base WHERE ppl IS NULL
""".format(TOKENS_SQL=TOKENS_SQL)


@register(
    "lm_perplexity_buckets_kn",
    bench=True,
    survey_ids=("EXT-text", "EXT-sample"),
    oracle=_LM_KN_BUCKETS_SQL,
)
def lm_perplexity_buckets_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KenLM-faithful sibling of `lm_perplexity_buckets`:
    interpolated Kneser-Ney smoothing (absolute discount D=0.75,
    continuation probabilities by context diversity — what CCNet's
    actual models use) instead of add-one, same per-language
    head/middle/tail split and 'unscored' sentinel
    (`operators/lm.py:lm_scores`, its ``ppl_kn`` column). Every
    quantity is an integer-count ratio, so even this smoothing family
    hash-checks against a plain-SQL DuckDB twin. Both families come
    from the same `lm.lm_fit` model and the same shared at-rest score
    table (`_lm_scores`), so this query is an ntile over its
    ``ppl_kn`` column."""
    from crypto_data_pipeline_spark.operators.lm import ntile_buckets

    return ntile_buckets(_lm_scores(spark, sf_dir), ppl="ppl_kn")


_RHO_EXCESS_SQL = """
WITH toks AS (SELECT doc_id, lang, {TOKENS_SQL} AS t FROM documents),
bg AS (
  SELECT doc_id, lang, t[i + 1] AS w1, t[i + 2] AS w2
  FROM toks, UNNEST(range(len(t) - 1)) AS u(i)
),
grid AS (SELECT lang, w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2, 3),
ctx  AS (SELECT lang, w1, count(*) AS c1 FROM bg GROUP BY 1, 2),
voc  AS (SELECT lang, count(DISTINCT w2) AS vsize FROM bg GROUP BY 1),
sc_a AS (
  SELECT b.doc_id,
         ln((coalesce(g.c12, 0) + 1.0) / (coalesce(c.c1, 0) + v.vsize)) AS logp
  FROM bg b
  LEFT JOIN grid g USING (lang, w1, w2)
  LEFT JOIN ctx c USING (lang, w1)
  JOIN voc v USING (lang)
),
ppl_a AS (
  SELECT doc_id, round(exp(-avg(logp)) + 1e-9, 6) AS ppl_base
  FROM sc_a GROUP BY 1
),
ctxk AS (SELECT lang, w1, sum(c12) AS c1, count(*) AS n1p_w1
         FROM grid GROUP BY 1, 2),
tot  AS (SELECT lang, count(*) AS n1p_all, count(DISTINCT w2) AS vsize
         FROM grid GROUP BY 1),
cont AS (SELECT lang, w2, count(*) AS n1p_w2 FROM grid GROUP BY 1, 2),
sc_k AS (
  SELECT b.doc_id,
         ln(CASE WHEN c.c1 IS NOT NULL
                 THEN greatest(coalesce(g.c12, 0) - 0.75, 0.0) / c.c1
                      + 0.75 * c.n1p_w1 / c.c1
                        * ((coalesce(ct.n1p_w2, 0) + 1.0) / (t.n1p_all + t.vsize))
                 ELSE (coalesce(ct.n1p_w2, 0) + 1.0) / (t.n1p_all + t.vsize)
            END) AS logp
  FROM bg b
  LEFT JOIN grid g USING (lang, w1, w2)
  LEFT JOIN ctxk c USING (lang, w1)
  LEFT JOIN cont ct USING (lang, w2)
  JOIN tot t USING (lang)
),
ppl_k AS (
  SELECT doc_id, round(exp(-avg(logp)) + 1e-9, 6) AS ppl_ref
  FROM sc_k GROUP BY 1
),
scored AS (
  SELECT a.doc_id, a.ppl_base, k.ppl_ref,
         round(ln(a.ppl_base) - ln(k.ppl_ref), 6) AS excess
  FROM ppl_a a JOIN ppl_k k USING (doc_id)
),
cut AS (
  SELECT min(excess) AS cutoff FROM (
    SELECT doc_id, excess,
           row_number() OVER (ORDER BY excess DESC, doc_id) AS rn,
           count(*) OVER () AS n
    FROM scored
  ) WHERE rn <= ceil(n * 0.25)
)
SELECT d.doc_id, d.lang,
       coalesce(s.ppl_base, -1.0) AS ppl_base,
       coalesce(s.ppl_ref, -1.0) AS ppl_ref,
       coalesce(s.excess, 0.0) AS excess,
       coalesce(s.excess >= (SELECT cutoff FROM cut), false) AS kept
FROM documents d LEFT JOIN scored s USING (doc_id)
""".format(TOKENS_SQL=TOKENS_SQL)


@register(
    "rho_excess_perplexity_select",
    bench=True,
    survey_ids=("EXT-sample", "EXT-text"),
    oracle=_RHO_EXCESS_SQL,
)
def rho_excess_perplexity_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RHO-loss-style learnability selection (Mindermann et al. 2022,
    "Prioritized Training on Points that are Learnable, Worth
    Learning, and Not Yet Learnt"): keep the documents where a
    STRONGER reference model most out-predicts a weak base model —
    excess = per-token log-loss delta = ln(ppl_base) − ln(ppl_ref),
    with the engine's add-one bigram LM as the base learner and the
    Kneser-Ney LM as the reference (both already fitted, cached at
    rest, and individually hash-checked). High excess ≈ learnable
    (the weak model fails, the strong one doesn't); low or negative
    excess ≈ noise or already-learnt. Both perplexities are columns
    of the shared at-rest score table (`_lm_scores`). Selection is the
    exact k-th-largest excess from dsir_kth_weight's
    histogram refinement applied as a per-row predicate — no window,
    ties-all-kept. Docs scored by neither LM (<2 tokens) carry the
    'unscored' sentinels (-1.0 ppl, 0.0 excess, kept=false). The
    whole composition — two smoothing families, the loss delta, the
    threshold — hash-checks against one DuckDB twin."""
    from crypto_data_pipeline_spark.operators import lm as lm_ops

    excess = lm_ops.rho_excess(_lm_scores(spark, sf_dir))
    cutoff = dsir.dsir_kth_weight(excess, 0.25, weight_col="excess")
    return lm_ops.rho_select(excess, F.lit(cutoff))


# source-level curation thresholds — one definition feeds BOTH the
# Spark expressions and the oracle SQL, so they cannot drift
_SRC_DROP_DUP, _SRC_DROP_KEEP = 0.5, 0.3
_SRC_REVIEW_DUP, _SRC_REVIEW_KEEP, _SRC_REVIEW_TAIL = 0.2, 0.6, 0.5

@register(
    "source_curation_report",
    bench=True,
    survey_ids=("EXT-text", "EXT-dedup", "EXT-sample"),
    oracle=f"""
WITH qf AS (
  {_QUALITY_FILTER_ORACLE}
),
lmq AS (
  {_LM_BUCKETS_SQL}
),
per_doc AS (
  SELECT d.source, d.doc_id, md5({NORM_SQL}) AS ch, q.keep,
         CAST(l.bucket = 'tail' AS INT) AS is_tail
  FROM documents d
  JOIN qf q USING (doc_id)
  JOIN lmq l ON l.doc_id = d.doc_id
),
agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT ch) AS BIGINT) AS n_distinct,
         round(1.0 - CAST(count(DISTINCT ch) AS DOUBLE) / count(*) + 1e-9, 6) AS dup_ratio,
         round(avg(CAST(keep AS DOUBLE)) + 1e-9, 6) AS keep_ratio,
         round(avg(CAST(is_tail AS DOUBLE)) + 1e-9, 6) AS tail_share
  FROM per_doc GROUP BY 1
)
SELECT source, n_docs, n_distinct, dup_ratio, keep_ratio, tail_share,
       CASE WHEN dup_ratio > {_SRC_DROP_DUP} OR keep_ratio < {_SRC_DROP_KEEP}
            THEN 'drop'
            WHEN dup_ratio > {_SRC_REVIEW_DUP} OR keep_ratio < {_SRC_REVIEW_KEEP}
                 OR tail_share > {_SRC_REVIEW_TAIL}
            THEN 'review'
            ELSE 'keep' END AS decision
FROM agg
""",
)
def source_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/source-level curation (the RefinedWeb move: curate the
    SOURCE before the document — a crawl domain that is mostly
    duplicates or spam is cheaper to drop wholesale than to score doc
    by doc). Per source: exact-duplicate ratio (md5 of normalized
    content), Gopher-rule keep ratio, LM perplexity tail share, and a
    keep/review/drop decision from thresholds defined once for both
    engines. Scale shape: the rule battery and content hash are
    zero-shuffle expressions on the scan; the LM bucket join is the
    one doc-keyed shuffle; the report itself is |sources| rows. The
    tail flag is an ntile over the shared at-rest LM score table
    (`_lm_scores`), so this query scores nothing once any LM query has
    run on the corpus; its per-doc frame persists per (session,
    corpus) and rebuilds when the documents change."""
    from crypto_data_pipeline_spark.operators.lm import ntile_buckets

    docs = _docs(spark, sf_dir)
    # src_report: the persisted per-doc (source, ch, keep, is_tail) battery frame
    def build(_tmp: str) -> DataFrame:
        # ch only feeds countDistinct, and unhex is bijective on md5 hex,
        # so the distinct-(source, ch) exchange carries 16 binary bytes
        # per pair instead of a 32-char UTF8 string
        base = text.with_quality_filter(text.with_text_stats(docs)).select(
            "source",
            "doc_id",
            F.unhex(F.md5(text.normalized("text"))).alias("ch"),
            "keep",
        )
        lmb = ntile_buckets(_lm_scores(spark, sf_dir)).select(
            "doc_id", (F.col("bucket") == "tail").cast("int").alias("is_tail")
        )
        return base.join(lmb, "doc_id").select(
            "source", "ch", "keep", "is_tail"
        ).persist()

    per_doc = serve_store.serve(
        spark, sf_dir, "src_report", ("documents",), build, release=DataFrame.unpersist
    )
    agg = (
        per_doc
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("ch").cast("long").alias("n_distinct"),
            F.round(F.avg(F.col("keep").cast("double")) + F.lit(1e-9), 6).alias("keep_ratio"),
            F.round(F.avg(F.col("is_tail").cast("double")) + F.lit(1e-9), 6).alias("tail_share"),
        )
        .withColumn(
            "dup_ratio",
            F.round(
                F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_docs")
                + F.lit(1e-9),
                6,
            ),
        )
    )
    decision = (
        F.when(
            (F.col("dup_ratio") > _SRC_DROP_DUP)
            | (F.col("keep_ratio") < _SRC_DROP_KEEP),
            "drop",
        )
        .when(
            (F.col("dup_ratio") > _SRC_REVIEW_DUP)
            | (F.col("keep_ratio") < _SRC_REVIEW_KEEP)
            | (F.col("tail_share") > _SRC_REVIEW_TAIL),
            "review",
        )
        .otherwise("keep")
    )
    return agg.select(
        "source", "n_docs", "n_distinct", "dup_ratio", "keep_ratio",
        "tail_share", decision.alias("decision"),
    )


@register(
    "vocab_coverage",
    extra=True,
    survey_ids=("EXT-text",),
    oracle=f"""
WITH terms AS (SELECT unnest({TOKENS_SQL}) AS term FROM documents),
freq AS (SELECT term, count(*) AS tf FROM terms GROUP BY 1),
tot AS (SELECT sum(tf) AS n_total FROM freq)
SELECT term, tf,
       row_number() OVER (ORDER BY tf DESC, term) AS rank,
       round(sum(tf) OVER (ORDER BY tf DESC, term ROWS UNBOUNDED PRECEDING)
             * 1.0 / n_total + 1e-9, 6) AS cum_share
FROM freq, tot
""",
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary with cumulative token-coverage share
    (operators/text.py:vocab_coverage) — the vocab-size-vs-coverage
    curve a tokenizer build starts from. Ranking sort is vocab-sized,
    never corpus-sized."""
    return text.vocab_coverage(_docs(spark, sf_dir))


@register(
    "dedup_duplicated_spans",
    extra=True,
    survey_ids=("EXT-dedup",),
    oracle=f"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
g0 AS (
  SELECT doc_id, toks, unnest(range(len(toks) - 2)) AS pos
  FROM t WHERE len(toks) >= 3
),
g AS (
  SELECT doc_id, CAST(pos AS INT) AS pos,
         array_to_string(toks[CAST(pos+1 AS INT):CAST(pos+3 AS INT)], ' ') AS sh
  FROM g0
),
dup AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, count(*) OVER (PARTITION BY sh) AS c FROM g
  ) WHERE c > 1
),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dup
)
SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
       CAST(max(pos) - min(pos) + 3 AS INT) AS span_len
FROM isl GROUP BY doc_id, grp
""",
)
def dedup_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span dedup (`dedup.duplicated_spans`, Lee et al.
    2021 arXiv:2107.06499): every maximal token run whose every 3-token
    window repeats somewhere in the corpus — the suffix-array dedup's
    semantics as positional shingling. All-integer output, exact
    cross-engine hash; production k≈50 per the paper."""
    return dedup.duplicated_spans(_docs(spark, sf_dir), k=3).select(
        "doc_id",
        F.col("span_start").cast("int").alias("span_start"),
        F.col("span_len").cast("int").alias("span_len"),
    )


# DuckDB twin of the fixed-codebook PQ pipeline: codebook derivation
# (subspace j of the normalized vectors of vec_id < 16), per-(vector,
# subspace) squared distances to every code, and the (dist, code)-argmin
# encode — shared by both PQ queries. m=8 subspaces of 8 dims over the
# 64-dim corpus; at scale m stays and k grows to 256 (one byte/code).
_PQ_ENC_CTES = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u FROM e),
sub AS (
  SELECT vec_id, CAST(j AS INT) AS j,
         u[CAST(j*8+1 AS INT):CAST(j*8+8 AS INT)] AS su
  FROM n CROSS JOIN range(8) t(j)
),
cb AS (SELECT j, CAST(vec_id AS INT) AS code, su AS cu FROM sub WHERE vec_id < 16),
d AS (
  SELECT s.vec_id, s.j, cb.code,
         list_sum(list_transform(list_zip(s.su, cb.cu), p -> (p[1] - p[2])^2)) AS dist
  FROM sub s JOIN cb USING (j)
),
enc AS (
  SELECT vec_id, j, code FROM (
    SELECT vec_id, j, code,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, code) AS rn
    FROM d
  ) WHERE rn = 1
)
"""


@register(
    "embedding_pq_codes",
    extra=True,
    survey_ids=("EXT-sim",),
    oracle=_PQ_ENC_CTES
    + """
SELECT vec_id, list(code ORDER BY j) AS codes FROM enc GROUP BY 1
""",
)
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (`similarity.pq_encode`, Jégou et
    al. 2011): every vector as 8 one-byte-class codes — the at-rest
    compressed embedding format (8 bytes vs 256 per vector). Integer
    argmin output makes this an exact cross-engine hash check of the
    encoder; the fixed data-derived codebook is the same determinism
    trick as `embedding_ann_ivf_fixed`. One scan, zero shuffle,
    Arrow-vectorized numpy distance grid."""
    embs = _embs(spark, sf_dir)
    books = similarity.build_fixed_pq_codebook(embs, list(range(16)), m=8)
    return similarity.pq_encode(embs, books)


@register(
    "embedding_pq_topk",
    extra=True,
    bench=True,
    survey_ids=("EXT-sim",),
    oracle=_PQ_ENC_CTES
    + """,
scored AS (
  SELECT qd.vec_id AS query_id, enc.vec_id,
         round(sum(qd.dist) + 1e-9, 6) AS approx_d
  FROM enc
  JOIN d qd ON qd.j = enc.j AND qd.code = enc.code AND qd.vec_id < 10
  WHERE enc.vec_id <> qd.vec_id
  GROUP BY 1, 2
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY approx_d, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, approx_d, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5
""",
)
def embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance PQ search (`similarity.pq_topk`): top-5 by
    Σ_j dt[j][code_j] over the codes column with the per-query distance
    table broadcast — the compressed-scan ANN path that reads 8 bytes
    per corpus vector. Whole pipeline (encode + ADC + rank)
    hash-checked against the derived-codebook DuckDB twin; recall vs
    the exact baseline pinned in tests/test_dedup_similarity.py.

    Round 13: the codes column (the PQ index — 8 bytes/vector at rest)
    is built once per (session, corpus) and served from parquet, the
    same FAISS add()/search split as the IVF and LSH rows; re-encoding
    the whole corpus per probe call was paying the index build on
    every search. The encode rides bench.py's cold_build_seconds; the
    steady row is the serving path (ADC scan + rank). The DuckDB twin
    still recomputes everything from the raw embeddings, so the hash
    match proves served codes ≡ fresh encode."""
    embs = _embs(spark, sf_dir)

    # pq_codes: the codebook and the corpus's m-byte codes at rest
    def build(codes_dir: str) -> tuple:
        books = similarity.build_fixed_pq_codebook(embs, list(range(16)), m=8)
        similarity.pq_encode(embs, books).write.mode("overwrite").parquet(codes_dir)
        return books, spark.read.parquet(codes_dir)

    books, codes = serve_store.serve(spark, sf_dir, "pq_codes", ("embeddings",), build)
    queries = embs.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.pq_topk(embs, queries, books, k=5, codes=codes)


@register(
    "embedding_ann_ivfpq",
    extra=True,
    survey_ids=("EXT-sim",),
    oracle=_PQ_ENC_CTES
    + """,
ctr AS (SELECT CAST(vec_id AS INT) AS cell, u AS cu FROM n WHERE vec_id < 16),
cdist AS (
  SELECT n.vec_id, ctr.cell, 2 - 2 * list_dot_product(n.u, ctr.cu) AS cd
  FROM n CROSS JOIN ctr
),
asg AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY cd, cell) AS rn
    FROM cdist
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY cd, cell) AS rn
    FROM cdist WHERE vec_id < 10
  ) WHERE rn <= 4
),
scored AS (
  SELECT p.query_id, a.vec_id, round(sum(qd.dist) + 1e-9, 6) AS approx_d
  FROM probes p
  JOIN asg a USING (cell)
  JOIN enc ON enc.vec_id = a.vec_id
  JOIN d qd ON qd.vec_id = p.query_id AND qd.j = enc.j AND qd.code = enc.code
  WHERE a.vec_id <> p.query_id
  GROUP BY 1, 2
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY approx_d, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, approx_d, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5
""",
)
def embedding_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ (`similarity.ivfpq_topk`, FAISS's workhorse index): coarse
    cells prune the ROWS a probe scans (nprobe/16 of the corpus), PQ
    codes prune the BYTES per row (8 codes vs 64 floats). Both
    quantizers are the fixed data-derived kind, so the composed
    pipeline — assign → nprobe → cell join → ADC over codes → rank —
    hash-checks end to end against one DuckDB twin."""
    embs = _embs(spark, sf_dir)
    index = _ivf_fixed_index(spark, sf_dir)
    books = similarity.build_fixed_pq_codebook(embs, list(range(16)), m=8)
    queries = embs.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivfpq_topk(index, queries, books, k=5, nprobe=4)


@register(
    "embedding_knn_classify",
    extra=True,
    survey_ids=("EXT-sim",),
    oracle="""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 20
),
c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (
  SELECT query_id, vec_id, label,
         round(list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cosine
  FROM c, q WHERE query_id != vec_id
),
nn AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
    FROM scored
  ) WHERE rank <= 5
),
votes AS (
  SELECT query_id, label, count(*) AS votes, max(cosine) AS best
  FROM nn GROUP BY 1, 2
),
pred AS (
  SELECT query_id, label AS pred_label, votes FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, best DESC, label) AS rn
    FROM votes
  ) WHERE rn = 1
)
SELECT p.query_id, p.pred_label, p.votes, e.label AS true_label,
       p.pred_label = e.label AS correct
FROM pred p LEFT JOIN embeddings e ON e.vec_id = p.query_id
""",
)
def embedding_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote classification (`ml/classify.knn_classify`):
    label 20 query vectors by their 5 nearest corpus neighbors — the
    label-by-retrieval baseline semi-supervised curation pipelines use
    to propagate quality/domain labels onto unlabeled shards. Vote
    tie-break is (votes desc, best-neighbor cosine desc, label asc) on
    the 6-dp-rounded cosines, so prediction, vote count, truth join and
    hit flag all hash-check cross-engine."""
    from crypto_data_pipeline_spark.ml.classify import knn_classify

    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return knn_classify(embs, queries, k=5)


@register(
    "dedup_segments",
    extra=True,
    survey_ids=("EXT-dedup", "EXT-text"),
    oracle=f"""
WITH t AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
st AS (
  SELECT doc_id,
         CAST(unnest(range(0, greatest(len(toks) - 1, 0) + 1, 5)) AS INT) AS strt,
         toks
  FROM t
),
seg AS (
  SELECT doc_id, CAST(strt // 5 AS INT) AS pos,
         array_to_string(toks[strt + 1:strt + 5], ' ') AS seg
  FROM st
),
flagged AS (
  SELECT doc_id, pos, seg,
         row_number() OVER (
           PARTITION BY regexp_replace(trim(lower(seg)), '\\s+', ' ', 'g')
           ORDER BY doc_id, pos
         ) = 1 AS keep
  FROM seg
)
SELECT doc_id,
       count(*) AS n_segments,
       count(*) FILTER (WHERE keep) AS n_kept,
       coalesce(string_agg(seg, ' ' ORDER BY pos) FILTER (WHERE keep), '') AS text_clean
FROM flagged GROUP BY doc_id
""",
)
def dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level exact dedup (`dedup.segment_dedup`): the C4/CCNet
    "drop any repeated line" rule over 5-token runs — keep only the
    corpus-global first occurrence of each distinct segment, reassemble
    the surviving text per document. One row_number census over the
    segment key + one per-doc reassembly groupBy; exact cross-engine
    hash including the rebuilt text."""
    return dedup.segment_dedup(_docs(spark, sf_dir), seg_tokens=5)


@register(
    "embedding_mmr_topk",
    extra=True,
    survey_ids=("EXT-sim",),
    oracle="""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 10
),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (
  SELECT query_id, vec_id,
         round(list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS rel
  FROM c, q WHERE query_id != vec_id
),
cand AS (
  SELECT query_id, vec_id, rel FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id) AS rn
    FROM scored
  ) WHERE rn <= 8
),
pairs AS (
  SELECT ca.query_id, ca.vec_id AS a_id, cb.vec_id AS b_id,
         round(list_dot_product(va.cv, vb.cv)
               / (sqrt(list_dot_product(va.cv, va.cv)) * sqrt(list_dot_product(vb.cv, vb.cv))), 6) AS sim
  FROM cand ca
  JOIN cand cb ON cb.query_id = ca.query_id
  JOIN c va ON va.vec_id = ca.vec_id
  JOIN c vb ON vb.vec_id = cb.vec_id
),
s1 AS (SELECT query_id, vec_id, round(0.5 * rel + 1e-9, 6) AS score FROM cand),
sel1 AS (
  SELECT query_id, vec_id, score FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn FROM s1
  ) WHERE rn = 1
),
s2 AS (
  SELECT cand.query_id, cand.vec_id,
         round(0.5 * cand.rel - 0.5 * p.sim + 1e-9, 6) AS score
  FROM cand
  JOIN sel1 ON sel1.query_id = cand.query_id AND cand.vec_id <> sel1.vec_id
  JOIN pairs p ON p.query_id = cand.query_id AND p.a_id = cand.vec_id AND p.b_id = sel1.vec_id
),
sel2 AS (
  SELECT query_id, vec_id, score FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn FROM s2
  ) WHERE rn = 1
),
s3 AS (
  SELECT cand.query_id, cand.vec_id,
         round(0.5 * cand.rel - 0.5 * greatest(p1.sim, p2.sim) + 1e-9, 6) AS score
  FROM cand
  JOIN sel1 ON sel1.query_id = cand.query_id AND cand.vec_id <> sel1.vec_id
  JOIN sel2 ON sel2.query_id = cand.query_id AND cand.vec_id <> sel2.vec_id
  JOIN pairs p1 ON p1.query_id = cand.query_id AND p1.a_id = cand.vec_id AND p1.b_id = sel1.vec_id
  JOIN pairs p2 ON p2.query_id = cand.query_id AND p2.a_id = cand.vec_id AND p2.b_id = sel2.vec_id
),
sel3 AS (
  SELECT query_id, vec_id, score FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn FROM s3
  ) WHERE rn = 1
)
SELECT query_id, vec_id, score AS mmr_score, CAST(rk AS INT) AS rank
FROM (
  SELECT query_id, vec_id, score, 1 AS rk FROM sel1
  UNION ALL SELECT query_id, vec_id, score, 2 FROM sel2
  UNION ALL SELECT query_id, vec_id, score, 3 FROM sel3
)
""",
)
def embedding_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversified retrieval
    (`similarity.mmr_topk`, Carbonell & Goldstein 1998): top-3 of an
    8-candidate pool per query at lambda=0.5. The greedy chain runs in
    one Arrow `applyInPandas` over pool-sized per-query state; because
    every input (relevance, pairwise sims) is pre-rounded in the JVM
    and lambda=0.5 is exactly representable, the selection unrolls to
    a 3-step DuckDB twin that hash-matches step scores exactly."""
    embs = _embs(spark, sf_dir)
    queries = embs.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.mmr_topk(embs, queries, k=3, pool=8, lam=0.5)


# ---------------------------------------------------------------------------
# BPE tokenizer training (operators/bpe.py)


def _bpe_ctes(n_merges: int) -> str:
    """The DuckDB unrolling of `bpe.learn_bpe`: each merge step is the
    identical window algebra the Spark side runs (pair-count argmax,
    match islands, even-offset selection, sequence rebuild), so the
    inherently iterative learner hash-checks end to end."""
    parts = [
        f"""
words AS (
  SELECT t AS word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest({TOKENS_SQL}) AS t FROM documents)
  WHERE t <> ''
  GROUP BY 1
),
syms0 AS (
  SELECT word, freq,
         unnest(range(len(string_split(word, '')))) AS pos,
         unnest(string_split(word, '')) AS sym
  FROM words
)"""
    ]
    for k in range(1, n_merges + 1):
        p = k - 1
        parts.append(
            f"""
pc{k} AS (
  SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt
  FROM (SELECT sym AS l,
               lead(sym) OVER (PARTITION BY word ORDER BY pos) AS r,
               freq
        FROM syms{p})
  WHERE r IS NOT NULL GROUP BY 1, 2
),
m{k} AS (
  SELECT l, r, l || r AS merged, cnt FROM pc{k} ORDER BY cnt DESC, l, r LIMIT 1
),
a{k} AS (
  SELECT word, freq, pos, sym,
         coalesce(sym = (SELECT l FROM m{k})
                  AND lead(sym) OVER (PARTITION BY word ORDER BY pos)
                      = (SELECT r FROM m{k}),
                  false) AS mt
  FROM syms{p}
),
b{k} AS (
  SELECT *, pos - sum(CASE WHEN mt THEN 1 ELSE 0 END)
                OVER (PARTITION BY word ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM a{k}
),
c{k} AS (
  SELECT *, CASE WHEN mt
                 THEN (row_number() OVER (PARTITION BY word, mt, grp ORDER BY pos) - 1) % 2 = 0
                 ELSE false END AS sel
  FROM b{k}
),
d{k} AS (
  SELECT *, coalesce(lag(sel) OVER (PARTITION BY word ORDER BY pos), false) AS absorbed
  FROM c{k}
),
syms{k} AS (
  SELECT word, freq,
         row_number() OVER (PARTITION BY word ORDER BY pos) - 1 AS pos,
         CASE WHEN sel THEN (SELECT merged FROM m{k}) ELSE sym END AS sym
  FROM d{k} WHERE NOT absorbed
)"""
        )
    return "WITH " + ",".join(parts)


_BPE_N_MERGES = 3


def _bpe_learn_oracle(n: int) -> str:
    steps = "\nUNION ALL ".join(
        f"SELECT CAST({k} AS INT) AS step, l AS left_sym, r AS right_sym, "
        f"merged, cnt AS pair_freq FROM m{k}"
        for k in range(1, n + 1)
    )
    return f"{_bpe_ctes(n)}\n{steps}"


def _bpe_token_freq_oracle(n: int) -> str:
    return f"""{_bpe_ctes(n)}
SELECT sym AS token, CAST(sum(freq) AS BIGINT) AS total_freq
FROM syms{n} GROUP BY 1
"""


@register(
    "bpe_learn_merges",
    extra=True,
    survey_ids=("EXT-text",),
    oracle=_bpe_learn_oracle(_BPE_N_MERGES),
)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary learning (Sennrich et al. 2016) on the documents
    corpus: 3 merge iterations, output = the learned merge table. One
    corpus-sized shuffle (word frequencies); every iteration is
    vocab-sized window algebra on `word` with a 1-row argmax collect
    (the model state). Greedy overlapping-match application is the
    gaps-and-islands trick, identical in the DuckDB unrolling — the
    engine's second iterative operator with a full value-level oracle
    (after embedding_mmr_topk)."""
    from crypto_data_pipeline_spark.operators import bpe

    merges, syms = bpe.learn_bpe(spark, _docs(spark, sf_dir), n_merges=_BPE_N_MERGES)
    syms.unpersist()
    return spark.createDataFrame(
        [
            (m["step"], m["left_sym"], m["right_sym"], m["merged"], m["pair_freq"])
            for m in merges
        ],
        schema="step int, left_sym string, right_sym string, merged string, pair_freq long",
    )


@register(
    "bpe_token_freq",
    extra=True,
    survey_ids=("EXT-text",),
    oracle=_bpe_token_freq_oracle(_BPE_N_MERGES),
)
def bpe_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize-with-the-learned-vocab: the post-merge symbol frequency
    table (token, total corpus occurrences) after the same 3 BPE
    iterations — the artifact a tokenizer build hands to vocab_coverage.
    The final symbol frame stays persisted (vocab-sized fitted state,
    like the ANN index caches)."""
    from crypto_data_pipeline_spark.operators import bpe

    _, syms = bpe.learn_bpe(spark, _docs(spark, sf_dir), n_merges=_BPE_N_MERGES)
    return (
        syms.groupBy("sym")
        .agg(F.sum("freq").alias("total_freq"))
        .select(F.col("sym").alias("token"), "total_freq")
    )


def _bpe_encode_oracle(n: int) -> str:
    """Encode = join the exploded corpus against the learned syms{n}
    word->pieces table; per-doc sequence pinned by the same triple
    polynomial fold (char 131 / piece 1000003 / doc 8191, mod 2^31-1)
    the Spark side computes."""
    char_fold = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(string_split(sym, ''), ch -> CAST(ascii(ch) AS BIGINT))), "
        "(h, x) -> (h * 131 + x) % 2147483647)"
    )
    return f"""{_bpe_ctes(n)},
wh AS (
  SELECT word, pos, {char_fold} AS th FROM syms{n}
),
wp AS (
  SELECT word, CAST(count(*) AS BIGINT) AS n_pieces,
         list_reduce(list_prepend(CAST(0 AS BIGINT), list(th ORDER BY pos)),
                     (h, x) -> (h * 1000003 + x) % 2147483647) AS word_code
  FROM wh GROUP BY word
),
ex AS (
  SELECT doc_id, lang, widx, word FROM (
    SELECT doc_id, lang,
           unnest(range(len(tk))) AS widx,
           unnest(tk) AS word
    FROM (SELECT doc_id, lang, {TOKENS_SQL} AS tk FROM documents)
  ) WHERE word <> ''
),
da AS (
  SELECT doc_id, lang,
         CAST(sum(wp.n_pieces) AS BIGINT) AS n_tokens,
         list_reduce(list_prepend(CAST(0 AS BIGINT), list(wp.word_code ORDER BY widx)),
                     (h, x) -> (h * 8191 + x) % 2147483647) AS seq_hash
  FROM ex JOIN wp USING (word) GROUP BY 1, 2
),
dt AS (
  SELECT lang, CAST(count(DISTINCT syms{n}.sym) AS BIGINT) AS n_distinct_tokens
  FROM (SELECT DISTINCT lang, word FROM ex) lw
  JOIN syms{n} USING (word) GROUP BY 1
)
SELECT da.lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       any_value(dt.n_distinct_tokens) AS n_distinct_tokens,
       CAST(sum(seq_hash) AS BIGINT) AS seq_hash_sum
FROM da JOIN dt USING (lang)
GROUP BY da.lang
"""


@register(
    "bpe_encode_corpus",
    survey_ids=("EXT-text",),
    oracle=_bpe_encode_oracle(_BPE_N_MERGES),
)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE — the tokenize-the-corpus half that completes the
    learn (`bpe_learn_merges`) -> encode lifecycle: apply the fitted
    3-merge vocabulary to every document and pin the exact per-doc
    token sequence (boundaries included) via a triple polynomial fold,
    rolled up per language. Encoding factors through the word, so the
    merge work runs once on the vocab-sized fitted table (broadcast);
    the corpus pays one explode + one integer-only groupBy on doc_id —
    no window over per-token rows, no text in the shuffle
    (`operators/bpe.py:encode_docs`)."""
    from crypto_data_pipeline_spark.operators import bpe

    docs = _docs(spark, sf_dir)
    _, syms = bpe.learn_bpe(spark, docs, n_merges=_BPE_N_MERGES)
    enc = bpe.encode_docs(docs, syms, carry=("lang",))
    wp = bpe.word_pieces(syms)
    ex = docs.select(
        "lang", F.explode(text.tokens("text")).alias("word")
    ).where(F.col("word") != "")
    dt = (
        ex.distinct()
        .join(F.broadcast(wp.select("word", "pieces")), "word")
        .select("lang", F.explode("pieces").alias("piece"))
        .groupBy("lang")
        .agg(F.count_distinct("piece").cast("long").alias("n_distinct_tokens"))
    )
    return (
        enc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("seq_hash").cast("long").alias("seq_hash_sum"),
        )
        .join(dt, "lang")
        .select(
            "lang", "n_docs", "n_tokens", "n_distinct_tokens", "seq_hash_sum"
        )
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval (operators/text.py)

_BM25_TERMS = ("spark", "table", "hash", "window")


@register(
    "bm25_retrieval",
    extra=True,
    survey_ids=("EXT-text", "EXT-sim"),
    oracle=f"""
WITH base AS (SELECT doc_id, {TOKENS_SQL} AS tk FROM documents),
lens AS (SELECT doc_id, len(tk) AS dl FROM base),
totals AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl FROM lens),
tf AS (
  SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(tk) AS t FROM base)
  WHERE t IN {_BM25_TERMS}
  GROUP BY 1, 2
),
dfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         ln(1 + (totals.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf * 2.2
           / (tf.tf + 1.2 * (0.25 + 0.75 * lens.dl / totals.avgdl)) AS contrib
  FROM tf
  JOIN dfreq USING (term)
  JOIN lens USING (doc_id)
  CROSS JOIN totals
)
SELECT doc_id, round(sum(contrib), 6) AS bm25
FROM scored GROUP BY 1
ORDER BY bm25 DESC, doc_id LIMIT 15
""",
)
def bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 (Robertson & Zaragoza 2009) top-15 documents for a
    4-term query (k1=1.2, b=0.75): the lexical-retrieval half of a
    curation/RAG stack next to the embedding ANN paths. Term stats are
    a |Q|-row broadcast, corpus totals a 1-row broadcast, and the
    top-k is TakeOrderedAndProject — no global sort, no corpus-sized
    shuffle beyond the tf aggregation."""
    from crypto_data_pipeline_spark.operators.text import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), list(_BM25_TERMS), k=15)


# ---------------------------------------------------------------------------
# count-min sketch (operators/sketch.py)

_CMS_TERMS = ("table", "spark", "merge", "the", "zz_absent")
_CMS_DEPTH, _CMS_WIDTH, _CMS_SEED = 3, 64, 11


def _cms_oracle() -> str:
    from crypto_data_pipeline_spark.operators.dedup import (
        PORTABLE_MOD,
        portable_minhash_params,
    )

    params = portable_minhash_params(_CMS_DEPTH, _CMS_SEED)
    a_lit = "[" + ", ".join(str(a) for a, _ in params) + "]"
    b_lit = "[" + ", ".join(str(b) for _, b in params) + "]"
    poly = "(h, x) -> (h * 131 + x) % 2147483647"
    fold = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(string_split({col}, ''), ch -> CAST(ascii(ch) AS BIGINT))), "
        f"{poly})"
    )
    terms_sql = "[" + ", ".join(f"'{t}'" for t in _CMS_TERMS) + "]"
    in_list = ", ".join(f"'{t}'" for t in _CMS_TERMS)
    return f"""
WITH toks AS (
  SELECT t FROM (SELECT unnest({TOKENS_SQL}) AS t FROM documents) WHERE t <> ''
),
hashed AS (SELECT {fold.format(col='t')} AS h FROM toks),
cells AS (
  SELECT j, (h * ({a_lit})[j + 1] + ({b_lit})[j + 1]) % {PORTABLE_MOD} % {_CMS_WIDTH} AS bucket,
         CAST(count(*) AS BIGINT) AS c
  FROM hashed, unnest(range({_CMS_DEPTH})) AS g(j)
  GROUP BY 1, 2
),
probes AS (SELECT unnest({terms_sql}) AS term),
pb AS (
  SELECT term,
         j,
         ({fold.format(col='term')} * ({a_lit})[j + 1] + ({b_lit})[j + 1])
           % {PORTABLE_MOD} % {_CMS_WIDTH} AS bucket
  FROM probes, unnest(range({_CMS_DEPTH})) AS g(j)
),
est AS (
  SELECT term, min(coalesce(c, CAST(0 AS BIGINT))) AS cms_estimate
  FROM pb LEFT JOIN cells USING (j, bucket) GROUP BY 1
),
exact AS (
  SELECT t AS term, CAST(count(*) AS BIGINT) AS exact_freq
  FROM toks WHERE t IN ({in_list}) GROUP BY 1
)
SELECT term,
       coalesce(exact_freq, CAST(0 AS BIGINT)) AS exact_freq,
       cms_estimate,
       cms_estimate - coalesce(exact_freq, CAST(0 AS BIGINT)) AS overcount
FROM est LEFT JOIN exact USING (term)
"""


@register(
    "cms_token_estimates",
    extra=True,
    survey_ids=("EXT-text", "EXT-olap"),
    oracle=_cms_oracle(),
)
def cms_token_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point queries (Cormode & Muthukrishnan 2005,
    `operators/sketch.py`): a 3x64 counter grid built in ONE token
    aggregation whose shuffle is bounded by depth*width keys (map-side
    combine collapses each task to <=192 rows at any corpus size),
    probed for 5 terms — one deliberately absent — with the exact
    counts alongside. Portable polynomial hashes make the whole lossy
    sketch hash-check against DuckDB; overcount >= 0 is the CM
    guarantee."""
    from crypto_data_pipeline_spark.operators.sketch import cms_point_estimates

    return cms_point_estimates(
        spark,
        _docs(spark, sf_dir),
        list(_CMS_TERMS),
        depth=_CMS_DEPTH,
        width=_CMS_WIDTH,
        seed=_CMS_SEED,
    )


_ZIPF_TOP = 100


@register(
    "zipf_rank_frequency",
    extra=True,
    survey_ids=("EXT-text", "EXT-olap"),
    oracle=f"""
WITH vocab AS (
  SELECT t AS token, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest({TOKENS_SQL}) AS t FROM documents) WHERE t <> ''
  GROUP BY 1
),
ranked AS (
  SELECT token, freq,
         row_number() OVER (ORDER BY freq DESC, token) AS rnk
  FROM vocab
),
pts AS (
  SELECT ln(CAST(rnk AS DOUBLE)) AS x, ln(CAST(freq AS DOUBLE)) AS y
  FROM ranked WHERE rnk <= {_ZIPF_TOP}
)
SELECT CAST(count(*) AS BIGINT) AS n_terms,
       round(-(covar_pop(x, y) / var_pop(x)), 6) AS zipf_exponent,
       round(avg(y) - covar_pop(x, y) / var_pop(x) * avg(x), 6) AS log_intercept,
       round(corr(x, y) * corr(x, y), 6) AS r2
FROM pts
""",
)
def zipf_rank_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the top-100 vocabulary: OLS of
    ln(freq) on ln(rank) — the corpus-health diagnostic a tokenizer/
    sampling design starts from (natural text sits near exponent 1;
    boilerplate-heavy or templated corpora bend the curve). The vocab
    aggregation is the only corpus-sized job; ranking touches only the
    vocab and the fit is one closed-form aggregation over 100 points
    using the STABLE moment aggregates (the entity_trend_ols
    portability contract)."""
    docs = _docs(spark, sf_dir)
    from pyspark.sql import Window

    vocab = (
        docs.select(F.explode(text.tokens("text")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    top = vocab.orderBy(F.col("freq").desc(), "token").limit(_ZIPF_TOP)
    ranked = top.withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.col("freq").desc(), "token")),
    )
    x = F.log(F.col("rnk").cast("double"))
    y = F.log(F.col("freq").cast("double"))
    slope = F.covar_pop(x, y) / F.var_pop(x)
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.round(-slope, 6).alias("zipf_exponent"),
        F.round(F.avg(y) - slope * F.avg(x), 6).alias("log_intercept"),
        F.round(F.corr(x, y) * F.corr(x, y), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# incremental view maintenance under CDC (sources/cdc.py)


@register(
    "ivm_group_aggregate",
    extra=True,
    survey_ids=("EXT-stream", "EXT-olap"),
    oracle="""
WITH base AS (
  SELECT o_orderkey AS key, o_orderpriority AS grp,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 10 < 8
),
survivors AS (
  SELECT key,
         CASE WHEN key % 10 >= 1 AND key % 13 = 5 AND key % 7 <> 0
              THEN 'MOVED' ELSE grp END AS grp,
         CASE WHEN key % 10 >= 1 AND key % 7 = 0 AND key % 13 <> 5
              THEN cents + 100 ELSE cents END AS cents
  FROM base WHERE key % 10 <> 0
),
final AS (
  SELECT grp, cents FROM survivors
  UNION ALL
  SELECT o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT)
  FROM orders WHERE o_orderkey % 10 = 8
)
SELECT grp, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM final GROUP BY grp
""",
)
def ivm_group_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (Gupta & Mumick; Materialize/Delta
    Live Tables territory — `sources/cdc.py:maintain_group_aggregate`):
    a COUNT/SUM-cents aggregate over orders is maintained under a CDC
    feed with before-images — inserts, deletes, value updates, AND
    group moves — WITHOUT rescanning the base table: deltas aggregate
    map-side to <= |groups| rows and one outer merge applies them to
    the gold table. The oracle recomputes the aggregate from the
    post-change table from scratch; the maintained result must equal
    it exactly (integer cents make retraction order-independent).
    That equality IS the IVM correctness statement."""
    from crypto_data_pipeline_spark.sources.cdc import maintain_group_aggregate

    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = orders.where(k % 10 < 8).select(
        k.alias("key"), F.col("o_orderpriority").alias("grp"), cents.alias("cents")
    )
    agg = base.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("total_cents"),
    )

    key = F.col("key")
    null_g = F.lit(None).cast("string")
    null_v = F.lit(None).cast("long")
    ins = orders.where(k % 10 == 8).select(
        F.lit("U").alias("op"),
        F.col("o_orderpriority").alias("grp"),
        cents.alias("cents"),
        null_g.alias("prev_grp"),
        null_v.alias("prev_cents"),
    )
    dels = base.where(key % 10 == 0).select(
        F.lit("D").alias("op"),
        null_g.alias("grp"),
        null_v.alias("cents"),
        F.col("grp").alias("prev_grp"),
        F.col("cents").alias("prev_cents"),
    )
    upd = base.where((key % 10 >= 1) & (key % 7 == 0) & (key % 13 != 5)).select(
        F.lit("U").alias("op"),
        F.col("grp"),
        (F.col("cents") + 100).alias("cents"),
        F.col("grp").alias("prev_grp"),
        F.col("cents").alias("prev_cents"),
    )
    mov = base.where((key % 10 >= 1) & (key % 13 == 5) & (key % 7 != 0)).select(
        F.lit("U").alias("op"),
        F.lit("MOVED").alias("grp"),
        F.col("cents"),
        F.col("grp").alias("prev_grp"),
        F.col("cents").alias("prev_cents"),
    )
    changes = ins.unionByName(dels).unionByName(upd).unionByName(mov)
    return maintain_group_aggregate(
        agg,
        changes,
        group_col="grp",
        value_col="cents",
        cnt_col="n_rows",
        sum_col="total_cents",
        prev_group_col="prev_grp",
        prev_value_col="prev_cents",
    )


# ---------------------------------------------------------------------------
# snapshot / generation diff (sources/generations.py)


@register(
    "snapshot_diff_orders",
    extra=True,
    survey_ids=("EXT-olap", "EXT-stream"),
    oracle="""
WITH old AS (SELECT * FROM orders WHERE o_orderkey % 10 < 8),
new AS (
  SELECT * REPLACE (CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                         ELSE o_totalprice END AS o_totalprice)
  FROM orders WHERE o_orderkey % 10 >= 1
),
d AS (
  SELECT coalesce(old.o_orderkey, new.o_orderkey) AS k,
         CASE WHEN old.o_orderkey IS NULL THEN 'added'
              WHEN new.o_orderkey IS NULL THEN 'removed'
              WHEN old.o_totalprice IS DISTINCT FROM new.o_totalprice THEN 'changed'
         END AS change
  FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
)
SELECT change, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(k) AS BIGINT) AS key_sum
FROM d WHERE change IS NOT NULL GROUP BY change
""",
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level snapshot diff (`sources/generations.py:snapshot_diff`
    — the audit half of the generation-addressed store: "what did this
    publish actually change?"). Two derived orders snapshots — one
    dropping a key slice and bumping every 7th price — are diffed into
    added/removed/changed with EXACT null-safe struct comparison (no
    content hash, no collision caveat) in one full-outer join keyed on
    o_orderkey; unchanged rows die inside the join. Publishing
    generations bucketed by the key removes even that Exchange."""
    from crypto_data_pipeline_spark.sources.generations import snapshot_diff

    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    old = orders.where(k % 10 < 8)
    new = orders.where(k % 10 >= 1).withColumn(
        "o_totalprice",
        F.when(k % 7 == 0, F.col("o_totalprice") + 1.0).otherwise(
            F.col("o_totalprice")
        ),
    )
    d = snapshot_diff(old, new, ["o_orderkey"])
    return d.groupBy("change").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
    )


_HLL_M, _HLL_SEED = 256, 29


def _hll_setops_oracle() -> str:
    from crypto_data_pipeline_spark.operators.sketch import hll_alpha, sql_hll_hash

    hh = sql_hll_hash("user_id", _HLL_SEED)
    m = _HLL_M
    alpha = hll_alpha(m)
    wbits1 = 31 - (m.bit_length() - 1) + 1
    est = (
        f"CASE WHEN ((CAST({alpha!r} AS DOUBLE) * {m}) * {m}) / (s + ({m} - nz))"
        f" <= 2.5 * {m} AND ({m} - nz) > 0"
        f" THEN {m} * ln({m} / ({m} - nz))"
        f" ELSE ((CAST({alpha!r} AS DOUBLE) * {m}) * {m}) / (s + ({m} - nz)) END"
    )
    return f"""
WITH hashed AS (
  SELECT CASE WHEN event_type IN ('click', 'view') THEN event_type END AS grp,
         {hh} AS h
  FROM events WHERE user_id IS NOT NULL AND event_type IN ('click', 'view')
),
regs AS (
  SELECT grp, h % {m} AS j,
         max(CASE WHEN h // {m} = 0 THEN {wbits1}
                  ELSE {wbits1} - length(bin(h // {m})) END) AS r
  FROM hashed GROUP BY 1, 2
),
union_regs AS (SELECT 'union' AS grp, j, max(r) AS r FROM regs GROUP BY 2),
all_regs AS (SELECT * FROM regs UNION ALL SELECT * FROM union_regs),
per AS (
  SELECT grp, sum(power(2.0, -r)) AS s, CAST(count(*) AS DOUBLE) AS nz
  FROM all_regs GROUP BY 1
),
est AS (SELECT grp, round({est}, 6) AS e FROM per),
p AS (
  SELECT max(CASE WHEN grp = 'click' THEN e END) AS a_est,
         max(CASE WHEN grp = 'view' THEN e END) AS b_est,
         max(CASE WHEN grp = 'union' THEN e END) AS union_est
  FROM est
),
exact AS (
  SELECT CAST(count(DISTINCT CASE WHEN event_type = 'click' THEN user_id END) AS BIGINT) AS a_exact,
         CAST(count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS BIGINT) AS b_exact,
         CAST(count(DISTINCT user_id) AS BIGINT) AS union_exact,
         CAST(count(DISTINCT CASE WHEN in_a AND in_b THEN user_id END) AS BIGINT) AS intersect_exact
  FROM (
    SELECT user_id, event_type,
           bool_or(event_type = 'click') OVER (PARTITION BY user_id) AS in_a,
           bool_or(event_type = 'view') OVER (PARTITION BY user_id) AS in_b
    FROM events WHERE user_id IS NOT NULL AND event_type IN ('click', 'view')
  )
)
SELECT coalesce(a_est, 0.0) AS a_est, coalesce(b_est, 0.0) AS b_est,
       coalesce(union_est, 0.0) AS union_est,
       round(coalesce(a_est, 0.0) + coalesce(b_est, 0.0) - coalesce(union_est, 0.0), 6) AS intersect_est,
       a_exact, b_exact, union_exact, intersect_exact
FROM p, exact
"""


@register(
    "hll_set_ops",
    extra=True,
    survey_ids=("EXT-olap",),
    oracle=_hll_setops_oracle(),
)
def hll_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL SET ALGEBRA over two user cohorts (click vs view): union
    cardinality by register max-merge (`sketch.hll_merge` — lossless,
    the sketch of the union), intersection by inclusion-exclusion on
    the three estimates. This is the audience-overlap query every
    analytics store answers from sketches because the exact form needs
    a full per-user shuffle; here each cohort is |m| registers and the
    union costs one groupBy(max) over 2m rows. All estimates
    bit-reproducible in DuckDB (portable registers + exactly-
    associative harmonic sums); exact counts sit alongside as the
    error witness."""
    from crypto_data_pipeline_spark.operators.sketch import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    events = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "view")
    )
    regs = hll_registers(
        events, F.col("user_id"), m=_HLL_M, seed=_HLL_SEED, group=("event_type",)
    ).persist()
    union_regs = hll_merge(regs)
    ests = {
        r["event_type"]: r["hll_estimate"]
        for r in hll_estimate(regs, m=_HLL_M, group=("event_type",)).collect()
    }
    # empty cohort -> zero registers -> linear counting gives m*ln(1)=0;
    # the grouped frame simply has no row for it, so default explicitly
    a_est = ests.get("click", 0.0)
    b_est = ests.get("view", 0.0)
    union_rows = hll_estimate(union_regs, m=_HLL_M).collect()
    union_est = union_rows[0]["hll_estimate"] if union_rows else 0.0
    if union_est is None:  # global agg over zero registers
        union_est = 0.0
    regs.unpersist()

    flags = events.where(F.col("user_id").isNotNull()).groupBy("user_id").agg(
        F.max((F.col("event_type") == "click").cast("int")).alias("in_a"),
        F.max((F.col("event_type") == "view").cast("int")).alias("in_b"),
    )
    zero = F.lit(0).cast("long")
    ex = flags.agg(
        F.coalesce(F.sum("in_a"), zero).cast("long").alias("a_exact"),
        F.coalesce(F.sum("in_b"), zero).cast("long").alias("b_exact"),
        F.count(F.lit(1)).cast("long").alias("union_exact"),
        F.coalesce(F.sum(F.col("in_a") * F.col("in_b")), zero)
        .cast("long")
        .alias("intersect_exact"),
    )
    return ex.select(
        F.lit(a_est).alias("a_est"),
        F.lit(b_est).alias("b_est"),
        F.lit(union_est).alias("union_est"),
        F.round(F.lit(a_est + b_est - union_est), 6).alias("intersect_est"),
        "a_exact",
        "b_exact",
        "union_exact",
        "intersect_exact",
    )


def _hll_rollup_oracle() -> str:
    from crypto_data_pipeline_spark.operators.sketch import hll_alpha, sql_hll_hash

    hh = sql_hll_hash("user_id", _HLL_SEED)
    m = _HLL_M
    alpha = hll_alpha(m)
    wbits1 = 31 - (m.bit_length() - 1) + 1
    def est(t: str) -> str:
        return (
            f"CASE WHEN ((CAST({alpha!r} AS DOUBLE) * {m}) * {m}) / ({t}.s + ({m} - {t}.nz))"
            f" <= 2.5 * {m} AND ({m} - {t}.nz) > 0"
            f" THEN {m} * ln({m} / ({m} - {t}.nz))"
            f" ELSE ((CAST({alpha!r} AS DOUBLE) * {m}) * {m}) / ({t}.s + ({m} - {t}.nz)) END"
        )

    return f"""
WITH hashed AS (
  SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
         CAST(ts AS DATE) AS day,
         {hh} AS h
  FROM events WHERE user_id IS NOT NULL
),
daily AS (
  SELECT month, day, h % {m} AS j,
         max(CASE WHEN h // {m} = 0 THEN {wbits1}
                  ELSE {wbits1} - length(bin(h // {m})) END) AS r
  FROM hashed GROUP BY 1, 2, 3
),
monthly_direct AS (
  SELECT month, h % {m} AS j,
         max(CASE WHEN h // {m} = 0 THEN {wbits1}
                  ELSE {wbits1} - length(bin(h // {m})) END) AS r
  FROM hashed GROUP BY 1, 2
),
monthly_merged AS (SELECT month, j, max(r) AS r FROM daily GROUP BY 1, 2),
pd AS (SELECT month, sum(power(2.0, -r)) AS s, CAST(count(*) AS DOUBLE) AS nz
       FROM monthly_direct GROUP BY 1),
pm AS (SELECT month, sum(power(2.0, -r)) AS s, CAST(count(*) AS DOUBLE) AS nz
       FROM monthly_merged GROUP BY 1),
exact AS (
  SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
)
SELECT exact.month, exact.n_exact,
       round(({est("pd")}), 6) AS hll_direct,
       round(({est("pm")}), 6) AS hll_from_daily
FROM exact
JOIN pd ON pd.month = exact.month
JOIN pm ON pm.month = exact.month
"""


@register(
    "distinct_users_hll_rollup",
    extra=True,
    survey_ids=("EXT-olap", "EXT-stream"),
    oracle=_hll_rollup_oracle(),
)
def distinct_users_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-once / merge-upward rollup GATED: per-day HLL
    register tables merge into monthly sketches by one groupBy(max),
    and the query emits BOTH the direct monthly estimate and the
    merged-from-daily one — they must be identical (register max-merge
    is lossless), which the DuckDB oracle re-derives independently.
    This is the daily→monthly pattern a 100 TB pipeline runs so raw
    events are scanned once, at arrival, and every coarser grain is a
    kilobyte-sized merge."""
    from crypto_data_pipeline_spark.operators.sketch import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    events = load_table(spark, sf_dir, "events").select(
        F.date_trunc("month", "ts").cast("date").alias("month"),
        F.to_date("ts").alias("day"),
        "user_id",
    )
    daily = hll_registers(
        events, F.col("user_id"), m=_HLL_M, seed=_HLL_SEED, group=("month", "day")
    )
    merged = hll_merge(daily, group=("month",))
    direct = hll_registers(
        events, F.col("user_id"), m=_HLL_M, seed=_HLL_SEED, group=("month",)
    )
    est_d = hll_estimate(direct, m=_HLL_M, group=("month",)).withColumnRenamed(
        "hll_estimate", "hll_direct"
    )
    est_m = hll_estimate(merged, m=_HLL_M, group=("month",)).withColumnRenamed(
        "hll_estimate", "hll_from_daily"
    )
    exact = (
        events.where(F.col("user_id").isNotNull())
        .groupBy("month")
        .agg(F.count_distinct("user_id").cast("long").alias("n_exact"))
    )
    return exact.join(est_d, "month").join(est_m, "month").select(
        "month", "n_exact", "hll_direct", "hll_from_daily"
    )


# ---------------------------------------------------------------------------
# exact two-pass heavy hitters (operators/sketch.py)

_HH_NUM, _HH_DEN = 1, 100  # share >= 1%


@register(
    "heavy_hitter_tokens",
    bench=True,
    survey_ids=("EXT-text", "EXT-olap"),
    oracle=f"""
WITH toks AS (
  SELECT t AS k FROM (SELECT unnest({TOKENS_SQL}) AS t FROM documents) WHERE t <> ''
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks)
SELECT k, CAST(count(*) AS BIGINT) AS freq,
       round(count(*) * 100.0 / any_value(tot.n), 6) AS share_pct
FROM toks, tot
GROUP BY k
HAVING count(*) * {_HH_DEN} >= any_value(tot.n) * {_HH_NUM}
""",
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy-hitter tokens (share >= 1%) via the two-pass
    Misra-Gries prune (`operators/sketch.py:heavy_hitters_exact`):
    pass 1 runs bounded-memory MG per partition in one Arrow
    mapInPandas, emitting <= ~200 certified candidate keys per task;
    pass 2 broadcast-semi-joins the stream to candidates and counts
    ONLY them. At 100 TB the exact alternative shuffles the entire
    vocabulary; here the shuffle carries just the candidate slice,
    yet the output is bit-exact (integer threshold arithmetic) —
    which is why a plain-SQL DuckDB oracle can gate a sketch-routed
    query. The certificate: any key with global count > N/(cap+1)
    must exceed the MG bound in some partition (pigeonhole), so no
    true heavy hitter can be pruned."""
    from crypto_data_pipeline_spark.operators.sketch import heavy_hitters_exact

    stream = _docs(spark, sf_dir).select(
        F.explode(text.tokens("text")).alias("t")
    ).where(F.col("t") != "")
    return heavy_hitters_exact(stream, F.col("t"), _HH_NUM, _HH_DEN)


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch (operators/sketch.py)


def _hll_oracle() -> str:
    from crypto_data_pipeline_spark.operators.sketch import hll_alpha, sql_hll_hash

    hh = sql_hll_hash("user_id", _HLL_SEED)
    m = _HLL_M
    alpha = hll_alpha(m)
    wbits1 = 31 - (m.bit_length() - 1) + 1  # rho for w = 0
    return f"""
WITH hashed AS (
  SELECT event_type,
         {hh} AS h
  FROM events WHERE user_id IS NOT NULL
),
regs AS (
  SELECT event_type, h % {m} AS j,
         max(CASE WHEN h // {m} = 0 THEN {wbits1}
                  ELSE {wbits1} - length(bin(h // {m})) END) AS r
  FROM hashed GROUP BY 1, 2
),
per AS (
  SELECT event_type, sum(power(2.0, -r)) AS s,
         CAST(count(*) AS DOUBLE) AS nz
  FROM regs GROUP BY 1
),
est AS (
  SELECT event_type,
         CASE WHEN ((CAST({alpha!r} AS DOUBLE) * {m}) * {m}) / (s + ({m} - nz))
                   <= 2.5 * {m}
              AND ({m} - nz) > 0
              THEN {m} * ln({m} / ({m} - nz))
              ELSE ((CAST({alpha!r} AS DOUBLE) * {m}) * {m}) / (s + ({m} - nz))
         END AS e
  FROM per
),
exact AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
)
SELECT event_type, n_exact,
       round(e, 6) AS hll_estimate,
       round((round(e, 6) - n_exact) / n_exact * 100, 6) AS rel_err_pct
FROM est JOIN exact USING (event_type)
"""


@register(
    "distinct_users_hll_portable",
    extra=True,
    bench=True,
    survey_ids=("EXT-olap", "EXT-stream"),
    oracle=_hll_oracle(),
)
def distinct_users_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog per-event-type distinct users (Flajolet et al. 2007,
    `operators/sketch.py:hll_registers`): 256 max-monotone registers
    per group — ONE aggregation whose shuffle is bounded by
    |groups|*256 keys at any input size, vs the full distinct-key
    shuffle an exact COUNT(DISTINCT) pays; registers also merge across
    partitions/days by the same groupBy(max), which is how a 100 TB
    pipeline maintains the sketch incrementally. The portable hash
    family + integer bit-length rho + an exactly-associative harmonic
    sum (all terms are powers of two that fit one mantissa) make even
    the ESTIMATES bit-reproducible in DuckDB — both correction
    branches (linear counting at sf<=0.01, raw harmonic at sf0.1) are
    exercised by the test SFs. Exact counts sit alongside, so the row
    also documents the sketch's actual relative error — and since the
    exact branch must dedupe the key stream anyway, the registers ride
    that SAME deduped frame, with estimate and truth emerging as two
    columns of ONE final aggregation (`hll_distinct_with_exact`,
    round-8 consolidation: 4 exchanges -> 3, the join gone; the
    remaining big shuffle is the dedup the exactness column inherently
    pays). Pure sketch maintenance without the exactness column stays
    `hll_registers` on the raw scan — the |groups|*m-bounded
    shuffle."""
    from crypto_data_pipeline_spark.operators.sketch import hll_distinct_with_exact

    events = load_table(spark, sf_dir, "events")
    both = hll_distinct_with_exact(
        events, F.col("user_id"), m=_HLL_M, seed=_HLL_SEED, group=("event_type",)
    )
    return both.select(
        "event_type",
        "n_exact",
        "hll_estimate",
        F.round(
            (F.col("hll_estimate") - F.col("n_exact")) / F.col("n_exact") * 100, 6
        ).alias("rel_err_pct"),
    )
