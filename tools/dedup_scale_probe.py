"""MinHash dedup tier at corpus scale: the above-toy measurement of
the near-dup pipeline, as tools/ann_scale_probe.py is for the ANN tier.

Synthesizes N documents with DELIBERATE structure, all generated as
JVM-side expressions (no Python in the data path):

- planted near-dup pairs: ids (100m, 100m+1) share a 60-token stream;
  the odd twin mutates 1-3 hash-chosen tokens (expected exact Jaccard
  0.73-0.90 over k=3 shingles — straddling the banding's steep zone,
  not a trivially-identical clone). 2% of the corpus; N/100 true
  pairs. These are the RECALL denominator.
- one HOT TEMPLATE family (ids ≡ 7 mod 500, 0.2% of the corpus): every
  member is the same template with one doc-unique token — pairwise
  Jaccard ≈ 0.8, so uncapped banding would bucket ~N/500 docs together
  and emit O((N/500)²) pairs; at 2M that is ~8M pairs from 4,000 docs.
  This is the skew the hot-bucket cap (portable_lsh_candidate_pairs
  max_bucket) exists for; the probe measures the cap ENGAGING.
- everything else: doc-unique token streams (no accidental near-dups
  beyond hash coincidence).

Measured per N, end to end on the operator path at 32 hashes in 8
bands (portable_minhash_signatures → portable_lsh_candidate_pairs →
minhash_dedup_pairs_portable):

- bucket histogram BEFORE the cap (portable_lsh_band_buckets): buckets over
  the cap, rows inside them, max bucket size — cap engagement as a
  direct artifact;
- candidate pairs after the cap, pairs-scored-per-doc, candidate
  fraction of N·(N-1)/2 — the "never all-pairs" claim with numbers;
- verified near-dup pairs, wall seconds for the full pipeline;
- RECALL on the planted pairs (the
  test_minhash_lsh_recall_and_precision ≥0.8 floor, re-checked at
  scale) and precision-by-construction (every planted pair emitted
  must verify at threshold 0.7);
- hot-family pairs that leaked through surviving small buckets
  (reported, not hidden — the cap drops buckets, not the family).

Fully deterministic data; wall-clock is single-run on a busy
local[32] (the deterministic columns are the bucket/pair counts —
docs/BENCH_VARIANCE.md).

Usage:  python tools/dedup_scale_probe.py [N ...]   (default: 200000)
Prints one JSON line per N.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from crypto_data_pipeline_spark import get_spark
from crypto_data_pipeline_spark.operators import dedup

N_TOKENS = 60
VOCAB = 997
MAX_BUCKET = 200
THRESHOLD = 0.7
NUM_HASHES, BANDS = 32, 8


def synth_docs(spark, n: int) -> DataFrame:
    """(doc_id, text): the planted-structure corpus described in the
    module docstring, one deterministic SQL expression per branch."""
    base = (
        "transform(sequence(1, {nt}), j -> "
        "concat('w', pmod(xxhash64({gid}, j), {v})))"
    )
    hot = (
        "transform(sequence(1, {nt}), j -> CASE "
        "WHEN j = cast(pmod(xxhash64('h', id), {nt}) + 1 as int) "
        "THEN concat('u', id) "
        "ELSE concat('w', pmod(xxhash64(9, j), {v})) END)"
    ).format(nt=N_TOKENS, v=VOCAB)
    twin = (
        "transform(sequence(1, {nt}), j -> CASE "
        "WHEN exists(sequence(1, cast(1 + pmod(xxhash64('e', id), 3) as int)), "
        "            e -> cast(pmod(xxhash64('m', id, e), {nt}) + 1 as int) = j) "
        "THEN concat('m', id, '_', j) "
        "ELSE concat('w', pmod(xxhash64(id - 1, j), {v})) END)"
    ).format(nt=N_TOKENS, v=VOCAB)
    text = (
        "array_join(CASE "
        f"WHEN id % 500 = 7 THEN {hot} "
        f"WHEN id % 100 = 1 THEN {twin} "
        f"ELSE {base.format(nt=N_TOKENS, gid='id', v=VOCAB)} END, ' ')"
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"), F.expr(text).alias("text")
    )


def probe_n(spark, n: int) -> dict:
    docs = synth_docs(spark, n).persist()
    docs.count()  # materialize; generation is not what we time

    # --- cap engagement: the pre-cap bucket histogram -----------------
    sigs = dedup.portable_minhash_signatures(docs, num_hashes=NUM_HASHES).persist()
    buckets = dedup.portable_lsh_band_buckets(sigs, NUM_HASHES, BANDS).persist()
    b = buckets.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum((F.size("ids") > MAX_BUCKET).cast("long")).alias("n_capped"),
        F.sum(
            F.when(F.size("ids") > MAX_BUCKET, F.size("ids")).otherwise(0)
        ).alias("rows_in_capped"),
        F.max(F.size("ids")).alias("max_bucket_size"),
    ).collect()[0]
    cands = dedup.portable_lsh_candidate_pairs(sigs, NUM_HASHES, BANDS, MAX_BUCKET)
    n_cands = cands.count()
    buckets.unpersist()
    sigs.unpersist()

    # --- the full pipeline, timed end to end --------------------------
    t0 = time.perf_counter()
    verified = dedup.minhash_dedup_pairs_portable(
        docs, THRESHOLD, num_hashes=NUM_HASHES, bands=BANDS, max_bucket=MAX_BUCKET
    ).persist()
    n_verified = verified.count()
    wall = round(time.perf_counter() - t0, 3)

    # --- recall on the planted pairs; hot leakage ---------------------
    planted_total = len(range(0, n - 1, 100))  # ids (100m, 100m+1)
    planted_hit = verified.where(
        (F.col("id_a") % 100 == 0) & (F.col("id_b") == F.col("id_a") + 1)
    ).count()
    hot_pairs = verified.where(
        (F.col("id_a") % 500 == 7) & (F.col("id_b") % 500 == 7)
    ).count()
    verified.unpersist()
    docs.unpersist()

    recall = round(planted_hit / planted_total, 4) if planted_total else -1.0
    return {
        "n_docs": n,
        "wall_seconds_pipeline": wall,
        "n_buckets": int(b.n_buckets),
        "buckets_over_cap": int(b.n_capped),
        "rows_in_capped_buckets": int(b.rows_in_capped),
        "max_bucket_size": int(b.max_bucket_size),
        "candidate_pairs": int(n_cands),
        "pairs_scored_per_doc": round(n_cands / n, 4),
        "candidate_fraction": round(n_cands / (n * (n - 1) / 2), 10),
        "verified_pairs": int(n_verified),
        "planted_pairs": planted_total,
        "planted_recall": recall,
        "recall_floor_0.8_held": bool(recall >= 0.8),
        "hot_family_docs": len(range(7, n, 500)),
        "hot_pairs_leaked": int(hot_pairs),
    }


def main() -> None:
    ns = [int(a) for a in sys.argv[1:]] or [200_000]
    spark = get_spark("dedup-scale-probe")
    for n in ns:
        print(json.dumps(probe_n(spark, n)), flush=True)


if __name__ == "__main__":
    main()
