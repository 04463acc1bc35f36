"""Vocabulary-GROWTH scale probe — the axis clone replication is
blind to.

`tools/scale_probe.py` replicates existing rows, so its token
universe is FIXED: every "bounded model" claim it produced for
vocab-shaped structures (the bigram-LM grid, the NB likelihood
table) was validated on a probe that cannot observe Heaps-law
growth. This probe synthesizes a corpus whose distinct-token count
actually grows with K — vocab(K) = ceil(2000 * K^0.6), the Heaps
exponent of real text — and measures, at each K:

- the bigram LM's grid/ctx/cont row counts (`lm_fit`, unpruned and
  min_count=2 — all three frames are vocabulary-proportional),
- NB likelihood-grid row counts,
- the join strategy AQE picks for the model joins in the LM serve
  (`lm_scores` against the at-rest model, both smoothing families in
  one pass) and the NB serve ("broadcast" vs "shuffled"); neither
  carries a broadcast hint on its model frames,
- the DSIR log-ratio model: hash-bucketed, so its row count
  must stay EXACTLY n_buckets while every vocab-shaped model above
  grows — the structural alternative to pruning knobs, measured on
  the same Heaps-law corpora — and its scoring-join strategy.

Expected shape (recorded in docs/SCALE_PROBE.md): model rows GROW
with K; small models broadcast; once a model outgrows
spark.sql.autoBroadcastJoinThreshold the SAME serve code degrades to
a shuffled hash/sort-merge join instead of OOMing the driver.
min_count pruning collapses the grid's singleton tail (most of a
Heaps-law grid) back into broadcast range.

Token draw: tok = floor(u^2 * vocab) with u = pmod(xxhash64(doc,pos),
1000003)/1000003 — the quadratic skew gives common tokens real
repeat counts (so min_count pruning has both survivors and victims)
while the tail keeps growing with vocab. Fully deterministic: same K
-> same corpus on any run.

Structures NOT probed here, bounded by CONFIG rather than corpus:
BPE merge tables (rows == the requested n_merges,
operators/bpe.py) and Misra-Gries candidate sets (<= k entries by
algorithm invariant, operators/sketch.py) — their caps are
parameters, not vocabulary-dependent measurements.

Usage:  python tools/vocab_probe.py [K ...]     (default: 1 10 100)
Prints one JSON line per K.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from crypto_data_pipeline_spark import get_spark

DOCS_PER_K = 2000
TOKENS_PER_DOC = 40


def synth_docs(spark, k: int) -> tuple[DataFrame, int]:
    vocab = int(math.ceil(2000 * k ** 0.6))
    text = F.expr(
        "array_join(transform(sequence(1, {n}), p -> concat('t', cast(floor("
        "  pow(pmod(xxhash64(doc_id, p), 1000003) / 1000003.0, 2) * {v}"
        ") as long))), ' ')".format(n=TOKENS_PER_DOC, v=vocab)
    )
    docs = (
        spark.range(DOCS_PER_K * k)
        .select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 10 < 8, "en").otherwise("fr").alias("lang"),
        )
        .withColumn("text", text)
    )
    return docs, vocab


def join_strategies(df: DataFrame) -> dict[str, int]:
    """Execute df and count join operators in the FINAL adaptive plan
    (AdaptiveSparkPlan.toString appends the pre-execution '== Initial
    Plan ==' section, whose speculative sort-merge joins AQE replaced
    at runtime — count only what actually ran)."""
    df._jdf.queryExecution().toRdd().count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    return {
        "broadcast_hash": plan.count("BroadcastHashJoin"),
        "sort_merge": plan.count("SortMergeJoin"),
        "shuffled_hash": plan.count("ShuffledHashJoin"),
    }


def probe(spark, k: int, model_dir: str) -> dict:
    from crypto_data_pipeline_spark.ml.classify import nb_predict, nb_train
    from crypto_data_pipeline_spark.operators.lm import lm_fit, lm_scores

    docs, vocab = synth_docs(spark, k)
    docs = docs.localCheckpoint(eager=True)  # freeze the corpus once

    lm = lm_fit(docs, f"{model_dir}/lm_k{k}")
    lm_p = lm_fit(docs, f"{model_dir}/lm_k{k}_mc2", min_count=2)
    lm_joins = join_strategies(lm_scores(docs, *lm))
    lm_joins_pruned = join_strategies(lm_scores(docs, *lm_p))

    classes, nb_grid = nb_train(docs, label="lang")
    nb_joins = join_strategies(nb_predict(docs, classes, nb_grid))

    from crypto_data_pipeline_spark.operators.dsir import (
        dsir_bucket_logratio,
        dsir_features,
        dsir_importance_weights,
    )

    feats = dsir_features(docs)
    dsir_model = dsir_bucket_logratio(
        feats.join(
            docs.where(F.col("lang") == "en").select(F.col("doc_id").alias("id")), "id"
        ),
        feats,
    )
    dsir_joins = join_strategies(dsir_importance_weights(docs, dsir_model, feats=feats))

    out = {
        "K": k,
        "vocab": vocab,
        "n_docs": DOCS_PER_K * k,
        "lm_grid_rows": lm[0].count(),
        "lm_ctx_rows": lm[1].count(),
        "lm_cont_rows": lm[2].count(),
        "lm_grid_rows_mc2": lm_p[0].count(),
        "lm_ctx_rows_mc2": lm_p[1].count(),
        "lm_cont_rows_mc2": lm_p[2].count(),
        "nb_grid_rows": nb_grid.count(),
        "dsir_model_rows": dsir_model.count(),
        "dsir_joins": dsir_joins,
        "lm_joins": lm_joins,
        "lm_joins_mc2": lm_joins_pruned,
        "nb_joins": nb_joins,
    }
    # the corpus and NB frames are localCheckpoint-backed: unpersist()
    # would be a no-op (they are not in the cache manager) — their blocks
    # are reclaimed by the ContextCleaner once the RDDs are GC'd, so drop
    # the references and nudge the collector before the next, bigger K
    del lm, lm_p, classes, nb_grid, feats, dsir_model, docs
    import gc

    gc.collect()
    return out


def main() -> None:
    ks = [int(a) for a in sys.argv[1:]] or [1, 10, 100]
    spark = get_spark("vocab-probe")
    model_dir = tempfile.mkdtemp(prefix="vocab_probe_")
    try:
        for k in ks:
            print(json.dumps(probe(spark, k, model_dir)), flush=True)
    finally:
        shutil.rmtree(model_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
