"""End-to-end training-corpus pipeline: the operator surfaces compose
(column contracts line up) and every stage strictly narrows or
restructures the corpus the way a real 100 TB preprocessing DAG would:

    quality filter → benchmark decontamination → cross-source exact
    dedup → near-dup clustering survivors → train/val/test split →
    token-budget packing
"""

from __future__ import annotations

from pyspark.sql import functions as F

from crypto_data_pipeline_spark.operators import contamination, dedup, sampling, text
from crypto_data_pipeline_spark.operators.graph import connected_components
from crypto_data_pipeline_spark.sources.tables import load_table
import pytest


@pytest.mark.slow
def test_full_corpus_pipeline_composes(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    n0 = docs.count()

    # 1. quality filter
    scored = text.with_quality_filter(text.with_text_stats(docs))
    kept = scored.where(F.col("keep") == 1).select("doc_id", "text", "lang", "source")
    n1 = kept.count()
    assert 0 < n1 < n0

    # 2. decontaminate against a held-out benchmark slice
    bench = docs.where((F.col("doc_id") % 97) == 0)
    clean = contamination.decontaminate(
        kept.where((F.col("doc_id") % 97) != 0), bench
    )
    n2 = clean.count()
    assert 0 < n2 <= n1

    # 3. exact dedup with source-priority survivorship
    uniq = dedup.exact_dedup_prioritized(
        clean,
        order_by=[F.expr("CAST(substring(source, 4) AS INT)"), F.col("doc_id")],
    )
    n3 = uniq.count()
    assert 0 < n3 <= n2

    # 4. near-dup clustering: keep one representative per cluster
    pairs = dedup.minhash_dedup_pairs_portable(uniq, threshold=0.5, num_hashes=32, bands=8)
    comps = connected_components(pairs, src="id_a", dst="id_b")
    drop = comps.where(F.col("v") != F.col("component")).select(
        F.col("v").alias("doc_id")
    )
    reps = uniq.join(drop, "doc_id", "left_anti")
    n4 = reps.count()
    assert 0 < n4 <= n3

    # 5. leakage-free split
    split = reps.withColumn(
        "split",
        sampling.split_column(
            F.col("doc_id"), {"train": 0.8, "val": 0.1, "test": 0.1}, salt=11
        ),
    )
    by_split = {r["split"]: r["n"] for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(by_split) <= {"train", "val", "test"} and by_split.get("train", 0) > 0

    # 6. pack the training split into token-budget batches per source
    train = split.where(F.col("split") == "train").withColumn(
        "toks", F.size(text.tokens("text")).cast("long")
    )
    packed = sampling.pack_sequences(
        train, order_key="doc_id", token_col="toks", budget=2048, stratum="source"
    )
    stats = packed.groupBy("source", "pack_id").agg(F.sum("toks").alias("pack_tokens"))
    # a pack overflows by at most its final document
    max_doc = train.agg(F.max("toks")).first()[0]
    assert stats.where(F.col("pack_tokens") > 2048 + max_doc).count() == 0
    assert packed.count() == train.count()


def test_curation_stage_cache_partitions_are_bounded(spark):
    """Round 12 (VERDICT r11 next #4): the persisted stage frames must
    not inherit a wide-partition corpus's layout — the round-11 20M
    probe OOM'd a 16g heap on 300 MB cached blocks before working
    around it probe-side; the bound now lives in curation_stages
    itself. A planted 4k-doc corpus squeezed into ONE partition with a
    500-row bound must persist q across ≥ 8 partitions (and exk across
    the same bound), and the decision record must be IDENTICAL to the
    unbounded path's — the bound is a layout decision, never a
    semantic one."""
    from crypto_data_pipeline_spark.plans.extension_queries import (
        curation_decision_record,
        curation_stages,
    )

    langs = F.array(*[F.lit(x) for x in ("en", "es", "de", "fr", "pt")])
    wide = (
        spark.range(4000)
        .coalesce(1)  # the planted anti-pattern: everything in one block
        .select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("the of and to in on document body "),
                F.conv(F.col("id").cast("string"), 10, 26),
            ).alias("text"),
            langs[F.pmod(F.xxhash64("id"), F.lit(5)).cast("int")].alias("lang"),
        )
    )
    assert wide.rdd.getNumPartitions() == 1

    staged = curation_stages(wide, max_rows_per_cache_partition=500)
    q, _ex, exk, _dom, _sigs = staged
    assert q.rdd.getNumPartitions() == 8  # ceil(4000 / 500)
    assert exk.rdd.getNumPartitions() == 8
    bounded_rows = sorted(
        tuple(r) for r in curation_decision_record(staged).collect()
    )

    unbounded = curation_stages(wide, max_rows_per_cache_partition=None)
    plain_rows = sorted(
        tuple(r) for r in curation_decision_record(unbounded).collect()
    )
    for frame in (q, exk, staged[3], staged[4],
                  unbounded[0], unbounded[2], unbounded[3], unbounded[4]):
        frame.unpersist()
    assert bounded_rows == plain_rows and bounded_rows


def test_curation_stage_bound_skips_count_for_file_scans(spark, tmp_path):
    """Round 13 (ADVICE r12): a file-backed input is already
    byte-bounded by maxPartitionBytes, so curation_stages must not pay
    the sizing count() (a full corpus scan per cold build) nor inject
    the repartition — even when the row bound alone would demand one.
    A 400-row single-file parquet with a 50-row bound keeps the scan's
    own partitioning; the generated-frame path (previous test) still
    repartitions."""
    from crypto_data_pipeline_spark.plans.extension_queries import curation_stages

    src = (
        spark.range(400)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("the of and to in on document body "),
                F.conv(F.col("id").cast("string"), 10, 26),
            ).alias("text"),
            F.lit("en").alias("lang"),
        )
    )
    path = str(tmp_path / "docs_parquet")
    src.coalesce(1).write.parquet(path)
    docs = spark.read.parquet(path)
    assert docs.inputFiles()

    staged = curation_stages(docs, max_rows_per_cache_partition=50)
    q = staged[0]
    try:
        # old behavior would repartition to ceil(400/50) = 8; the guard
        # keeps the byte-bounded scan layout untouched
        assert q.rdd.getNumPartitions() == docs.rdd.getNumPartitions()
    finally:
        for frame in (staged[0], staged[2], staged[3], staged[4]):
            frame.unpersist()
