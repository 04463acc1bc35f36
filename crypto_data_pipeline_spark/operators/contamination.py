"""Benchmark-contamination detection over the `documents` table
(north star: LLM-training-data pipeline ops; BASELINE.json:6).

Training corpora must be screened for verbatim overlap with evaluation
benchmarks before training (the n-gram decontamination step of
GPT-3/PaLM-style data pipelines: a training document is contaminated
when it shares an exact word n-gram with any benchmark document).

Spark-first shape, sized for 100 TB:
  * the benchmark side is tiny by construction (eval suites are
    thousands of documents vs billions of training docs), so its
    distinct n-gram set BROADCASTS — the corpus never shuffles to
    find candidates;
  * corpus n-grams are generated inline by the same higher-order
    array expression the dedup operators use (`word_shingles`) — the
    scan streams through whole-stage codegen, no Python;
  * only matching (doc, gram) rows reach the groupBy, so the one
    shuffle carries contaminated hits, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from crypto_data_pipeline_spark.operators.dedup import shingle_sets


def contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-corpus-document contamination report: how many of the doc's
    distinct word n-grams appear in ANY benchmark document.

    Returns (doc_id, n_hits, n_grams, contamination_ratio), one row per
    contaminated document (docs with zero overlap are absent — at scale
    the clean 99.9% never leaves the scan stage).
    """
    bench_grams = (
        shingle_sets(benchmark, id_col=id_col, text=text, k=n)
        .select(F.explode("sh").alias("sg"))
        .distinct()
    )
    corp = shingle_sets(corpus, id_col=id_col, text=text, k=n).select(
        "id", F.size("sh").alias("n_grams"), F.explode("sh").alias("sg")
    )
    return (
        corp.join(F.broadcast(bench_grams), "sg")
        .groupBy("id", "n_grams")
        .agg(F.count("*").alias("n_hits"))  # sh is distinct per doc
        .select(
            F.col("id").alias(id_col),
            F.col("n_hits").cast("long").alias("n_hits"),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.round(F.col("n_hits") / F.col("n_grams"), 6).alias("contamination_ratio"),
        )
    )


def decontaminate_stream(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    n: int = 3,
) -> DataFrame:
    """Streaming-capable decontamination: drop any document sharing a
    word n-gram with the benchmark. The batch path's per-doc hit
    AGGREGATION can't run in a streaming append context, so this twin
    makes the decision PER ROW: the benchmark's distinct n-gram set
    (small by contract — it's an eval suite) is collected once,
    broadcast to executors, and each Arrow batch drops rows whose
    shingle set intersects it. Works identically on a batch frame
    (tests prove equality with ``decontaminate`` at threshold 0) and
    under readStream, where it is a stateless filter — no state store,
    no watermark.

    Tokenization parity is by CONSTRUCTION, not re-implementation: the
    shingle array is produced by the very same Spark expression
    (`word_shingles`) the batch path uses, upstream of the Arrow
    stage; Python only performs the broadcast-set membership test. A
    Python re-tokenization (str.lower/split) diverges from Spark's
    trim/lower/regexp semantics on non-ASCII and exotic whitespace.
    """
    import pandas as pd

    from crypto_data_pipeline_spark.operators.dedup import word_shingles

    bench_grams = {
        r.sg
        for r in shingle_sets(benchmark, id_col=id_col, text=text, k=n)
        .select(F.explode("sh").alias("sg"))
        .distinct()
        .collect()
    }
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast(bench_grams)
    cols = corpus.columns
    schema = corpus.schema

    def keep_clean(it):
        grams = bc.value
        for pdf in it:
            mask = [not any(g in grams for g in sh) for sh in pdf["_sh"]]
            yield pdf[pd.Series(mask, index=pdf.index)][cols]

    from crypto_data_pipeline_spark.operators.text import tokens

    return (
        corpus.withColumn("_tk", tokens(text))
        .withColumn("_sh", word_shingles(k=n))
        .drop("_tk")
        .mapInPandas(keep_clean, schema)
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    n: int = 3,
    max_ratio: float = 0.0,
) -> DataFrame:
    """The filter twin: corpus rows whose contamination ratio is at or
    below ``max_ratio`` (default: drop any overlap). Left anti join on
    the (small) hit list, so the corpus passes through unshuffled."""
    dirty = contamination_hits(corpus, benchmark, id_col, text, n).where(
        F.col("contamination_ratio") > max_ratio
    )
    return corpus.join(F.broadcast(dirty.select(id_col)), id_col, "left_anti")


def semantic_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-level decontamination: flag a corpus vector when its
    cosine against ANY benchmark vector reaches ``threshold`` — the
    semantic complement of the n-gram screen above (paraphrased eval
    leakage carries no shared n-grams but lands close in embedding
    space).

    Plan: the benchmark embeddings collapse to ONE collect_list row
    that crossJoins (broadcast) onto the corpus scan, and the per-row
    max cosine is an array fold over that in-row table — zero
    shuffles, zero Python, the corpus streams through codegen exactly
    once. Same benchmark-broadcasts/corpus-never-moves contract as
    `contamination_hits`; eval suites are thousands of rows vs
    billions, so the broadcast stays kilobytes-to-megabytes at 100 TB.
    """
    from crypto_data_pipeline_spark.operators.similarity import as_double, dot, norm

    bench_arr = benchmark.select(
        F.collect_list(
            F.struct(
                as_double(vec_col).alias("v"),
                norm(as_double(vec_col)).alias("nrm"),
            )
        ).alias("_bench")
    )
    v = F.col("_v")
    mx = F.round(
        F.array_max(
            F.transform(
                F.col("_bench"),
                lambda b: dot(v, b["v"]) / (F.col("_nv") * b["nrm"]),
            )
        ),
        6,
    )
    return (
        corpus.select(F.col(id_col), as_double(vec_col).alias("_v"))
        .withColumn("_nv", norm(v))
        .crossJoin(F.broadcast(bench_arr))
        # an EMPTY benchmark set must yield zero rows (matching the SQL
        # CROSS JOIN the oracle runs) — without this, array_max over []
        # is NULL and is_contaminated becomes tri-state, so a
        # where(~is_contaminated) downstream would silently drop the
        # whole corpus
        .where(F.size("_bench") > 0)
        .select(
            id_col,
            mx.alias("max_benchmark_cosine"),
            (mx >= threshold).alias("is_contaminated"),
        )
    )
