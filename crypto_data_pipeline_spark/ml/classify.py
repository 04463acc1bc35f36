"""Multinomial Naive Bayes document classifier, pure DataFrame ops.

The fastText-style linear classifier every large-scale training-data
pipeline runs for language-ID / quality gating (Joulin et al. 2017;
CCNet, Wenzek et al. 2020 uses exactly this shape for its lang filter).
The reference has no classification surface (its ML is regression,
notebooks/models.ipynb); this extends the engine's LLM-curation stack
with the missing supervised-filter primitive.

Spark-first design — NOT MLlib's NaiveBayes, deliberately: train and
inference are nothing but token-count aggregations and one model-sized
join, so expressing them as DataFrame ops keeps every step inside
whole-stage codegen, makes the fitted model itself a DataFrame (the
(term, class) log-likelihood grid), and makes the whole path
value-checkable against an ANSI-SQL oracle — none of which a black-box
estimator gives you.

Scale shape at 100 TB:
- Train: one explode scan of the labeled corpus, one (term, class)
  shuffle for counts. The fitted model is vocab × classes rows —
  megabytes even for a 1M-token vocabulary — plus a classes-row prior
  frame.
- Predict: one explode scan of the unlabeled corpus, the model joined
  in via broadcast (it is model-sized, never corpus-sized), one
  doc-key aggregation, WindowGroupLimit argmax. The corpus is never
  shuffled by anything except its own doc key.

Determinism contract (oracle parity): scores are
``round(sum_loglik + log_prior + 1e-9, 6)`` on BOTH engines (the
documented tie-up nudge), and the argmax tie-breaks on class label
ascending, so Spark and DuckDB pick identical winners.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from crypto_data_pipeline_spark.operators.text import tokens


def nb_train(
    train: DataFrame,
    label: str = "lang",
    text: str = "text",
    doc_id: str = "doc_id",
    materialize: bool = True,
    min_tf: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Fit the model as two DataFrames: a per-class prior frame
    ``(label, n_class_tokens, log_prior, log_unseen)`` and the
    Laplace-smoothed log-likelihood grid ``(term, label, loglik)``.

    ``log_unseen`` is the smoothed mass of a vocabulary term the class
    never saw — ln(1 / (n_class_tokens + V)) — carried on the prior
    frame so inference needs no outer join against the full grid.

    ``min_tf`` prunes grid rows with tf below the threshold — the same
    Heaps-law knob as the bigram LM's ``min_count`` (the grid is
    training-vocabulary-proportional; real corpora grow it without
    bound). ``n_class_tokens`` and ``vsize`` stay EXACT from the full
    counts, and a pruned (term, class) scores through the existing
    ``log_unseen`` fallback — which IS the add-one value for tf=0, so
    pruning composes with scoring without a special case and the
    pruned score is a deterministic function of (min_tf, corpus).
    ``min_tf=1`` (default) is exact back-compat: no row is dropped.

    Train statistics are TWO aggregations total: one grouping-sets
    pass over the (term, class) count frame folds the per-class token
    totals and the global vocabulary size (its ``()`` grouping) into a
    single shuffle, and one grouping-sets pass over the label-only
    scan (parquet prunes to one column) folds the per-class doc counts
    and the total doc count. The grid is a projection of the same
    (term, class) frame — no further aggregation.

    ``materialize`` (default) makes fitting an ACTION, the train/serve
    split every ML API draws: both model frames are eagerly
    local-checkpointed, so the corpus-side lineage runs exactly once
    and every downstream consumer (the scoring join, a streaming
    foreachBatch loop, a holdout eval reusing the model thrice) reads
    the materialized model-sized blocks instead of re-deriving the
    training aggregation per use. The frames are model-sized by
    contract — vocab × classes rows, broadcastable — so materializing
    them costs megabytes. Pass False to keep the fully-lazy lineage
    (plan-inspection tests, engines without a block manager)."""
    terms = train.select(
        F.col(label).alias("label"), F.explode(tokens(text)).alias("term")
    )
    pair = terms.groupBy("term", "label").agg(F.count(F.lit(1)).alias("tf"))
    cstats = (
        pair.groupingSets([["label"], []], "label")
        .agg(
            F.sum("tf").alias("n_class_tokens"),
            F.countDistinct("term").alias("_n_terms"),
            F.grouping("label").alias("_g"),
        )
    )
    per_class = cstats.where(F.col("_g") == 0).select("label", "n_class_tokens")
    vocab = cstats.where(F.col("_g") == 1).select(F.col("_n_terms").alias("vsize"))
    dstats = (
        train.select(F.col(label).alias("label"))
        .groupingSets([["label"], []], "label")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.grouping("label").alias("_g"))
    )
    docs_per = dstats.where(F.col("_g") == 0).select("label", "n_docs")
    n_train = dstats.where(F.col("_g") == 1).select(F.col("n_docs").alias("n_train"))
    classes = (
        docs_per.join(per_class, "label")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(n_train))
        .select(
            "label",
            "n_class_tokens",
            "vsize",
            F.log(F.col("n_docs").cast("double") / F.col("n_train")).alias("log_prior"),
            F.log(F.lit(1.0) / (F.col("n_class_tokens") + F.col("vsize"))).alias(
                "log_unseen"
            ),
        )
    )
    if materialize:
        classes = classes.localCheckpoint(eager=True)
    pruned = pair.where(F.col("tf") >= min_tf) if min_tf > 1 else pair
    grid = (
        pruned.join(F.broadcast(classes.select("label", "n_class_tokens", "vsize")), "label")
        .select(
            "term",
            "label",
            F.log((F.col("tf") + F.lit(1.0)) / (F.col("n_class_tokens") + F.col("vsize"))).alias(
                "loglik"
            ),
        )
    )
    if materialize:
        grid = grid.localCheckpoint(eager=True)
    return classes, grid


# The landed model's schemas: `load_nb_model` reads them back without a
# footer-inference job (a string ``label``, as every caller fits on).
_NB_SCHEMAS = {
    "classes": "label string, n_class_tokens long, vsize long, log_prior double,"
    " log_unseen double",
    "grid": "term string, label string, loglik double",
}


def save_nb_model(path: str, classes: DataFrame, grid: DataFrame) -> None:
    """Land the fitted model AT REST (parquet dirs ``classes/`` and
    ``grid/`` under ``path``) — same contract as `operators/lm.py:
    lm_fit`: train-once/serve-many across sessions, and
    statistics-accurate frames for the serve planner. Checkpoint
    lineage estimates are unreliable enough that a bench once caught
    the serve join going shuffled on a megabyte grid (97 KB ->
    1.8 MB shuffle); a parquet scan measures its real size, so a
    model-sized grid broadcasts again."""
    classes.write.mode("overwrite").parquet(f"{path}/classes")
    grid.write.mode("overwrite").parquet(f"{path}/grid")


def load_nb_model(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Reload ``(classes, grid)`` landed by `save_nb_model`, with the
    model's known schemas, so the reload launches no job."""
    return tuple(
        spark.read.schema(_NB_SCHEMAS[name]).parquet(f"{path}/{name}")
        for name in ("classes", "grid")
    )


def nb_predict(
    docs: DataFrame,
    classes: DataFrame,
    grid: DataFrame,
    text: str = "text",
    doc_id: str = "doc_id",
) -> DataFrame:
    """Score every document against every class and keep the argmax:
    ``(doc_id, predicted, score)``. Terms absent from the training
    vocabulary of a class fall back to that class's ``log_unseen``.

    Join strategy: the |classes|-row frame keeps its broadcast hint;
    the likelihood grid is training-VOCABULARY-proportional (it grows
    with the corpus), so its join is AQE's call — a model-sized grid
    measures small and broadcasts, and an over-threshold one degrades
    to a shuffled hash join instead of OOMing the driver (the same
    pattern as the bigram LM's model joins)."""
    terms = docs.select(F.col(doc_id).alias("doc_id"), F.explode(tokens(text)).alias("term"))
    scored = (
        terms.crossJoin(F.broadcast(classes.select("label", "log_prior", "log_unseen")))
        .join(grid, ["term", "label"], "left")
        .groupBy("doc_id", "label")
        .agg(
            F.round(
                F.sum(F.coalesce("loglik", "log_unseen"))
                + F.first("log_prior")
                + F.lit(1e-9),
                6,
            ).alias("score")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("label"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select("doc_id", F.col("label").alias("predicted"), "score")
    )


def nb_lang_holdout(
    docs: DataFrame,
    label: str = "lang",
    text: str = "text",
    split_mod: int = 5,
    model: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Train on docs with ``doc_id % split_mod != 0``, predict the
    holdout, and return ``(doc_id, actual, predicted, score, hit)`` —
    the deterministic end-to-end eval the catalog query exposes. Pass
    a pre-fitted ``model`` (the ``nb_train`` pair) to serve from it
    instead of refitting — the registered query caches the fit per
    (session, corpus) exactly like the ANN indexes do."""
    train = docs.where(F.col("doc_id") % split_mod != 0)
    test = docs.where(F.col("doc_id") % split_mod == 0)
    classes, grid = model if model is not None else nb_train(train, label=label, text=text)
    preds = nb_predict(test, classes, grid, text=text)
    return (
        test.select("doc_id", F.col(label).alias("actual"))
        .join(preds, "doc_id")
        .select(
            "doc_id",
            "actual",
            "predicted",
            "score",
            (F.col("actual") == F.col("predicted")).cast("int").alias("hit"),
        )
    )


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """k-nearest-neighbor majority-vote classification over the
    embedding space — the non-parametric sibling of the NB filter (and
    the standard "label by retrieval" baseline for semi-supervised
    corpus labeling: SemDeDup-style pipelines assign quality/domain
    labels to unlabeled shards exactly this way).

    Composes the existing exact top-k (corpus never shuffles; query
    side broadcasts) with a labels join and a per-query vote window:
    predicted label = most votes among the k neighbors, ties broken by
    higher best-neighbor cosine then label-asc — every input to the
    vote is the 6-dp-rounded cosine, so the whole path is
    engine-portable. Returns ``(query_id, pred_label, votes,
    true_label, correct)``; true_label is the corpus label of the query
    id (queries share the corpus id namespace, as in the registered
    queries) and null for ids outside it.

    Scale shape: the per-query state after the top-k is k rows; the
    vote is a (query, label) aggregation of a k·|Q|-row frame —
    corpus-independent. At 100 TB the top-k stage dominates and
    inherits brute-force/ANN interchangeability (any of the engine's
    neighbor operators can feed the same vote).
    """
    from crypto_data_pipeline_spark.operators import similarity

    nn = similarity.brute_force_topk(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    )
    # the k·|Q| neighbor set is the broadcast side — the corpus labels
    # frame streams through unshuffled (broadcasting IT would ship the
    # whole corpus to every executor at 100 TB)
    labeled = corpus.select(F.col(id_col), F.col(label_col).alias("_nl")).join(
        F.broadcast(nn), id_col
    )
    votes = labeled.groupBy(query_id_col, "_nl").agg(
        F.count(F.lit(1)).alias("votes"), F.max("cosine").alias("_best")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("votes").desc(), F.col("_best").desc(), F.col("_nl")
    )
    pred = (
        votes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            query_id_col,
            F.col("_nl").alias("pred_label"),
            F.col("votes").cast("long").alias("votes"),
        )
    )
    # truth lookup: semi-filter the corpus labels down to the |Q|
    # predicted ids first (broadcast of the tiny pred-id frame), THEN
    # broadcast the now-|Q|-row truth side into the left join
    truth = corpus.select(
        F.col(id_col).alias(query_id_col), F.col(label_col).alias("true_label")
    ).join(F.broadcast(pred.select(query_id_col)), query_id_col, "left_semi")
    return pred.join(F.broadcast(truth), query_id_col, "left").select(
        query_id_col,
        "pred_label",
        "votes",
        "true_label",
        (F.col("pred_label") == F.col("true_label")).alias("correct"),
    )
