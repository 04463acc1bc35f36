"""Structured Streaming ingestion (SURVEY.md §2.9 ST1-ST3).

The reference "streams" by cron: a 3 AM daily fetch appends files
(crypto_app/daily_fetch.py:17-54, cron at :89), re-ingestion is
idempotent (load_data.py:71-95), and the monthly aggregate is
recomputed per touched month on every insert (db.py:150-197).

Spark re-design:
  * ST1 — the bronze directory becomes a streaming file source;
    ``trigger(availableNow=True)`` replaces cron-driven batch catch-up
    (process everything new, then stop — exactly the nightly-batch
    contract, with checkpointed exactly-once file tracking).
  * ST2 — bronze→silver runs in ``foreachBatch`` calling the same
    keyed last-write-wins upsert as the batch path: one code path for
    both (the Lambda-architecture trap avoided).
  * ST3 — the gold monthly aggregate: the reference accepts
    arbitrarily-late backfills (any date may arrive anytime), which no
    bounded watermark can honor — so gold recomputes per batch from
    silver (cheap: gold is tiny) instead of holding unbounded stream
    state (SURVEY §7 risk 7). A watermarked tumbling-window variant is
    provided for true-streaming sources where bounded lateness IS
    acceptable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.streaming import StreamingQuery

from crypto_data_pipeline_spark.sources.upsert import refresh_monthly_aggregate, upsert_parquet


def stream_bronze_to_silver(
    spark: SparkSession,
    bronze_dir: str,
    silver_path: str,
    gold_path: str | None,
    checkpoint_dir: str,
    schema,
    keys: list[str] = ("coin_id", "fetch_date"),
    order_by: list[str] = ("created_at",),
) -> StreamingQuery:
    """ST1+ST2(+ST3): stream the bronze parquet directory into the
    silver upserted table; optionally refresh gold after each batch.

    Runs with availableNow (catch-up-and-stop). Restarting with the
    same checkpoint skips already-ingested files — the streaming twin
    of the reference's idempotent re-run."""
    stream = spark.readStream.schema(schema).parquet(bronze_dir)

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        merged = upsert_parquet(
            batch.sparkSession, batch, silver_path, list(keys), list(order_by)
        )
        if gold_path is not None:
            refresh_monthly_aggregate(batch.sparkSession, merged, gold_path)

    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_with_quarantine(
    spark: SparkSession,
    bronze_dir: str,
    schema,
    payload_col: str,
    payload_schema: str,
    clean_path: str,
    dead_letter_path: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming twin of the batch corrupt-payload split
    (`sources/quarantine.py`): each micro-batch parses its JSON
    payloads PERMISSIVEly once, appends clean rows (payload struct
    flattened in) to the silver path and malformed ones — raw payload
    intact — to the dead-letter path. Same split expression as the
    batch operator, so batch and stream agree row-for-row on what is
    corrupt; the checkpoint makes replay exactly-once per input file,
    so the dead-letter table never double-counts a failure."""
    from crypto_data_pipeline_spark.sources.quarantine import (
        split_quarantine,
        write_quarantine,
    )

    stream = spark.readStream.schema(schema).parquet(bronze_dir)

    def split_batch(batch: DataFrame, batch_id: int) -> None:
        clean, bad = split_quarantine(batch, payload_col, payload_schema)
        clean.write.mode("append").parquet(clean_path)
        write_quarantine(bad, dead_letter_path)

    return (
        stream.writeStream.foreachBatch(split_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_hourly_aggregate(
    events_stream: DataFrame,
    watermark: str = "2 hours",
    window: str = "1 hour",
    slide: str | None = None,
) -> DataFrame:
    """ST3 (bounded-lateness variant): watermarked windowed count/sum
    per event_type — the streaming twin of the batch ``tumbling_hourly``
    (slide=None) and ``sliding_hourly_15m`` (slide='15 minutes')
    catalog queries. With a slide, each event enters window/slide
    overlapping windows; state per key stays bounded by the watermark
    either way. Append output mode emits a window once the watermark
    passes its end."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "n_events", "total_value")
    )


def streaming_monthly_min_max(
    silver_stream: DataFrame,
    entity: str = "coin_id",
    date: str = "fetch_date",
    value: str = "price_usd",
    watermark_days: int = 45,
) -> DataFrame:
    """ST3 as a pure stateful stream: per-(entity, month) min/max in
    update mode. The watermark bounds state (late data beyond it is
    dropped) — use only when bounded lateness is acceptable; the
    recompute-from-silver path above is the faithful replication of
    the reference's any-time-backfill semantics."""
    return (
        silver_stream.withColumn("_ts", F.col(date).cast("timestamp"))
        .withWatermark("_ts", f"{watermark_days} days")
        .groupBy(F.col(entity), F.window("_ts", "30 days").alias("w"))
        .agg(F.min(value).alias(f"min_{value}"), F.max(value).alias(f"max_{value}"))
    )


_BLOOM_BOOTSTRAP_ID = -1  # reserved _bloom dir: store-derived bit set


def _batch_dir_ids(spark: SparkSession, root: str) -> set[int]:
    """The ``batch_id=N`` partition dirs under ``root`` by FILESYSTEM
    LISTING — one metadata call against the store's FS (local, HDFS,
    or object store), never a data read, so the per-delivery coverage
    check stays O(number of deliveries) on a 100 TB store."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(root)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return set()
    ids: set[int] = set()
    for status in fs.listStatus(path):
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith("batch_id="):
            try:
                ids.add(int(name.split("=", 1)[1]))
            except ValueError:
                pass
    return ids


def _bootstrap_covers(spark: SparkSession, bloom_root: str) -> set[int]:
    """Store batch ids absorbed by the ``_bloom/batch_id=-1`` bootstrap
    bit set, from the ``_bloom/_covers`` manifest (underscore-prefixed,
    so the bit store's own parquet discovery never sees it). Missing or
    unreadable manifest = covers nothing."""
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        rows = (
            spark.read.schema("covered_batch_id long")
            .parquet(f"{bloom_root}/_covers")
            .collect()
        )
    except AnalysisException:
        return set()
    return {r.covered_batch_id for r in rows}


def ingest_corpus_batch(
    batch: DataFrame,
    batch_id: int,
    store_root: str,
    id_col: str = "doc_id",
    text: str = "text",
    bloom_m: int | None = None,
    bloom_k: int = 4,
) -> None:
    """One delivery of the continuously-ingesting deduplicated corpus:
    admit the batch's rows that are NOVEL versus every PRIOR delivery,
    then write the admitted set as this delivery's own immutable
    ``batch_id=N`` directory.

    Store architecture (the 100 TB contract):

      * the store is NEVER rewritten — one new hive-partition dir per
        delivery, so ingesting 1 GB into a 100 TB corpus moves 1 GB;
      * novelty membership is the store-scan + broadcast-batch-hash
        semi join of `operators/dedup.py:incremental_ingest_dedup`
        (zero Exchange on the store);
      * at-least-once replay is idempotent BY CONSTRUCTION: the
        current batch's own directory is excluded from the store view
        before the novelty check, so a redelivered batch recomputes
        the identical admitted set and overwrite lands the identical
        directory. A crash mid-write leaves a partial dir that the
        replay's overwrite replaces — partial rows are never visible
        to OTHER batches' novelty checks mid-flight because Spark's
        committed batches are sequential per query.

    With ``bloom_m`` set, each delivery also lands its admitted rows'
    bloom bit positions under ``store_root/_bloom/batch_id=N`` (the
    underscore prefix hides it from the store's own parquet
    discovery), and the novelty check runs through
    `operators/dedup.py:bloom_prefilter_ingest` against the UNION of
    prior deliveries' bits — the bit set is monotone, so it is
    maintained incrementally, kilobytes per delivery, never rebuilt.
    The admitted set is IDENTICAL (no false negatives; the exact md5
    check still decides every bloom-positive row), but a delivery of
    all-novel content admits off the broadcast bit join alone — AQE
    collapses the store-scan semi join to empty when no row needs the
    exact check, so the 100 TB store is not even read. Replay stays
    idempotent: the batch's own bit dir is excluded and overwritten
    the same way its data dir is.

    The maintained bits are trusted only when they COVER every prior
    delivery: each call lists the store's and ``_bloom``'s
    ``batch_id=`` dirs (one filesystem metadata call each — never a
    data read) and requires every store id to hold its own bit dir or
    be named by the bootstrap manifest. On a gap — the bloom tier
    enabled over a pre-existing store, or bit dirs lost — the bit set
    is REBUILT from the store scan and persisted under the reserved
    ``_bloom/batch_id=-1`` dir, then a ``_bloom/_covers`` manifest
    records which store deliveries that bootstrap absorbed (manifest
    written LAST, so a crash between the two writes replays as another
    rebuild, never as false coverage). Without this, a store predating
    its ``_bloom`` would make old duplicates read bloom-negative =
    "proven novel" forever.
    """
    from pyspark.errors.exceptions.captured import AnalysisException

    from crypto_data_pipeline_spark.operators import dedup
    from crypto_data_pipeline_spark.sources.tables import release_checkpoint

    s = batch.sparkSession
    store_ids = _batch_dir_ids(s, store_root) - {batch_id}
    # the store holds this function's own writes of the batch's columns,
    # so it reads with that schema (no job infers a footer); a dir
    # without data files — a crashed first write's — reads as no store
    try:
        store = s.read.schema(
            T.StructType(batch.schema.fields + [T.StructField("batch_id", T.LongType())])
        ).parquet(store_root)
        has_files = bool(store.inputFiles())
    except AnalysisException:  # first delivery: no store dir yet
        has_files = False
    if has_files:
        store = store.where(F.col("batch_id") != batch_id).drop("batch_id")
    else:
        store = s.createDataFrame([], batch.schema)
        store_ids = set()
    if bloom_m is None:
        admitted = dedup.incremental_ingest_dedup(store, batch, id_col, text)
    else:
        bloom_root = f"{store_root}/_bloom"
        bloom_ids = _batch_dir_ids(s, bloom_root) - {batch_id}
        covered = bloom_ids - {_BLOOM_BOOTSTRAP_ID}
        # the manifest is only evidence if the -1 dir it describes is
        # still there — a surviving manifest over a lost bootstrap dir
        # must read as a gap, not as coverage
        if _BLOOM_BOOTSTRAP_ID in bloom_ids and not store_ids <= covered:
            covered |= _bootstrap_covers(s, bloom_root)
        bits = boot = None
        if store_ids <= covered and bloom_ids:
            bits = (
                s.read.schema("bit long, batch_id long")
                .parquet(bloom_root)
                .where(F.col("batch_id") != batch_id)
                .select("bit")
                .distinct()
            )
        elif store_ids:
            # Coverage gap: at least one prior delivery has no bit
            # representation, so the maintained set would read its
            # duplicates as bloom-negative = "proven novel". Rebuild
            # the full bit set from the store (<= m_bits rows, one
            # scan), persist it for THIS check, and land it as the
            # reserved bootstrap dir so later deliveries inherit it.
            boot = dedup.bloom_bitset(
                store, m_bits=bloom_m, k=bloom_k, text=text
            ).persist()
            boot.write.mode("overwrite").parquet(
                f"{bloom_root}/batch_id={_BLOOM_BOOTSTRAP_ID}"
            )
            s.createDataFrame(
                [(i,) for i in sorted(store_ids)], "covered_batch_id long"
            ).coalesce(1).write.mode("overwrite").parquet(f"{bloom_root}/_covers")
            bits = boot
        # else: empty store AND no bit dirs — bits=None bootstraps
        # bloom_prefilter_ingest from the (empty) store scan. An empty
        # FRAME here would be a correctness bug — every row would read
        # bloom-negative and skip the exact check.
        # the staged delivery (content hash, bloom_pass) in one scan of
        # the batch, its lineage cut: the admit plan and both writes then
        # plan over a batch-sized leaf, not the staging plan
        flagged = dedup.bloom_prefilter_flags(
            store, batch, m_bits=bloom_m, k=bloom_k,
            id_col=id_col, text=text, bits=bits,
        ).localCheckpoint()
        admitted = dedup.bloom_admit(store, flagged, id_col=id_col, text=text).persist()
        (
            admitted.select(
                F.explode(
                    dedup._bloom_positions(text, bloom_m, bloom_k)
                ).alias("bit")
            )
            .distinct()
            .write.mode("overwrite")
            .parquet(f"{bloom_root}/batch_id={batch_id}")
        )
        if boot is not None:
            boot.unpersist()
    admitted.select(*batch.columns).write.mode("overwrite").parquet(
        f"{store_root}/batch_id={batch_id}"
    )
    if bloom_m is not None:
        admitted.unpersist()
        release_checkpoint(flagged)


def stream_corpus_ingest(
    spark: SparkSession,
    bronze_dir: str,
    store_root: str,
    checkpoint_dir: str,
    schema,
    id_col: str = "doc_id",
    text: str = "text",
    bloom_m: int | None = None,
    bloom_k: int = 4,
) -> StreamingQuery:
    """Continuously-ingesting deduplicated corpus: stream arriving
    document files, admit only content NOVEL versus all prior
    deliveries, append-only store of immutable per-batch directories
    (``ingest_corpus_batch`` above). availableNow = catch-up-and-stop;
    the checkpoint makes file pickup exactly-once, and the per-batch
    overwrite makes foreachBatch's at-least-once replay harmless.
    ``bloom_m`` enables the incrementally-maintained bloom prefilter
    tier (identical admitted sets; novel-content deliveries skip the
    store scan entirely)."""
    stream = spark.readStream.schema(schema).parquet(bronze_dir)

    def ingest(batch: DataFrame, batch_id: int) -> None:
        ingest_corpus_batch(
            batch, batch_id, store_root, id_col, text, bloom_m, bloom_k
        )

    return (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_classify(
    spark: SparkSession,
    bronze_dir: str,
    out_root: str,
    checkpoint_dir: str,
    schema,
    classes: DataFrame,
    grid: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
) -> StreamingQuery:
    """Streaming model inference: score every arriving document
    delivery against a pre-trained Naive Bayes model
    (``ml/classify.py``) and land ``(doc_id, predicted, score)`` as an
    immutable per-delivery ``batch_id=N`` directory — the
    online-scoring half of the train-offline / serve-online split.

    The model rides in as the two fitted DataFrames (class priors +
    (term, class) log-likelihood grid). They are model-sized, joined
    broadcast inside every micro-batch, and the stream itself is never
    shuffled except by its own doc key. ``nb_predict`` needs a window
    argmax, which Structured Streaming forbids on unbounded input —
    foreachBatch gives each delivery batch scope, where it is legal
    and identical to the batch twin. Per-batch overwrite directories
    make the at-least-once replay idempotent, same contract as
    ``ingest_corpus_batch``. availableNow = catch-up-and-stop."""
    from crypto_data_pipeline_spark.ml.classify import nb_predict

    stream = spark.readStream.schema(schema).parquet(bronze_dir)

    def score(batch: DataFrame, batch_id: int) -> None:
        nb_predict(batch, classes, grid, text=text, doc_id=id_col).write.mode(
            "overwrite"
        ).parquet(f"{out_root}/batch_id={batch_id}")

    return (
        stream.writeStream.foreachBatch(score)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_lm_score(
    spark: SparkSession,
    bronze_dir: str,
    out_root: str,
    checkpoint_dir: str,
    schema,
    model: tuple[DataFrame, DataFrame, DataFrame],
    bounds: DataFrame,
    ppl: str = "ppl",
) -> StreamingQuery:
    """Streaming LM quality filter — the serve-online half of the
    bigram LM's train/serve split, symmetric with `stream_classify`:
    every arriving document delivery is scored against the at-rest
    model (the `operators/lm.py:lm_fit` triple) and bucketed by its
    score column ``ppl`` (``"ppl"`` add-one or ``"ppl_kn"``
    Kneser-Ney) against the FROZEN per-language boundary table
    (`lm.tercile_bounds`), landing ``(doc_id, lang, n_bigrams, ppl,
    bucket)`` as immutable ``batch_id=N`` directories through
    `lm.bounded_buckets`.

    Because buckets come from frozen boundaries, a document's row is
    independent of what else shares its micro-batch — stream output
    equals the batch form (`bounded_buckets(lm_scores(docs, *model),
    bounds, ppl)`) under ANY delivery split, which the test pins across
    >= 3 orders. The model joins are AQE's choice (pruned model ->
    broadcast; oversized -> shuffled), the boundary join is an
    explicitly-broadcast |langs|x2 frame, and the stream is never
    shuffled except by its own doc key. Per-batch overwrite dirs make
    at-least-once replay idempotent; availableNow =
    catch-up-and-stop."""
    from crypto_data_pipeline_spark.operators.lm import bounded_buckets, lm_scores

    stream = spark.readStream.schema(schema).parquet(bronze_dir)

    def score(batch: DataFrame, batch_id: int) -> None:
        bounded_buckets(lm_scores(batch, *model), bounds, ppl).write.mode(
            "overwrite"
        ).parquet(f"{out_root}/batch_id={batch_id}")

    return (
        stream.writeStream.foreachBatch(score)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_dsir_score(
    spark: SparkSession,
    bronze_dir: str,
    out_root: str,
    checkpoint_dir: str,
    schema,
    model: DataFrame,
    cutoff: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> StreamingQuery:
    """Streaming DSIR selection — the serve-online half of the
    importance-resampling train/serve split, symmetric with
    `stream_lm_score`: every arriving document delivery is scored
    against the FROZEN bucket log-ratio model and kept/dropped against
    the FROZEN weight cutoff (`operators/dsir.py:dsir_weight_cutoff`),
    landing ``(doc_id, n_features, weight, kept)`` as immutable
    ``batch_id=N`` overwrite directories (at-least-once replay is a
    no-op rewrite). kept is a pure per-document predicate, so stream
    output equals the batch frozen twin (`dsir_score_frozen`) under
    ANY delivery split — pinned across >= 3 orders by the test. The
    model join is n_buckets-bounded (parameter, not vocabulary); the
    stream shuffles only on its own doc key."""
    from crypto_data_pipeline_spark.operators.dsir import dsir_score_frozen

    stream = spark.readStream.schema(schema).parquet(bronze_dir)

    def score(batch: DataFrame, batch_id: int) -> None:
        dsir_score_frozen(
            batch, model, cutoff, id_col=id_col, text=text, n_buckets=n_buckets
        ).write.mode("overwrite").parquet(f"{out_root}/batch_id={batch_id}")

    return (
        stream.writeStream.foreachBatch(score)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_rho_select(
    spark: SparkSession,
    bronze_dir: str,
    out_root: str,
    checkpoint_dir: str,
    schema,
    model: tuple[DataFrame, DataFrame, DataFrame],
    cutoff: DataFrame,
) -> StreamingQuery:
    """Streaming RHO-loss learnability selection — the serve-online
    half of the excess-perplexity split, symmetric with
    `stream_lm_score` and `stream_dsir_score`: every arriving document
    delivery is scored in one pass by the at-rest model (the
    `operators/lm.py:lm_fit` triple; Kneser-Ney is the strong
    reference, its add-one projection the weak base), the per-token
    log-loss delta is thresholded against the FROZEN excess cutoff
    (`lm.rho_excess_select_frozen`), and
    ``(doc_id, lang, ppl_base, ppl_ref, excess, kept)`` lands as
    immutable ``batch_id=N`` overwrite directories (at-least-once
    replay is a no-op rewrite). kept is a pure per-document predicate
    under frozen artifacts, so stream output equals the batch frozen
    twin under ANY delivery split — pinned across >= 3 orders by the
    test. Model joins are AQE's choice (at-rest models measure their
    true size); the cutoff is an explicitly-broadcast 1-row frame; the
    stream shuffles only on its own doc key."""
    from crypto_data_pipeline_spark.operators.lm import rho_excess_select_frozen

    stream = spark.readStream.schema(schema).parquet(bronze_dir)

    def score(batch: DataFrame, batch_id: int) -> None:
        rho_excess_select_frozen(batch, model, cutoff).write.mode(
            "overwrite"
        ).parquet(f"{out_root}/batch_id={batch_id}")

    return (
        stream.writeStream.foreachBatch(score)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def sketch_distinct_batch(
    batch: DataFrame,
    batch_id: int,
    regs_root: str,
    key: str = "user_id",
    group: tuple[str, ...] = ("event_type",),
    m: int = 256,
    seed: int = 29,
) -> None:
    """One delivery of the streaming distinct-count sketch: reduce the
    batch to its HLL register table (<= |groups|*m rows — kilobytes)
    and land it as an immutable ``batch_id=N`` dir. Registers are
    max-monotone, so the CURRENT sketch is `sketch.hll_merge` over all
    delivery dirs — raw events are read exactly once, at arrival, and
    never rescanned; replay overwrites the same dir with the same
    rows (the register reduction is deterministic)."""
    from crypto_data_pipeline_spark.operators.sketch import hll_registers

    hll_registers(batch, F.col(key), m=m, seed=seed, group=group).write.mode(
        "overwrite"
    ).parquet(f"{regs_root}/batch_id={batch_id}")


def stream_distinct_sketch(
    spark: SparkSession,
    bronze_dir: str,
    regs_root: str,
    checkpoint_dir: str,
    schema,
    key: str = "user_id",
    group: tuple[str, ...] = ("event_type",),
    m: int = 256,
    seed: int = 29,
) -> StreamingQuery:
    """Continuously-maintained distinct-count sketch: every arriving
    delivery appends one register-table dir (`sketch_distinct_batch`);
    readers merge the dirs (groupBy max — lossless) and estimate with
    `sketch.hll_estimate`. The streaming answer is BIT-IDENTICAL to
    sketching the union of all deliveries in one batch job, pinned by
    test — the streaming/batch split costs nothing, which is the point
    of a max-monotone sketch. availableNow = catch-up-and-stop; same
    checkpoint + per-batch-overwrite replay contract as the corpus
    ingest."""
    stream = spark.readStream.schema(schema).parquet(bronze_dir)

    def sk(batch: DataFrame, batch_id: int) -> None:
        sketch_distinct_batch(batch, batch_id, regs_root, key, group, m, seed)

    return (
        stream.writeStream.foreachBatch(sk)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def maintain_aggregate_batch(
    changes: DataFrame,
    batch_id: int,
    gold_root: str,
    group_col: str,
    value_col: str,
    prev_group_col: str,
    prev_value_col: str,
    cnt_col: str = "n_rows",
    sum_col: str = "total",
) -> None:
    """Apply ONE CDC delivery to a generation-addressed gold aggregate
    (`sources/cdc.py:maintain_group_aggregate` + `sources/generations`)
    EXACTLY-ONCE under foreachBatch's at-least-once replay: the new
    generation carries a `_applied_<batch_id>` marker written BEFORE
    the pointer flip, so a replayed delivery whose marker is already
    current is a no-op, while a crash mid-publish leaves only a
    dangling unreferenced dir the replay supersedes. Delta's txn-id
    trick, one file. The base fact table never exists here at all —
    gold evolves from gold + deltas.

    Externally-seeded gold: a generation published by ANOTHER job (via
    plain ``generations.publish()``) has no ``_applied_*`` marker but
    IS committed — its pointer flip happened. Adopting it silently is
    ambiguous with a crashed publish, and skipping it would silently
    restart the view from an empty aggregate (wrong totals, no error).
    So a pointer-referenced unmarked generation is adopted as the base
    only when it carries an explicit ``_bootstrap`` marker
    (``generations.publish(df, root, marker="_bootstrap")``); otherwise
    this raises instead of producing wrong totals."""
    from crypto_data_pipeline_spark.sources import generations as gen
    from crypto_data_pipeline_spark.sources.cdc import maintain_group_aggregate

    s = changes.sparkSession
    marker = f"_applied_{batch_id}"
    # Base selection trusts only MARKED generations: every generation
    # this pipeline publishes carries its marker (written before the
    # pointer flip), so an unmarked dir the pointer does NOT reference
    # is a crashed, incomplete publish — treating it as the base
    # (which current_generation's missing-pointer fallback would
    # happily do) would re-apply its delivery's deltas on top of
    # themselves. A marked generation for THIS batch_id that lost the
    # pointer race just needs the pointer repaired. The pointer FILE
    # (never the highest-dir fallback) is the commit evidence that
    # separates an external publish from a crash.
    ptr = gen._read_pointer(s, gold_root)
    base_gen = None
    for g in reversed(gen.list_generations(s, gold_root)):
        applied = gen.generation_markers(s, gold_root, g, prefix="_applied_")
        if not applied:
            if g != ptr:
                continue  # unmarked + unreferenced = crashed mid-publish
            if gen.generation_has_marker(s, gold_root, g, "_bootstrap"):
                base_gen = g  # explicitly adopted external seed
                break
            raise RuntimeError(
                f"gold table {gold_root}: current generation gen={g} "
                "carries no _applied_* marker — it was published outside "
                "this maintenance pipeline. Re-publish the seed with "
                "marker='_bootstrap' to adopt it as the base (or roll "
                "back to a marked generation); refusing to silently "
                "rebase the aggregate on empty."
            )
        if marker in applied:
            if gen.current_generation(s, gold_root) != g:
                gen.rollback(s, gold_root, g)  # crash-after-marker repair
            return  # replayed delivery already applied
        base_gen = g
        break
    if base_gen is None:
        agg = s.createDataFrame(
            [], f"{group_col} string, {cnt_col} long, {sum_col} long"
        )
    else:
        agg = gen.read_generation(s, gold_root, base_gen)
    new = maintain_group_aggregate(
        agg,
        changes,
        group_col=group_col,
        value_col=value_col,
        cnt_col=cnt_col,
        sum_col=sum_col,
        prev_group_col=prev_group_col,
        prev_value_col=prev_value_col,
    )
    gen.publish(new, gold_root, marker=marker)


def read_gold_aggregate(
    spark: SparkSession, gold_root: str, cnt_col: str = "n_rows"
) -> DataFrame:
    """THE READ BOUNDARY for a maintained gold aggregate. The
    maintained STATE deliberately retains count==0 / sum!=0 carrier
    rows — under backfill (whole deliveries applied out of order) a
    cross-delivery value update can transiently strand sum mass on a
    group with no live rows, and dropping that row would break
    any-order convergence (`sources/cdc.py:maintain_group_aggregate`).
    But a carrier row is maintenance bookkeeping, not a fact: a
    consumer reading the raw generation would see a phantom group with
    n_rows=0 whose average divides by zero mid-convergence. This view
    filters ``cnt_col != 0`` at read time, so consumers see only live
    groups while the state underneath keeps converging (round-8 fix;
    reader-contract half of the round-7 IVM commutativity work)."""
    from crypto_data_pipeline_spark.sources import generations as gen

    return gen.read_current(spark, gold_root).where(F.col(cnt_col) != 0)


def stream_maintain_aggregate(
    spark: SparkSession,
    feed_dir: str,
    gold_root: str,
    checkpoint_dir: str,
    schema,
    group_col: str,
    value_col: str,
    prev_group_col: str,
    prev_value_col: str,
) -> StreamingQuery:
    """STREAMING MATERIALIZED VIEW: a CDC feed directory (before-image
    envelopes) continuously maintains a COUNT/SUM gold table published
    as atomic generations — readers always see one complete snapshot,
    history is time-travelable, a bad delivery is one rollback away,
    and the maintenance cost per delivery is |deltas|, independent of
    the (absent) base table size. availableNow = catch-up-and-stop."""
    stream = spark.readStream.schema(schema).parquet(feed_dir)

    def apply_delivery(batch: DataFrame, batch_id: int) -> None:
        maintain_aggregate_batch(
            batch, batch_id, gold_root, group_col, value_col,
            prev_group_col, prev_value_col,
        )

    return (
        stream.writeStream.foreachBatch(apply_delivery)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
