"""Physical-plan regression tests: pin the SHAPE that makes each
operator viable at 100 TB, not just its output values. A refactor that
keeps results correct but reintroduces an extra shuffle, a nested-loop
join, or a Python hot path should fail here, long before it shows up as
a bench regression.

All assertions read the pre-AQE physical plan (AQE can only remove
exchanges at runtime, never add them, so counts are upper bounds).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from crypto_data_pipeline_spark.plans.registry import load_with_extras
from crypto_data_pipeline_spark.sources.bucketed import exchange_count
from crypto_data_pipeline_spark.sources.tables import load_table

SPECS = load_with_extras()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffle_count(df) -> int:
    """Shuffle (hash/range/single-partition) exchanges only —
    BroadcastExchange is the cheap small-side ship we WANT in plans and
    must not count against the shuffle budget."""
    return sum(
        1
        for line in _plan(df).splitlines()
        if "Exchange" in line
        and "BroadcastExchange" not in line
        and "ReusedExchange" not in line
    )


def test_asof_join_is_single_shuffle_no_row_amplification(spark, sf_dir):
    """The as-of join must stay a union + one window partitioning —
    never an inequality join. Plan contract: no nested-loop or
    cartesian operator, and at most 2 exchanges (the union's window
    shuffle + the final partial-filter pass)."""
    df = SPECS["asof_last_click"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert exchange_count(df) <= 2, plan


def test_range_join_is_equi_hash_join(spark, sf_dir):
    """The bounded range join banding must turn the interval predicate
    into an equi join — a plan with a nested-loop operator means the
    banding regressed to the O(n·m) form the oracle uses."""
    df = SPECS["range_join_click_context"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_pipeline_never_cross_products(spark, sf_dir):
    """LSH candidate generation is a bucket groupBy + in-bucket array
    expansion; verification joins candidate ids only. Any cartesian /
    nested-loop operator in the plan means an O(n²) path crept in."""
    df = SPECS["dedup_minhash_lsh"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_brute_force_topk_corpus_never_shuffles(spark, sf_dir):
    """The exactness baseline broadcasts the 10 query vectors over the
    corpus scan; the corpus side must not shuffle (top-k runs as a
    partial per-partition + final on the driver-side limit). One
    exchange max: the global top-k ordering."""
    df = SPECS["embedding_topk_bruteforce"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan  # broadcast NLJ is the intended shape here
    assert _shuffle_count(df) <= 1, plan


def test_per_doc_scalar_batteries_are_shuffle_free(spark, sf_dir):
    """text_metrics and sampling_membership are pure scan+project
    pipelines — one pass, zero shuffles, whole-stage codegen. An
    Exchange in either plan means a join/groupBy snuck into what must
    remain an embarrassingly parallel map."""
    for name in ("sampling_membership",):
        df = SPECS[name].fn(spark, sf_dir)
        assert exchange_count(df) == 0, f"{name}:\n{_plan(df)}"
    # text_metrics carries the rolling-fingerprint array expressions but
    # still must not shuffle
    df = SPECS["text_metrics"].fn(spark, sf_dir)
    assert exchange_count(df) == 0, _plan(df)


def test_no_python_row_udfs_in_scalar_paths(spark, sf_dir):
    """Scalar text/sampling paths must stay JVM-side: BatchEvalPython
    (row-at-a-time Python UDF) must never appear. ArrowEvalPython /
    mapInPandas is allowed only where declared (multimodal, stateful
    sessions)."""
    for name in ("text_metrics", "sampling_membership", "token_counts",
                 "pii_redaction", "lang_id"):
        plan = _plan(SPECS[name].fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name


def test_sliding_window_single_aggregation_shuffle(spark, sf_dir):
    """The 4× sliding-window expansion happens inside the aggregate's
    project (no join); the plan is scan → expand → partial agg →
    exchange → final agg. More than one exchange means the expansion
    became a join."""
    df = SPECS["sliding_hourly_15m"].fn(spark, sf_dir)
    assert exchange_count(df) <= 1, _plan(df)


def test_history_windows_have_no_exchange_below(spark, sf_dir):
    """The silver daily-price table is bucketed+sorted by entity, so
    coin-series window queries must not re-shuffle it: their plans read
    the bucketed scan directly (zero exchanges for a pure window query
    like rolling_skew)."""
    df = SPECS["rolling_skew"].fn(spark, sf_dir)
    assert exchange_count(df) == 0, _plan(df)


def _fanned_corpus(sf_dir: str, dst: str, copies: int = 10) -> str:
    """``sf_dir``'s events, ``copies`` times over with disjoint user
    ids, so every one of a handful of silver buckets holds an entity."""
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    ev = pq.read_table(f"{sf_dir}/events.parquet")
    parts = []
    for k in range(copies):
        t = ev
        for col in ("event_id", "user_id"):
            i = t.schema.get_field_index(col)
            t = t.set_column(i, t.schema.field(i),
                             pc.add(t[col], pa.scalar(k * 10**6, t.schema.field(i).type)))
        parts.append(t)
    os.makedirs(dst)
    pq.write_table(pa.concat_tables(parts), f"{dst}/events.parquet")
    return dst


def test_silver_buckets_follow_shuffle_partitions(spark, sf_dir, tmp_path):
    """Silver has one bucket per shuffle partition: the build writes
    exactly N sorted files, a silver aggregate reads all N buckets, and
    a join of silver to a shuffled events aggregate on the entity key
    plans one shuffle — with any other bucket count, either silver or
    the aggregate is shuffled again."""
    import os

    from crypto_data_pipeline_spark import serve_store
    from crypto_data_pipeline_spark.plans import core_queries as cq

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sf = _fanned_corpus(sf_dir, str(tmp_path / "sf"))
    try:
        silver = cq._history(spark, sf)
        files = [f for f in os.listdir(serve_store._ENTRIES["silver"].tmp)
                 if f.startswith("part-")]
        assert len(files) == n, files

        plan = _plan(SPECS["monthly_avg_price"].fn(spark, sf))
        assert f"SelectedBucketsCount: {n} out of {n}" in plan, plan

        users = load_table(spark, sf, "events").groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events")
        ).withColumnRenamed("user_id", "entity_id")
        saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = silver.join(users, "entity_id")
            assert _shuffle_count(joined) == 1, _plan(joined)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    finally:
        serve_store.clear()


def test_filtered_scan_prunes_wide_columns(spark, sf_dir):
    """Column pruning at the source: a 3-column projection of events
    must not read the wide props JSON payload."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    plan = _plan(ev)
    scan = next(line for line in plan.splitlines() if "FileScan" in line)
    assert "props" not in scan


def test_topn_per_group_limits_before_shuffle(spark, sf_dir):
    """Per-group top-n must ride WindowGroupLimit: a Partial pass on
    the map side caps each task's output at k rows per group BEFORE
    the Exchange, so the shuffle carries O(groups x k) rows instead of
    the whole table — the difference between a merge and a full sort
    at 100 TB. Guards the rank<=k filter staying adjacent to the
    window (anything between them defeats the rewrite)."""
    q = load_with_extras()["topn_events_per_type"]
    plan = _plan(q.fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    pre_exchange = plan.split("Exchange hashpartitioning", 1)[1]
    assert "WindowGroupLimit" in pre_exchange  # the Partial (map-side) pass


def test_scd2_single_exchange_shares_key_partitioning(spark, sf_dir):
    """The SCD-2 build's groupBy(key, version) and lead()-over-version
    must reuse the key Exchange the change-detection windows created:
    HashPartitioning(entity) satisfies every superset clustering, so
    the whole interval build is one shuffle."""
    q = load_with_extras()["scd2_price_bands"]
    df = q.fn(spark, sf_dir)
    # ignore the silver table's own materialization; count shuffles in
    # the interval build itself via a plain in-memory frame
    from crypto_data_pipeline_spark.operators.scd import scd2_intervals

    base = spark.range(200).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("snap"),
        (F.col("id") % 2).alias("attr"),
    )
    assert exchange_count(scd2_intervals(base, ["k"], "snap", ["attr"])) == 1
    assert df.columns[:2] == ["entity_id", "version"]


def test_hive_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Date-partitioned silver layout: a day-equality read must prune
    at the DIRECTORY level (PartitionFilters on the hive partition
    column), scanning one partition's files — the at-rest layout that
    lets a 100 TB table serve a one-day query with a one-day scan."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "by_day")
    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    ev.write.partitionBy("day").parquet(out)

    back = spark.read.parquet(out)
    one_day = back.select("day").distinct().limit(1).first()[0]
    q = back.where(F.col("day") == F.lit(one_day))
    plan = _plan(q)
    scan = next(line for line in plan.splitlines() if "FileScan" in line)
    assert "PartitionFilters" in scan and "day" in scan.split("PartitionFilters")[1][:120]
    # and the pruned read returns exactly that day's rows
    assert q.count() == ev.where(F.col("day") == F.lit(one_day)).count()


def test_join_drives_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """Dynamic partition pruning: when a date-partitioned fact joins a
    dim whose FILTER (not the join key) decides which days survive, the
    fact scan must receive a runtime dynamicpruningexpression — at
    100 TB this is what turns 'join 3 years of partitions against a
    2-day dim' into a 2-partition read. Static pruning (the test
    above) can't help here because the surviving days are only known
    after the dim's filter runs."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    ev.write.partitionBy("day").parquet(str(tmp_path / "by_day"))
    days = [r[0] for r in ev.select("day").distinct().orderBy("day").collect()]
    dim = spark.createDataFrame(
        [(d, "keep" if i < 2 else "drop") for i, d in enumerate(days)],
        ["day", "tag"],
    )
    dim.write.parquet(str(tmp_path / "dim"))

    fact = spark.read.parquet(str(tmp_path / "by_day"))
    keep = spark.read.parquet(str(tmp_path / "dim")).where(F.col("tag") == "keep")
    q = fact.join(keep, "day").groupBy("tag").agg(F.count(F.lit(1)).alias("n"))
    plan = _plan(q)
    # identify the fact scan by its partition-pruning clause, NOT by
    # grepping the rendered path: spark.sql.maxMetadataStringLength
    # (default 100) truncates Location, and whether ".../by_day" slips
    # under the cut depends on the pytest tmp dir's rotation-number
    # width — a one-character flake
    scan = next(
        line for line in plan.splitlines()
        if "FileScan" in line and "dynamicpruningexpression" in line
    )
    assert "PartitionFilters" in scan
    # and the pruned result is exactly the two kept days' rows
    expect = ev.where(F.col("day").isin(days[:2])).count()
    assert q.agg(F.sum("n")).first()[0] == expect


def test_silver_downgrade_is_loud(spark, sf_dir, monkeypatch, caplog):
    """The bucketed-silver materialization must never fail SILENTLY
    (round-3 regression class: a warehouse misconfig quietly re-pays an
    events->daily Exchange in every downstream query). Contract:
    healthy session -> bucketed scan active; broken warehouse -> a
    WARNING naming the cause; strict mode (what bench.py sets) ->
    hard failure instead of timing the wrong plan."""
    import logging

    import pytest

    from crypto_data_pipeline_spark import serve_store
    from crypto_data_pipeline_spark.plans import core_queries as cq
    from crypto_data_pipeline_spark.sources import bucketed

    # healthy session: the zero-Exchange bucketed path is the one served
    assert cq.history_is_bucketed(spark, sf_dir)

    # the FAILURE scenarios run against another sf_dir, each on an
    # emptied serve store so the silver entry is built anew
    other_sf = (
        "/root/testdata/sf0.01"
        if "sf0.01" not in sf_dir
        else "/root/testdata/sf0.001"
    )

    def broken_warehouse(*args, **kwargs):
        raise RuntimeError("warehouse is read-only (simulated)")

    monkeypatch.setattr(bucketed, "write_bucketed", broken_warehouse)
    monkeypatch.delenv("SPARK_GRAFT_REQUIRE_SILVER", raising=False)
    try:
        serve_store.clear()
        with caplog.at_level(logging.WARNING, logger=cq.__name__):
            df = cq._history(spark, other_sf)
        assert any(
            "silver history downgrade" in rec.getMessage()
            and "read-only" in rec.getMessage()
            for rec in caplog.records
        )
        # the fallback still answers correctly (inline daily aggregation)
        assert df.limit(1).count() == 1

        # strict mode refuses the downgrade outright
        serve_store.clear()
        monkeypatch.setenv("SPARK_GRAFT_REQUIRE_SILVER", "1")
        with pytest.raises(RuntimeError, match="read-only"):
            cq._history(spark, other_sf)
    finally:
        serve_store.clear()  # no downgraded entry outlives the test


def test_runtime_bloom_filter_prunes_shuffle_join_probe(spark, tmp_path):
    """Runtime semi-join reduction: when a big fact shuffle-joins a
    selectively-filtered dim, the optimizer must inject a
    bloom_filter_agg subquery on the dim and a might_contain filter
    onto the FACT scan — rows that cannot match die before the
    Exchange instead of shuffling. The row-level complement of dynamic
    partition pruning (thresholds scaled to the fixture; at 100 TB
    the defaults' 10 GiB application-side floor is what's intended)."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    try:
        spark.range(500_000).select(
            F.col("id").alias("k"), (F.col("id") % 1000).alias("v")
        ).write.parquet(str(tmp_path / "big"))
        spark.range(10_000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("tag")
        ).write.parquet(str(tmp_path / "dim"))
        big = spark.read.parquet(str(tmp_path / "big"))
        dim = spark.read.parquet(str(tmp_path / "dim")).where(F.col("tag") == 3)
        q = big.join(dim, "k").select("k", "v", "tag")
        plan = _plan(q)
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
        # bloom pruning must not change the answer
        assert q.count() == 10_000 // 7 + (1 if 3 < 10_000 % 7 else 0)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_recovery_join_strategy_is_measured_not_hinted(spark, sf_dir):
    """The flagship's recovery and market-cap joins must leave the
    strategy to AQE: drops/caps scale with ENTITY COUNT, so a forced
    F.broadcast would OOM the driver at 100M entities where sort-merge
    is the right call. Contract: (a) at fixture scale the final
    adaptive plan still picks BroadcastHashJoin on its own (statistics,
    not hints — same plan the hint used to force, zero cost to drop
    it); (b) with broadcast disabled the SAME code plans sort-merge,
    which a hint would have overridden unconditionally."""
    from crypto_data_pipeline_spark.operators import islands

    def final_plan(df) -> str:
        df._jdf.queryExecution().toRdd().count()
        return df._jdf.queryExecution().executedPlan().toString()

    report = SPECS["drop_recovery"].fn(spark, sf_dir)
    plan = final_plan(report)
    assert "BroadcastHashJoin" in plan, plan  # AQE's measured choice

    rows = [(e, d, 100.0 - d if d < 5 else 90.0 + d) for e in range(4)
            for d in range(12)]
    hist = spark.createDataFrame(rows, "entity_id long, fetch_date int, price double")
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        drops = islands.consecutive_drops(
            islands.drop_sequences(islands.daily_changes(hist))
        )
        joined = islands.price_increases(drops, hist)
        plan = final_plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "BroadcastHashJoin" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_funnel_ordered_steps_single_exchange(spark, sf_dir):
    """The ordered funnel's two running-min windows and its final
    groupBy must all share the user_id partitioning: one shuffle for
    the whole three-step chain."""
    from crypto_data_pipeline_spark.plans.registry import load_with_extras
    from crypto_data_pipeline_spark.sources.bucketed import exchange_count

    q = load_with_extras()["funnel_ordered_steps"]
    assert exchange_count(q.fn(spark, sf_dir)) == 1


def _nodes(plan):
    """Every node of a physical plan, through AQE wrappers and into
    cached relations' own plans; a reused exchange ran once, so it is
    not walked again."""
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _nodes(plan.executedPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from _nodes(plan.plan())
        return
    if cls.startswith("Reused"):
        return
    yield plan
    if cls == "InMemoryTableScanExec":
        yield from _nodes(plan.relation().cachedPlan())
    it = plan.children().iterator()
    while it.hasNext():
        yield from _nodes(it.next())


def _scans(plan, needle: str) -> int:
    """Parquet scans in ``plan`` of a path containing ``needle``."""
    return sum(
        n.getClass().getSimpleName() == "FileSourceScanExec"
        and needle in n.relation().location().rootPaths().mkString(",")
        for n in _nodes(plan)
    )


def test_ingest_stages_the_delivery_in_one_scan(spark, tmp_path, monkeypatch):
    """A bloom-tier delivery is read once: every frame the ingest
    writes or checkpoints scans the delivery's files at most once, so
    the admit plan and both writes plan over the staged batch, not over
    the delivery again."""
    from pyspark.sql import DataFrameWriter

    from crypto_data_pipeline_spark.streaming.ingest import ingest_corpus_batch

    store = str(tmp_path / "store")
    rows = [(i, f"document number {i} about topic {i % 7}") for i in range(40)]
    for batch_id, part in enumerate((rows[:30], rows[20:])):
        path = str(tmp_path / f"delivery{batch_id}.parquet")
        spark.createDataFrame(part, "doc_id long, text string").write.parquet(path)
        frames = []
        delivery = spark.read.parquet(path)
        for cls, name in ((DataFrameWriter, "parquet"), (type(delivery), "localCheckpoint")):
            real = getattr(cls, name)

            def spy(self, *a, _real=real, **kw):
                frames.append(getattr(self, "_df", self))
                return _real(self, *a, **kw)

            monkeypatch.setattr(cls, name, spy)
        ingest_corpus_batch(delivery, batch_id, store, bloom_m=1 << 12)
        monkeypatch.undo()
        scans = [_scans(f._jdf.queryExecution().executedPlan(), path) for f in frames]
        assert max(scans) == 1, scans
    assert spark.read.parquet(store).count() == 40


def test_served_lm_reads_score_corpus_once(spark, sf_dir):
    """With the LM entry served, the KN bucket query and the source
    report read the landed per-doc scores: each scans the documents at
    most once, and neither plans a union branch for unscored docs."""
    for name in ("lm_perplexity_buckets_kn", "source_curation_report"):
        SPECS[name].fn(spark, sf_dir).collect()  # the served entries
        plan = SPECS[name].fn(spark, sf_dir)._jdf.queryExecution().executedPlan()
        assert _scans(plan, "documents.parquet") <= 1, name
        assert all(n.getClass().getSimpleName() != "UnionExec" for n in _nodes(plan)), name


def test_ngram_pairs_shingle_the_corpus_once(spark, sf_dir):
    """The exact n-gram pairs shingle the documents once with nothing
    cached: the executed plan scans them once and builds the shingles in
    one Generate, whose window shuffle the two prefix sides and the
    verify pruning reuse."""
    df = SPECS["dedup_ngram_jaccard"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    nodes = [(n.getClass().getSimpleName(), n) for n in _nodes(plan)]
    assert _scans(plan, "documents.parquet") == 1
    generators = [n.generator().toString() for c, n in nodes if c == "GenerateExec"]
    assert sum("concat_ws" in g for g in generators) == 1  # word_shingles' join
    assert not any(c == "InMemoryTableScanExec" for c, _ in nodes)
