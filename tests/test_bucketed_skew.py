"""Physical-layout tests (sources/bucketed.py): bucketed tables must
eliminate the shuffle from equi-joins and aggregations on the bucket
key, and the salted join must be a drop-in replacement for the plain
join under every legal join type.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crypto_data_pipeline_spark.sources import bucketed
from crypto_data_pipeline_spark.sources.tables import load_table

BUCKETS = 8


@pytest.fixture()
def no_broadcast(spark):
    """At sf0.001 every table fits under the broadcast threshold, so the
    planner would pick BroadcastHashJoin and bypass the bucket spec
    entirely. Forcing the sort-merge path models the 100 TB case the
    layout exists for: both sides too big to broadcast."""
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)


@pytest.fixture(scope="module")
def bucketed_orders_customer(spark, sf_dir, tmp_path_factory):
    root = tmp_path_factory.mktemp("warehouse")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    bucketed.write_bucketed(
        orders, "orders_b", ["o_custkey"], BUCKETS,
        sort_cols=["o_custkey"], path=str(root / "orders_b"),
    )
    bucketed.write_bucketed(
        customer, "customer_b", ["c_custkey"], BUCKETS,
        sort_cols=["c_custkey"], path=str(root / "customer_b"),
    )
    yield orders, customer
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS customer_b")


def test_bucketed_join_has_no_exchange(spark, bucketed_orders_customer, no_broadcast):
    orders, customer = bucketed_orders_customer
    ob = bucketed.bucketed_table(spark, "orders_b")
    cb = bucketed.bucketed_table(spark, "customer_b")

    joined = ob.join(cb, ob.o_custkey == cb.c_custkey).select("o_orderkey", "c_name")
    assert bucketed.exchange_count(joined) == 0, joined._jdf.queryExecution().executedPlan().toString()

    # identical join off plain parquet scans must shuffle — proves the
    # zero above comes from the bucket spec, not from tiny inputs
    plain = orders.join(customer, orders.o_custkey == customer.c_custkey).select(
        "o_orderkey", "c_name"
    )
    assert bucketed.exchange_count(plain) > 0

    # and the layout change must not change the answer
    assert joined.count() == plain.count()


def test_bucketed_groupby_has_no_exchange(spark, bucketed_orders_customer, no_broadcast):
    orders, _ = bucketed_orders_customer
    ob = bucketed.bucketed_table(spark, "orders_b")
    agg = ob.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("total"))
    assert bucketed.exchange_count(agg) == 0

    plain = orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("total"))
    assert bucketed.exchange_count(plain) > 0
    assert agg.count() == plain.count()


@pytest.mark.parametrize("how", ["inner", "left", "left_semi"])
def test_salted_join_matches_plain(spark, sf_dir, how):
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    users = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        # drop some users so left/semi actually exercise unmatched rows
        .filter(F.col("user_id") % 3 != 0)
    )
    got = bucketed.salted_join(events, users, ["user_id"], how=how, salt=4)
    want = events.join(users, ["user_id"], how)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_salted_join_spreads_hot_key(spark):
    """Skew regression proof: a 90%-hot key turns the plain shuffle join
    into one straggler partition; salted_join must spread it across the
    salt slices. Fails if the salt path ever degenerates back to
    hash(key)-only partitioning. AQE is disabled so the assertion sees
    the raw plan's distribution (AQE's own skew split — enabled in the
    session factory — is the runtime safety net on top of this)."""
    n_hot = 50_000
    hot = spark.range(n_hot).select(
        F.lit(0).cast("long").alias("user_id"), F.col("id").alias("event_id")
    )
    cold = spark.range(5_000).select(
        (F.col("id") % 500 + 1).alias("user_id"), (F.col("id") + n_hot).alias("event_id")
    )
    events = hot.union(cold)
    users = spark.range(501).select(
        F.col("id").alias("user_id"), (F.col("id") * 2).alias("score")
    )

    adaptive = spark.conf.get("spark.sql.adaptive.enabled")
    bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:

        def max_partition_share(df) -> float:
            parts = (
                df.withColumn("pid", F.spark_partition_id()).groupBy("pid").count().collect()
            )
            total = sum(r["count"] for r in parts)
            return max(r["count"] for r in parts) / total

        plain = events.join(users, ["user_id"], "inner")
        # salt ~= shuffle partitions: with far fewer salt values than
        # partitions, several slices can hash-collide into one reducer
        # and the spread stalls around collision_count/salt
        salted = bucketed.salted_join(events, users, ["user_id"], salt=32)
        assert max_partition_share(plain) > 0.85  # the straggler exists
        assert max_partition_share(salted) < 0.25  # ...and salting kills it
        assert salted.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", adaptive)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)


def test_session_enables_aqe_skew_handling(spark):
    """The factory session must keep AQE skew-join splitting on — the
    runtime half of the skew story at 100 TB."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_salted_join_rejects_right_joins(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    with pytest.raises(ValueError, match="salted_join supports"):
        bucketed.salted_join(events, events, ["user_id"], how="right")
    with pytest.raises(ValueError, match="salted_join supports"):
        bucketed.salted_join(events, events, ["user_id"], how="left_anti")


def test_key_skew_stats_ranks_heavy_hitters(spark):
    """The diagnosis half of the salted join: the hot key must surface
    first with its true count and share, keys must tie-break
    deterministically, and the raw table must be scanned exactly once
    (the grand total rides a broadcast over the reduced counts)."""
    df = spark.range(100).select(
        F.when(F.col("id") < 80, F.lit(7)).otherwise(F.col("id") % 10 + 10).alias("k")
    )
    out = bucketed.key_skew_stats(df, ["k"], top=3)
    rows = out.collect()
    assert (rows[0]["k"], rows[0]["n_rows"], rows[0]["share"]) == (7, 80, 0.8)
    assert [r["n_rows"] for r in rows] == sorted(
        [r["n_rows"] for r in rows], reverse=True
    )
    # ties (the cold keys all have 2 rows) break ascending by key
    assert rows[1]["k"] < rows[2]["k"]
    # one-scan claim: after execution, the grand-total branch must ride
    # a ReusedExchange of the per-key counts — the base appears exactly
    # once in the AQE final plan
    final_plan = (
        out._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    )
    assert final_plan.count("Range (0, 100") == 1
    assert "ReusedExchange" in final_plan


def test_aqe_splits_skewed_smj_at_runtime(spark):
    """The runtime half of the skew story: with thresholds scaled to
    the fixture, AQE must re-plan a skewed sort-merge join as
    SortMergeJoin(skew=true) with a skewed AQEShuffleRead — the hot
    partition splits into advisory-size slices, no salting needed.

    Caveat pinned here because it is WHY salted_join exists: the split
    only happens when nothing downstream requires the join keys'
    partitioning. The same join feeding a groupBy on the key is NOT
    split (splitting would break the reusable distribution), so
    join+aggregate pipelines over a hot key still need explicit
    salting or the bucketed layout."""
    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16384",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8192",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    }
    saved = {}
    for k, v in conf.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        pad = "x" * 200
        left = spark.range(200_000).select(
            F.when(F.col("id") < 190_000, F.lit(0))
            .otherwise(F.col("id") % 97 + 1)
            .alias("k"),
            F.lit(pad).alias("payload"),
        )
        right = spark.range(98).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("score")
        )

        def final_plan(df):
            df.collect()
            return (
                df._jdf.queryExecution().executedPlan().toString()
                .split("== Initial Plan ==")[0]
            )

        plain = left.join(right, "k").select("k", "score")
        assert "skew=true" in final_plan(plain)

        agg = left.join(right, "k").groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        assert "skew=true" not in final_plan(agg)  # the caveat
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.slow
def test_lm_serve_shuffled_fallback_splits_token_skew(spark, tmp_path):
    """When the LM model joins fall back to shuffled (they carry no
    broadcast hint, so an oversized model degrades instead of OOMing),
    the corpus side shuffles on (lang, w1[, w2]) or (lang, w2).
    Language skew alone DISPERSES over that key (the token columns
    ride in the hash), but token-frequency skew — Zipf stop-words —
    concentrates partitions for real. Contract: with a 90%-mass hot
    bigram and broadcast disabled, AQE splits the skewed partitions
    (SortMergeJoin(skew=true)) on ALL THREE model joins (ctx, grid,
    cont), and the output is identical to the broadcast path's."""
    from crypto_data_pipeline_spark.operators.lm import lm_fit, lm_scores

    hot = [(i, "en", "the cat " * 30) for i in range(9000)]
    tail = [
        (9000 + i, "en", f"tok{i % 500} blah{i % 37} xx{i % 91}")
        for i in range(1000)
    ]
    docs = (
        spark.createDataFrame(hot + tail, "doc_id long, lang string, text string")
        .repartition(32)
        .localCheckpoint(eager=True)
    )
    model = lm_fit(docs, str(tmp_path / "model"))
    want = {tuple(r) for r in lm_scores(docs, *model).collect()}

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    )
    saved = {}
    for k in keys:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    # thresholds scaled to the fixture (defaults are 256MB-class); at
    # 100 TB the defaults are what's intended — same move as the bloom
    # pruning test
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    try:
        df = lm_scores(docs, *model)
        got = {tuple(r) for r in df.collect()}
        plan = (
            df._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        assert plan.count("SortMergeJoin(skew=true)") == 3, plan
        assert got == want
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
