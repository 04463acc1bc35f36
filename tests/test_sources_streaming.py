"""IO-source, upsert, and streaming tests (SURVEY.md §5 items 4-5):
round-trips for the bronze JSON tree and CSV IO, keyed-upsert
idempotence (ST2), the bronze→silver→gold streaming path with
checkpointed re-runs, and the applyInPandasWithState sessionizer —
including state carried ACROSS separate stream runs.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F, types as T

from crypto_data_pipeline_spark.sources import csv_io, json_dir, upsert
from crypto_data_pipeline_spark.sources.http_client import HistoryApiClient
from crypto_data_pipeline_spark.streaming import ingest, sessionize

SILVER_SCHEMA = T.StructType(
    [
        T.StructField("coin_id", T.StringType()),
        T.StructField("fetch_date", T.DateType()),
        T.StructField("price_usd", T.DoubleType()),
        T.StructField("created_at", T.TimestampType()),
    ]
)


def _payload(coin: str, price: float, cap: float) -> dict:
    return {
        "id": coin,
        "symbol": coin[:3],
        "name": coin.title(),
        "market_data": {
            "current_price": {"usd": price, "eur": price * 0.9},
            "market_cap": {"usd": cap},
            "total_volume": {"usd": cap / 10},
        },
    }


def _write_reference_layout(root: str) -> None:
    """data/<coin>/<coin>_YYYY-MM-DD.json, pretty-printed, exactly the
    reference's bronze layout (crypto_app/cli.py:95-103)."""
    for coin, price, cap in [("bitcoin", 6.0e4, 2.0e12), ("cardano", 0.7, 2.5e10)]:
        os.makedirs(f"{root}/{coin}", exist_ok=True)
        for day in ("2025-01-01", "2025-01-02"):
            with open(f"{root}/{coin}/{coin}_{day}.json", "w") as fh:
                json.dump(_payload(coin, price, cap), fh, indent=4)


def test_bronze_json_roundtrip(spark, tmp_path):
    root = str(tmp_path / "data")
    _write_reference_layout(root)
    df = json_dir.read_bronze_json(spark, root)
    rows = {(r.coin_id, str(r.fetch_date)): r for r in df.collect()}
    assert len(rows) == 4
    assert rows[("bitcoin", "2025-01-01")].price_usd == 6.0e4
    assert rows[("cardano", "2025-01-02")].market_cap_usd == 2.5e10
    assert rows[("bitcoin", "2025-01-02")].response.market_data.current_price["eur"] == 54000.0

    out = str(tmp_path / "bronze_out")
    json_dir.write_bronze_json(df.select("coin_id", "fetch_date", "price_usd"), out)
    # hive-style partition dirs enable partition pruning per coin/date
    assert os.path.isdir(f"{out}/coin_id=bitcoin/fetch_date=2025-01-01")


def test_csv_roundtrip(spark, tmp_path):
    path = str(tmp_path / "csv")
    df = spark.createDataFrame(
        [("bitcoin", dt.date(2025, 1, 1), 60000.0)],
        "coin_id string, fetch_date date, price_usd double",
    )
    csv_io.write_csv(df, path)
    back = csv_io.read_csv(
        spark,
        path,
        T.StructType(
            [
                T.StructField("coin_id", T.StringType()),
                T.StructField("fetch_date", T.DateType()),
                T.StructField("price_usd", T.DoubleType()),
            ]
        ),
    )
    assert [tuple(r) for r in back.collect()] == [("bitcoin", dt.date(2025, 1, 1), 60000.0)]


def test_orc_and_jsonlines_roundtrip(spark, sf_dir, tmp_path):
    """Format breadth beyond parquet/CSV/pretty-JSON: ORC and
    newline-delimited JSON round-trip the lineitem table value-exact
    (ORC keeps types natively; JSON-lines re-applies the scan schema on
    read, the schema-on-read contract)."""
    from crypto_data_pipeline_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").limit(500)
    expected = sorted(tuple(r) for r in li.collect())

    orc = str(tmp_path / "orc")
    li.write.orc(orc)
    assert sorted(tuple(r) for r in spark.read.orc(orc).collect()) == expected

    jl = str(tmp_path / "jsonl")
    li.write.json(jl)
    back = spark.read.schema(li.schema).json(jl)
    assert sorted(tuple(r) for r in back.collect()) == expected


def _silver_rows(spark, rows):
    return spark.createDataFrame(
        [
            (c, dt.date.fromisoformat(d), p, dt.datetime(2025, 1, 1, 0, 0, s))
            for c, d, p, s in rows
        ],
        SILVER_SCHEMA,
    )


def test_upsert_idempotent_and_last_write_wins(spark, tmp_path):
    """ST2: re-ingesting the same (key) converges to ONE row; a newer
    created_at replaces the value (load_data.py:71-95 semantics)."""
    path = str(tmp_path / "silver")
    batch = _silver_rows(spark, [("btc", "2025-01-01", 100.0, 0), ("btc", "2025-01-02", 101.0, 0)])
    upsert.upsert_parquet(spark, batch, path, keys=["coin_id", "fetch_date"])
    upsert.upsert_parquet(spark, batch, path, keys=["coin_id", "fetch_date"])
    assert spark.read.parquet(path).count() == 2

    newer = _silver_rows(spark, [("btc", "2025-01-01", 999.0, 5)])
    merged = upsert.upsert_parquet(spark, newer, path, keys=["coin_id", "fetch_date"])
    got = {(r.coin_id, str(r.fetch_date)): r.price_usd for r in merged.collect()}
    assert got == {("btc", "2025-01-01"): 999.0, ("btc", "2025-01-02"): 101.0}


def test_monthly_aggregate_refresh(spark, tmp_path):
    path = str(tmp_path / "gold")
    silver = _silver_rows(
        spark,
        [("btc", "2025-01-01", 100.0, 0), ("btc", "2025-01-15", 50.0, 0), ("btc", "2025-02-01", 70.0, 0)],
    )
    gold = upsert.refresh_monthly_aggregate(spark, silver, path)
    got = {(r.coin_id, r.year, r.month): (r.min_price_usd, r.max_price_usd) for r in gold.collect()}
    assert got == {("btc", 2025, 1): (50.0, 100.0), ("btc", 2025, 2): (70.0, 70.0)}


def test_stream_bronze_to_silver_checkpointed(spark, tmp_path):
    """ST1+ST2 end-to-end: availableNow catch-up into the silver upsert;
    a re-run with the same checkpoint ingests nothing new."""
    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    gold = str(tmp_path / "gold")
    ckpt = str(tmp_path / "ckpt")
    _silver_rows(spark, [("btc", "2025-01-01", 100.0, 0), ("eth", "2025-01-01", 10.0, 0)]).write.parquet(bronze)

    q = ingest.stream_bronze_to_silver(spark, bronze, silver, gold, ckpt, SILVER_SCHEMA)
    q.awaitTermination()
    assert spark.read.parquet(silver).count() == 2
    assert spark.read.parquet(gold).count() == 2

    # same checkpoint → no files reprocessed, silver unchanged
    q2 = ingest.stream_bronze_to_silver(spark, bronze, silver, gold, ckpt, SILVER_SCHEMA)
    q2.awaitTermination()
    assert spark.read.parquet(silver).count() == 2

    # late backfill file lands → only the new key is added (idempotent merge)
    _silver_rows(spark, [("btc", "2025-01-02", 105.0, 1)]).write.mode("append").parquet(bronze)
    q3 = ingest.stream_bronze_to_silver(spark, bronze, silver, gold, ckpt, SILVER_SCHEMA)
    q3.awaitTermination()
    got = {(r.coin_id, str(r.fetch_date)): r.price_usd for r in spark.read.parquet(silver).collect()}
    assert got[("btc", "2025-01-02")] == 105.0 and len(got) == 3


EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _ev(user, eid, minute, value):
    return (user, eid, dt.datetime(2025, 1, 1, 0, 0) + dt.timedelta(minutes=minute), value)


def _run_sessionizer(spark, src_dir: str, ckpt: str, out_dir: str):
    """One availableNow run into a parquet sink (the memory sink cannot
    recover from a checkpoint); returns rows CUMULATIVE over runs."""
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src_dir)
    out = sessionize.sessionize_stream(stream)
    q = (
        out.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {
        (r.user_id, r.session_start_us): (r.session_end_us, r.n_events, r.total_value)
        for r in spark.read.parquet(out_dir).collect()
    }


def _us(minute: int) -> int:
    return int(dt.datetime(2025, 1, 1, 0, 0, tzinfo=dt.timezone.utc).timestamp() * 1e6) + minute * 60_000_000


@pytest.mark.slow
def test_sessionize_stream_stateful_across_runs(spark, tmp_path):
    """Gap-based sessions via applyInPandasWithState. Run 1: in-batch
    closures only (open sessions stay in state). Run 2 (same
    checkpoint): a later file closes a session that SPANS the two runs
    — proving state survives in the checkpointed store."""
    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    # user 1: events at minute 0,5 → gap 40m → minute 45 (open at EOB)
    # user 2: single event at minute 0 (open at EOB)
    batch1 = [_ev(1, 1, 0, 1.0), _ev(1, 2, 5, 2.0), _ev(1, 3, 45, 4.0), _ev(2, 4, 0, 8.0)]
    spark.createDataFrame(batch1, EVENTS_SCHEMA).coalesce(1).write.parquet(src)
    got1 = _run_sessionizer(spark, src, ckpt, out)
    assert got1 == {(1, _us(0)): (_us(5), 2, 3.0)}

    # run 2: user 1 event at minute 50 continues the open session (no
    # emission); user 2 event at minute 90 closes their run-1 session
    batch2 = [_ev(1, 5, 50, 16.0), _ev(2, 6, 90, 32.0)]
    spark.createDataFrame(batch2, EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    got2 = _run_sessionizer(spark, src, ckpt, out)
    assert got2 == {(1, _us(0)): (_us(5), 2, 3.0), (2, _us(0)): (_us(0), 1, 8.0)}


@pytest.mark.slow
def test_sessionize_timeout_flushes_idle_sessions(spark, tmp_path):
    """EventTimeTimeout flush: once the watermark passes last_event +
    gap, an idle session is emitted WITHOUT a closing event and its
    state row is evicted (bounded state). A high-watermark 'clock'
    event from an unrelated user drives the watermark forward."""
    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run():
        stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
        q = (
            sessionize.sessionize_stream(stream, timeout=True, watermark_delay="5 minutes")
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r.user_id, r.session_start_us): (r.session_end_us, r.n_events, r.total_value)
            for r in spark.read.parquet(out).collect()
        }

    # user 1 (events at 0,5) and user 2 (at 0) go idle; user 99's event
    # at minute 120 pushes the watermark to 115 min > their last + 30min
    # gap, so both flush via timeout. user 99 itself stays open.
    batch1 = [_ev(1, 1, 0, 1.0), _ev(1, 2, 5, 2.0), _ev(2, 3, 0, 8.0), _ev(99, 4, 120, 0.5)]
    spark.createDataFrame(batch1, EVENTS_SCHEMA).coalesce(1).write.parquet(src)
    got1 = run()
    assert got1 == {(1, _us(0)): (_us(5), 2, 3.0), (2, _us(0)): (_us(0), 1, 8.0)}

    # run 2, same checkpoint: user 99 continues (no duplicate from the
    # evicted users), then a minute-300 clock event flushes user 99's
    # session spanning both runs — state survived the restart.
    batch2 = [_ev(99, 5, 125, 0.25), _ev(7, 6, 300, 64.0)]
    spark.createDataFrame(batch2, EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    got2 = run()
    assert got2[(99, _us(120))] == (_us(125), 2, 0.75)
    assert len(got2) == 3  # no duplicate emissions for users 1 and 2


def test_sessionizer_matches_batch_twin(spark, sf_dir, tmp_path):
    """Closed sessions from the stateful operator == all sessions of
    the batch gaps-and-islands twin EXCEPT each user's trailing (still
    open) one, on the real events table."""
    from crypto_data_pipeline_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "events")
    events.select("user_id", "event_id", "ts", "value").write.parquet(src)
    got = _run_sessionizer(spark, src, str(tmp_path / "ckpt"), str(tmp_path / "out"))

    us = F.unix_micros("ts")
    from pyspark.sql import Window

    worder = Window.partitionBy("user_id").orderBy("us", "event_id")
    stamped = events.select("user_id", "event_id", us.alias("us"), "value").withColumn(
        "prev_us", F.lag("us").over(worder)
    )
    flagged = stamped.withColumn(
        "new_session",
        F.when(F.col("prev_us").isNull() | (F.col("us") - F.col("prev_us") > 1_800_000_000), 1).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(worder.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    per_session = (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.min("us").alias("session_start_us"),
            F.max("us").alias("session_end_us"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("total_value"),
        )
    )
    last_per_user = per_session.groupBy("user_id").agg(F.max("session_id").alias("last_id"))
    expected_df = per_session.join(
        last_per_user,
        (per_session.user_id == last_per_user.user_id)
        & (per_session.session_id == last_per_user.last_id),
        "left_anti",
    )
    expected = {
        (r.user_id, r.session_start_us): (r.session_end_us, r.n_events) for r in expected_df.collect()
    }
    got_no_total = {k: (v[0], v[1]) for k, v in got.items()}
    assert got_no_total == expected


def test_streaming_hourly_aggregate_matches_batch(spark, sf_dir, tmp_path):
    """ST3 bounded-lateness variant: the watermarked tumbling-window agg
    over a finite availableNow stream must equal the batch groupBy on
    the same data (every window is past the watermark at end-of-input
    ... except the tail ones the watermark hasn't released — so assert
    the emitted windows are a prefix-consistent subset of batch)."""
    from crypto_data_pipeline_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "ev")
    events.select("user_id", "event_id", "ts", "event_type", "value").write.parquet(src)

    stream = spark.readStream.schema(
        "user_id long, event_id long, ts timestamp, event_type string, value double"
    ).parquet(src)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        ingest.streaming_hourly_aggregate(stream)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.hour_start, r.event_type): (r.n_events, round(r.total_value, 6))
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = {
        (r.hour_start, r.event_type): (r.n_events, round(r.total_value, 6))
        for r in events.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "n_events", "total_value")
        .collect()
    }
    assert got, "stream must emit closed windows"
    assert set(got) <= set(batch)
    for k, v in got.items():
        assert v == batch[k]
    # everything older than (max ts - watermark 2h) must have been emitted
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    import datetime as _dt

    released = {k for k in batch if k[0] < max_ts - _dt.timedelta(hours=3)}
    assert released <= set(got)


def test_streaming_monthly_min_max_runs(spark, tmp_path):
    """ST3 pure-stateful variant smoke: per-(entity, 30-day window)
    min/max in a real streaming run."""
    rows = [
        ("btc", dt.date(2025, 1, 1), 100.0, dt.datetime(2025, 1, 1)),
        ("btc", dt.date(2025, 1, 15), 50.0, dt.datetime(2025, 1, 15)),
        ("eth", dt.date(2025, 1, 2), 10.0, dt.datetime(2025, 1, 2)),
    ]
    src = str(tmp_path / "silver")
    spark.createDataFrame(
        rows, "coin_id string, fetch_date date, price_usd double, created_at timestamp"
    ).write.parquet(src)
    stream = spark.readStream.schema(
        "coin_id string, fetch_date date, price_usd double, created_at timestamp"
    ).parquet(src)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        ingest.streaming_monthly_min_max(stream)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # append mode only releases watermark-expired windows; with a
    # 45-day watermark over 15 days of data nothing is final yet — the
    # run itself (state build, no error) is the contract here
    assert spark.read.parquet(out_dir).count() >= 0


def test_http_client_retry_and_fanout():
    """Hermetic transport: one 429 (Retry-After honored via injected
    sleep), then 200 — mirrors coingecko_client.py:55-92 semantics."""
    calls, naps = [], []

    def transport(url, headers):
        calls.append(url)
        if len(calls) == 1:
            return 429, {"Retry-After": "2"}, ""
        return 200, {}, json.dumps(_payload("bitcoin", 6e4, 2e12))

    client = HistoryApiClient(transport=transport, sleep=naps.append)
    out = client.get_history("bitcoin", "01-01-2025")
    assert out["market_data"]["current_price"]["usd"] == 6e4
    assert naps == [2.0]
    assert "coins/bitcoin/history?date=01-01-2025" in calls[0]

    def flaky(url, headers):
        if "cardano" in url:
            return 404, {}, "not found"
        return 200, {}, json.dumps(_payload("bitcoin", 6e4, 2e12))

    client2 = HistoryApiClient(transport=flaky, sleep=lambda s: None)
    results = client2.fetch_many([("bitcoin", "01-01-2025"), ("cardano", "01-01-2025")])
    by_coin = {c: payload for c, _, payload in results}
    assert by_coin["bitcoin"] is not None and by_coin["cardano"] is None


def test_http_client_coin_list_retry_and_fake_catalog():
    """coins/list endpoint (coingecko_client.py:94-130): a 500 retries
    after the fixed 2s pause, then the parsed catalog comes back; the
    hermetic fake transport serves a deterministic 5-coin catalog."""
    from crypto_data_pipeline_spark.sources.http_datasource import fake_transport

    calls, naps = [], []

    def transport(url, headers):
        calls.append(url)
        if len(calls) == 1:
            return 500, {}, "boom"
        return 200, {}, json.dumps([{"id": "bitcoin", "symbol": "btc", "name": "Bitcoin"}])

    client = HistoryApiClient(transport=transport, sleep=naps.append)
    assert client.get_coin_list() == [{"id": "bitcoin", "symbol": "btc", "name": "Bitcoin"}]
    assert naps == [2.0] and calls[0].endswith("/coins/list")

    fake = HistoryApiClient(transport=fake_transport).get_coin_list()
    assert [c["id"] for c in fake] == sorted(c["id"] for c in fake)
    assert {"id", "symbol", "name"} <= set(fake[0])


def test_http_datasource_distributed_fetch(spark):
    """The Python DataSource path: one input partition per coin, fetch
    on the executors, values identical to the driver-side client."""
    from crypto_data_pipeline_spark.sources import http_datasource as hds

    spark.dataSource.register(hds.CoinHistoryDataSource)
    df = (
        spark.read.format("coin_history_api")
        .option("coins", "bitcoin,ethereum,cardano")
        .option("dates", "01-01-2025,02-01-2025")
        .load()
    )
    assert df.rdd.getNumPartitions() == 3  # one partition per coin
    rows = {(r.coin_id, str(r.fetch_date)): r for r in df.collect()}
    assert len(rows) == 6
    assert rows[("bitcoin", "2025-01-01")].price_usd == hds.fake_price(
        "bitcoin", "01-01-2025"
    )
    got = rows[("ethereum", "2025-01-02")]
    assert got.market_cap == got.price_usd * 1e9
    assert got.volume == got.price_usd * 1e7


def test_http_datasource_partial_failure_yields_null_rows(spark):
    """Retry exhaustion on a dead upstream lands null payload rows
    instead of failing the scan — partial backfill semantics."""
    from crypto_data_pipeline_spark.sources import http_datasource as hds

    spark.dataSource.register(hds.CoinHistoryDataSource)
    df = (
        spark.read.format("coin_history_api")
        .option("coins", "bitcoin")
        .option("dates", "01-01-2025")
        .option("transport", "down")
        .load()
    )
    [row] = df.collect()
    assert row.coin_id == "bitcoin" and row.price_usd is None


def test_incremental_upsert_rewrites_only_touched_partitions(spark, tmp_path, conf_sets):
    """Dynamic-partition-overwrite upsert: a delta touching one month
    must leave every other month's files byte-identical on disk, and
    the upsert sets no session conf."""
    import os

    from crypto_data_pipeline_spark.sources.upsert import upsert_parquet_incremental

    path = str(tmp_path / "table")
    base = spark.createDataFrame(
        [(k, 2024, m, float(k * m), f"t{m}") for m in (1, 2, 3) for k in (1, 2)],
        "id long, year int, month int, v double, created_at string",
    )
    upsert_parquet_incremental(spark, base, path, keys=["id", "year", "month"])

    def dir_state(month):
        d = f"{path}/year=2024/month={month}"
        return sorted((f, os.path.getmtime(os.path.join(d, f)))
                      for f in os.listdir(d) if f.endswith(".parquet"))

    before = {m: dir_state(m) for m in (1, 2, 3)}
    delta = spark.createDataFrame(
        [(1, 2024, 2, 99.0, "t9"), (7, 2024, 2, 7.0, "t9")],
        "id long, year int, month int, v double, created_at string",
    )
    out = upsert_parquet_incremental(spark, delta, path, keys=["id", "year", "month"])

    # untouched months: identical files, same mtimes
    assert dir_state(1) == before[1] and dir_state(3) == before[3]
    # touched month: update applied last-write-wins, insert added
    m2 = {r.id: r.v for r in out.where("month = 2").collect()}
    assert m2 == {1: 99.0, 2: 4.0, 7: 7.0}
    assert out.count() == 7
    assert sorted((r.id, r.month, r.v) for r in out.where("month != 2").collect()) == [
        (1, 1, 1.0), (1, 3, 3.0), (2, 1, 2.0), (2, 3, 6.0)
    ]
    assert conf_sets == []


def test_streaming_sliding_aggregate_matches_batch(spark, sf_dir, tmp_path):
    """The SLIDING-window streaming twin (1h windows every 15min): the
    watermarked stream over finite input must emit a subset of the
    batch sliding_hourly_15m result, equal on every emitted window, and
    must have released everything safely past the watermark."""
    from crypto_data_pipeline_spark.plans.registry import load_with_extras
    from crypto_data_pipeline_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "ev")
    events.select("user_id", "event_id", "ts", "event_type", "value").write.parquet(src)

    stream = spark.readStream.schema(
        "user_id long, event_id long, ts timestamp, event_type string, value double"
    ).parquet(src)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        ingest.streaming_hourly_aggregate(stream, slide="15 minutes")
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.hour_start, r.event_type): (r.n_events, round(r.total_value, 6))
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in load_with_extras()["sliding_hourly_15m"].fn(spark, sf_dir).collect()
    }
    assert got, "stream must emit closed windows"
    assert set(got) <= set(batch)
    for k, v in got.items():
        assert v == batch[k], k
    import datetime as _dt

    max_ts = events.agg(F.max("ts")).collect()[0][0]
    released = {k for k in batch if k[0] < max_ts - _dt.timedelta(hours=3, minutes=15)}
    assert released <= set(got)


def test_stream_recovery_replays_failed_batch_exactly_once(spark, tmp_path):
    """Mid-run failure recovery: foreachBatch crashes AFTER the sink
    upsert of batch 1 but before its checkpoint commit — the worst-case
    window. On restart Spark REPLAYS batch 1; exactly-once at the sink
    therefore rests on the upsert's key-idempotence, which is exactly
    what this pins (the checkpoint-rerun test covers only the
    no-replay path)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from crypto_data_pipeline_spark.sources.upsert import upsert_parquet

    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    marker = str(tmp_path / "crashed-once")

    # two files -> two availableNow batches with maxFilesPerTrigger=1;
    # the second file overwrites btc@01-01 (newer created_at) and adds
    # a key, so a double-applied replay would be visible as a wrong
    # survivor count or stale price
    _silver_rows(spark, [("btc", "2025-01-01", 100.0, 0), ("eth", "2025-01-01", 10.0, 0)]).write.parquet(bronze)
    _silver_rows(spark, [("btc", "2025-01-01", 111.0, 5), ("ada", "2025-01-01", 1.0, 5)]).write.mode(
        "append"
    ).parquet(bronze)

    def run(fail_once: bool):
        stream = (
            spark.readStream.schema(SILVER_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(bronze)
        )

        def merge(batch, batch_id):
            upsert_parquet(
                batch.sparkSession, batch, silver, ["coin_id", "fetch_date"], ["created_at"]
            )
            if fail_once and batch_id >= 1 and not os.path.exists(marker):
                open(marker, "w").close()
                raise RuntimeError("injected crash after sink write, before commit")

        q = (
            stream.writeStream.foreachBatch(merge)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with pytest.raises(StreamingQueryException, match="injected crash"):
        run(fail_once=True)
    assert os.path.exists(marker), "sabotage batch never ran"

    run(fail_once=False)  # restart from the same checkpoint — replays batch 1

    rows = {(r.coin_id, str(r.fetch_date)): r.price_usd for r in spark.read.parquet(silver).collect()}
    assert rows == {
        ("btc", "2025-01-01"): 111.0,
        ("eth", "2025-01-01"): 10.0,
        ("ada", "2025-01-01"): 1.0,
    }, "batch replay must be invisible: one survivor per key, newest write wins"


def test_http_datasource_streaming_exactly_once(spark, tmp_path):
    """The streaming face of the same source: readStream advances one
    date per micro-batch (offset = date index), availableNow drains
    the window, rows match the batch scan exactly — and a checkpointed
    restart over the same window re-fetches NOTHING."""
    from crypto_data_pipeline_spark.sources import http_datasource as hds

    spark.dataSource.register(hds.CoinHistoryDataSource)
    coins, dates = "bitcoin,ethereum", "01-01-2025,02-01-2025,03-01-2025"
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = (
            spark.readStream.format("coin_history_api")
            .option("coins", coins)
            .option("dates", dates)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        # drain: micro-batches fire until read() reports caught-up
        # (offset stops advancing) — one batch per date
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(120)

    run()
    got = {(r.coin_id, str(r.fetch_date), r.price_usd)
           for r in spark.read.parquet(out).collect()}
    batch = (
        spark.read.format("coin_history_api")
        .option("coins", coins)
        .option("dates", dates)
        .load()
    )
    want = {(r.coin_id, str(r.fetch_date), r.price_usd) for r in batch.collect()}
    assert got == want and len(got) == 6

    # restart on the same checkpoint: offsets are caught up -> no new rows
    run()
    assert spark.read.parquet(out).count() == 6


DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)


def _doc_rows(spark, rows):
    return spark.createDataFrame(rows, DOCS_SCHEMA)


def test_stream_corpus_ingest_admits_only_novel(spark, tmp_path):
    """Continuously-ingesting deduplicated corpus: per-delivery novelty
    vs all prior deliveries, append-only per-batch store dirs, replay
    of a batch id is a no-op rewrite."""
    bronze = str(tmp_path / "bronze")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    # delivery 1: two distinct texts + one within-batch duplicate
    _doc_rows(
        spark, [(1, "alpha text"), (2, "beta text"), (3, "Alpha   TEXT ")]
    ).write.parquet(bronze)
    q = ingest.stream_corpus_ingest(spark, bronze, store, ckpt, DOCS_SCHEMA)
    q.awaitTermination()
    got = {r.doc_id for r in spark.read.parquet(store).collect()}
    assert got == {1, 2}  # 3 collapses into 1 (normalized identity)

    # delivery 2: one replay of a known text, one novel text
    _doc_rows(
        spark, [(10, "beta text"), (11, "gamma text")]
    ).write.mode("append").parquet(bronze)
    q2 = ingest.stream_corpus_ingest(spark, bronze, store, ckpt, DOCS_SCHEMA)
    q2.awaitTermination()
    rows = spark.read.parquet(store).collect()
    assert {r.doc_id for r in rows} == {1, 2, 11}
    by_batch = {r.doc_id: r.batch_id for r in rows}
    assert by_batch[11] != by_batch[1]  # second delivery is its own dir

    # same checkpoint, nothing new → no reprocessing, store unchanged
    q3 = ingest.stream_corpus_ingest(spark, bronze, store, ckpt, DOCS_SCHEMA)
    q3.awaitTermination()
    assert {r.doc_id for r in spark.read.parquet(store).collect()} == {1, 2, 11}

    # at-least-once replay: re-invoking the batch function with the
    # SAME batch id recomputes the identical admitted set (own dir is
    # excluded from the novelty view) and lands the identical dir
    replay = _doc_rows(spark, [(10, "beta text"), (11, "gamma text")])
    replayed_id = by_batch[11]
    ingest.ingest_corpus_batch(replay, replayed_id, store)
    assert {r.doc_id for r in spark.read.parquet(store).collect()} == {1, 2, 11}

    # cross-batch novelty still enforced after replay: a THIRD delivery
    # duplicating both survivors admits nothing but its novel row
    ingest.ingest_corpus_batch(
        _doc_rows(spark, [(20, "gamma text"), (21, "delta text")]), 99, store
    )
    assert {r.doc_id for r in spark.read.parquet(store).collect()} == {1, 2, 11, 21}


def test_stream_classify_matches_batch_twin(spark, tmp_path):
    """Streaming NB inference scores each delivery identically to the
    batch nb_predict, lands per-batch dirs, and a checkpointed re-run
    picks up nothing new."""
    from crypto_data_pipeline_spark.ml.classify import nb_predict, nb_train

    train = spark.createDataFrame(
        [(1, "a", "cat cat dog"), (2, "a", "cat fish"), (3, "b", "bird worm"),
         (4, "b", "bird bird")],
        "doc_id long, lang string, text string",
    )
    classes, grid = nb_train(train, label="lang")

    bronze = str(tmp_path / "bronze")
    out = str(tmp_path / "scored")
    ckpt = str(tmp_path / "ckpt")
    test_docs = _doc_rows(spark, [(10, "cat cat fish"), (11, "worm bird")])
    test_docs.write.parquet(bronze)

    q = ingest.stream_classify(spark, bronze, out, ckpt, DOCS_SCHEMA, classes, grid)
    q.awaitTermination()
    got = {r.doc_id: (r.predicted, r.score) for r in spark.read.parquet(out).collect()}
    want = {
        r.doc_id: (r.predicted, r.score) for r in nb_predict(test_docs, classes, grid).collect()
    }
    assert got == want and got[10][0] == "a" and got[11][0] == "b"

    # second delivery appends its own batch dir; first batch untouched
    _doc_rows(spark, [(12, "dog dog cat")]).write.mode("append").parquet(bronze)
    q2 = ingest.stream_classify(spark, bronze, out, ckpt, DOCS_SCHEMA, classes, grid)
    q2.awaitTermination()
    rows = spark.read.parquet(out).collect()
    assert {r.doc_id for r in rows} == {10, 11, 12}
    assert len({r.batch_id for r in rows}) == 2

    # same checkpoint, no new files → no-op
    q3 = ingest.stream_classify(spark, bronze, out, ckpt, DOCS_SCHEMA, classes, grid)
    q3.awaitTermination()
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {10, 11, 12}


@pytest.mark.slow
def test_stream_lm_score_matches_batch_across_delivery_orders(spark, tmp_path):
    """Streaming LM serve: documents scored against the at-rest bigram
    model and bucketed against the FROZEN boundary table must land
    EXACTLY the batch form's rows — for every delivery order and for
    both score columns (add-one ``ppl`` and Kneser-Ney ``ppl_kn``),
    because frozen boundaries make each doc's row independent of what
    shares its micro-batch. Covers scorable docs in two languages, an
    unseen-context doc, a 1-token doc, a NULL text, an untrained
    language and a trained-but-unbounded language (the sentinel paths),
    plus checkpointed re-run idempotence."""
    from crypto_data_pipeline_spark.operators.lm import (
        bounded_buckets,
        lm_fit,
        lm_scores,
        tercile_bounds,
    )
    from crypto_data_pipeline_spark.streaming.ingest import stream_lm_score

    lm_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("lang", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )
    train = spark.createDataFrame(
        [(1, "en", "a b a b a c"), (2, "en", "a b c a"), (3, "en", "c c a b"),
         (4, "fr", "x y x z"), (5, "fr", "x y y z x"),
         (6, "de", "u v u v")],  # trained, then dropped from bounds below
        lm_schema,
    )
    model = lm_fit(train, str(tmp_path / "model"))
    train_scores = lm_scores(train, *model)

    serve_rows = [
        (10, "en", "a b a"), (11, "en", "c a b c"), (12, "en", "z q z"),
        (13, "fr", "x y z"), (14, "en", "solo"), (15, "en", None),
        (16, "xx", "a b a b"), (17, "fr", "y z x y"),
        (18, "de", "u v u"),  # in the model, not in the bounds
    ]
    serve = spark.createDataFrame(serve_rows, lm_schema)
    orders = [
        [serve_rows[:4], serve_rows[4:]],
        [serve_rows[4:], serve_rows[:4]],
        [serve_rows[::2], serve_rows[1::2]],
    ]

    def landed(out: str) -> set:
        return {
            (r.doc_id, r.lang, r.n_bigrams, r.ppl, r.bucket)
            for r in spark.read.parquet(out).collect()
        }

    for ppl in ("ppl", "ppl_kn"):
        # freeze boundaries WITHOUT de: a trained-but-unbounded
        # language's docs must file as 'unscored', never vanish
        bounds = (
            tercile_bounds(train_scores, ppl)
            .where(F.col("lang") != "de")
            .localCheckpoint(eager=True)
        )
        want = {
            (r.doc_id, r.lang, r.n_bigrams, r.ppl, r.bucket)
            for r in bounded_buckets(lm_scores(serve, *model), bounds, ppl).collect()
        }
        assert {d for d, *_ in want} == {r[0] for r in serve_rows}  # nothing vanishes
        assert (18, "de", 0, -1.0, "unscored") in want

        for oi, parts in enumerate(orders):
            bronze = str(tmp_path / f"{ppl}_bronze_{oi}")
            out = str(tmp_path / f"{ppl}_scored_{oi}")
            ckpt = str(tmp_path / f"{ppl}_ckpt_{oi}")
            for part in parts:
                spark.createDataFrame(part, lm_schema).write.mode("append").parquet(bronze)
                q = stream_lm_score(
                    spark, bronze, out, ckpt, lm_schema, model, bounds, ppl
                )
                q.awaitTermination()
            assert landed(out) == want, (ppl, oi)

        # same checkpoint, nothing new -> no-op
        q = stream_lm_score(
            spark,
            str(tmp_path / f"{ppl}_bronze_0"), str(tmp_path / f"{ppl}_scored_0"),
            str(tmp_path / f"{ppl}_ckpt_0"), lm_schema, model, bounds, ppl,
        )
        q.awaitTermination()
        assert landed(str(tmp_path / f"{ppl}_scored_0")) == want, ppl


@pytest.mark.slow
def test_stream_dsir_score_matches_batch_across_delivery_orders(spark, tmp_path):
    """Streaming DSIR selection: documents scored against the frozen
    bucket log-ratio model and the frozen weight cutoff must land
    EXACTLY the batch frozen twin's rows under every delivery order —
    kept is a pure per-document predicate. Serve rows cover
    target-like text, source-like text, wholly UNSEEN vocabulary (the
    full-range model's smoothing-ratio buckets — a doc's features must
    never be dropped by an unmatched model join), a NULL text, and an
    empty text; plus checkpointed re-run idempotence."""
    from crypto_data_pipeline_spark.operators import dsir
    from crypto_data_pipeline_spark.streaming.ingest import stream_dsir_score

    n_buckets = 64
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("text", T.StringType(), True),
        ]
    )
    fit = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the lazy dog sleeps"),
         (3, "quick brown foxes jump high"), (4, "der schnelle fuchs springt"),
         (5, "el perro duerme mucho")],
        schema,
    )
    feats = dsir.dsir_features(fit, n_buckets=n_buckets)
    model = dsir.dsir_bucket_logratio(
        feats.where(F.col("id") <= 3), feats, n_buckets=n_buckets
    ).localCheckpoint(eager=True)
    weighted = dsir.dsir_importance_weights(fit, model, n_buckets=n_buckets, feats=feats)
    cutoff = dsir.dsir_weight_cutoff(weighted, 0.4).localCheckpoint(eager=True)

    serve_rows = [
        (10, "the quick brown fox"), (11, "the lazy dog"),
        (12, "der schnelle fuchs"), (13, "zzz completely unseen words qqq"),
        (14, None), (15, ""),
    ]
    serve = spark.createDataFrame(serve_rows, schema)
    want = {
        tuple(r)
        for r in dsir.dsir_score_frozen(serve, model, cutoff, n_buckets=n_buckets).collect()
    }
    assert {t[0] for t in want} == {r[0] for r in serve_rows}  # nothing vanishes
    by_id = {t[0]: t for t in want}
    assert by_id[14][1] == 0 and by_id[14][2] == 0.0  # NULL text: zero features
    assert by_id[13][1] > 0  # unseen vocab still counts its features

    orders = [
        [serve_rows[:3], serve_rows[3:]],
        [serve_rows[3:], serve_rows[:3]],
        [serve_rows[::2], serve_rows[1::2]],
    ]
    for oi, parts in enumerate(orders):
        bronze = str(tmp_path / f"bronze_{oi}")
        out = str(tmp_path / f"scored_{oi}")
        ckpt = str(tmp_path / f"ckpt_{oi}")
        for part in parts:
            spark.createDataFrame(part, schema).write.mode("append").parquet(bronze)
            q = stream_dsir_score(
                spark, bronze, out, ckpt, schema, model, cutoff, n_buckets=n_buckets
            )
            q.awaitTermination()
        got = {
            tuple(r)
            for r in spark.read.parquet(out)
            .select("doc_id", "n_features", "weight", "kept").collect()
        }
        assert got == want, oi

    # same checkpoint, nothing new -> no-op
    q = stream_dsir_score(
        spark, str(tmp_path / "bronze_0"), str(tmp_path / "scored_0"),
        str(tmp_path / "ckpt_0"), schema, model, cutoff, n_buckets=n_buckets,
    )
    q.awaitTermination()
    got = {
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "scored_0"))
        .select("doc_id", "n_features", "weight", "kept").collect()
    }
    assert got == want


@pytest.mark.slow
def test_stream_rho_select_matches_batch_across_delivery_orders(spark, tmp_path):
    """Streaming RHO-loss selection: documents scored by the at-rest LM
    (weak add-one base, strong Kneser-Ney reference) and
    thresholded against the frozen excess cutoff must land EXACTLY the
    batch frozen twin's rows under every delivery order — kept is a
    pure per-document predicate under frozen artifacts. Serve rows
    cover in-vocabulary text, partially-unseen vocabulary, a language
    the models never saw (sentinel row), a NULL text, and a sub-2-token
    doc; plus checkpointed re-run idempotence."""
    from crypto_data_pipeline_spark.operators import lm as lm_ops
    from crypto_data_pipeline_spark.operators.dsir import dsir_kth_weight
    from crypto_data_pipeline_spark.streaming.ingest import stream_rho_select

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("lang", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )
    fit = spark.createDataFrame(
        [(1, "en", "the quick brown fox jumps over the dog"),
         (2, "en", "the lazy dog sleeps under the tree"),
         (3, "en", "quick foxes jump over lazy dogs daily"),
         (4, "de", "der schnelle fuchs springt sehr hoch"),
         (5, "de", "der faule hund schlaeft den ganzen tag")],
        schema,
    )
    model = lm_ops.lm_fit(fit, str(tmp_path / "model"))
    scored = lm_ops.rho_excess(lm_ops.lm_scores(fit, *model))
    cut = dsir_kth_weight(scored, 0.4, weight_col="excess")
    cutoff = spark.createDataFrame([(cut,)], "cutoff double").localCheckpoint(
        eager=True
    )

    serve_rows = [
        (10, "en", "the quick brown fox jumps"),
        (11, "en", "the lazy dog sleeps zzz unseen qqq"),
        (12, "de", "der schnelle fuchs springt"),
        (13, "fr", "le renard rapide saute"),   # language the models never saw
        (14, "en", None),                        # NULL text
        (15, "en", "single"),                    # sub-2-token: no bigrams
    ]
    serve = spark.createDataFrame(serve_rows, schema)
    want = {
        tuple(r)
        for r in lm_ops.rho_excess_select_frozen(serve, model, cutoff).collect()
    }
    assert {t[0] for t in want} == {r[0] for r in serve_rows}  # nothing vanishes
    by_id = {t[0]: t for t in want}
    for sentinel_id in (13, 14, 15):
        assert by_id[sentinel_id][2:] == (-1.0, -1.0, 0.0, False), sentinel_id
    assert by_id[10][5] in (True, False) and by_id[10][2] > 0  # scored for real

    orders = [
        [serve_rows[:3], serve_rows[3:]],
        [serve_rows[3:], serve_rows[:3]],
        [serve_rows[::2], serve_rows[1::2]],
    ]
    for oi, parts in enumerate(orders):
        bronze = str(tmp_path / f"rho_bronze_{oi}")
        out = str(tmp_path / f"rho_out_{oi}")
        ckpt = str(tmp_path / f"rho_ckpt_{oi}")
        for part in parts:
            spark.createDataFrame(part, schema).write.mode("append").parquet(bronze)
            q = stream_rho_select(
                spark, bronze, out, ckpt, schema, model, cutoff
            )
            q.awaitTermination()
        got = {
            tuple(r)
            for r in spark.read.parquet(out)
            .select("doc_id", "lang", "ppl_base", "ppl_ref", "excess", "kept")
            .collect()
        }
        assert got == want, oi

    # same checkpoint, nothing new -> no-op
    q = stream_rho_select(
        spark, str(tmp_path / "rho_bronze_0"), str(tmp_path / "rho_out_0"),
        str(tmp_path / "rho_ckpt_0"), schema, model, cutoff,
    )
    q.awaitTermination()
    got = {
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "rho_out_0"))
        .select("doc_id", "lang", "ppl_base", "ppl_ref", "excess", "kept")
        .collect()
    }
    assert got == want


@pytest.mark.slow
def test_stream_corpus_ingest_bloom_tier_identical_store(spark, tmp_path):
    """The bloom-prefiltered ingest tier admits the IDENTICAL store as
    the exact tier across multiple deliveries, maintains one _bloom
    bit dir per delivery (hidden from the store's parquet discovery),
    and replaying a batch id under the bloom tier is a no-op rewrite
    of both dirs."""
    bronze = str(tmp_path / "bronze")
    exact_store = str(tmp_path / "exact")
    bloom_store = str(tmp_path / "bloom")

    d1 = [(1, "alpha text"), (2, "beta text"), (3, "Alpha   TEXT ")]
    d2 = [(10, "beta text"), (11, "gamma text")]
    d3 = [(20, "gamma text"), (21, "delta text")]

    _doc_rows(spark, d1).write.parquet(bronze)
    for mode_store, bloom_m in ((exact_store, None), (bloom_store, 512)):
        ckpt = str(tmp_path / f"ckpt_{bloom_m}")
        q = ingest.stream_corpus_ingest(
            spark, bronze, mode_store, ckpt, DOCS_SCHEMA, bloom_m=bloom_m
        )
        q.awaitTermination()

    _doc_rows(spark, d2).write.mode("append").parquet(bronze)
    _doc_rows(spark, d3).write.mode("append").parquet(bronze)
    for mode_store, bloom_m in ((exact_store, None), (bloom_store, 512)):
        ckpt = str(tmp_path / f"ckpt_{bloom_m}")
        q = ingest.stream_corpus_ingest(
            spark, bronze, mode_store, ckpt, DOCS_SCHEMA, bloom_m=bloom_m
        )
        q.awaitTermination()

    exact_rows = {r.doc_id for r in spark.read.parquet(exact_store).collect()}
    bloom_rows = {r.doc_id for r in spark.read.parquet(bloom_store).collect()}
    assert bloom_rows == exact_rows == {1, 2, 11, 21}

    # the bit store exists, is per-delivery, and is invisible to the
    # store's own parquet discovery (underscore prefix)
    bit_rows = spark.read.parquet(f"{bloom_store}/_bloom").collect()
    assert {r.batch_id for r in bit_rows} == {
        r.batch_id for r in spark.read.parquet(bloom_store).collect()
    }
    assert all(0 <= r.bit < 512 for r in bit_rows)
    assert "bit" not in spark.read.parquet(bloom_store).columns

    # replay of the last delivery under the bloom tier: identical store
    # (d2 and d3 may have coalesced into one micro-batch, so replay the
    # union — the exactly-once file source guarantees batch CONTENT,
    # not how many files compose it)
    before = {(r.doc_id, r.batch_id) for r in spark.read.parquet(bloom_store).collect()}
    last_id = max(b for _, b in before)
    ingest.ingest_corpus_batch(
        _doc_rows(spark, d2 + d3), last_id, bloom_store, bloom_m=512
    )
    after = {(r.doc_id, r.batch_id) for r in spark.read.parquet(bloom_store).collect()}
    assert after == before


@pytest.mark.slow
def test_bloom_tier_covers_store_predating_bloom(spark, tmp_path):
    """Round-6 review finding: enabling the bloom tier over a store
    built WITHOUT it used to bootstrap correctly once but persist only
    the new batch's bits — every later delivery then read duplicates
    of the pre-bloom content as bloom-negative = 'proven novel' and
    admitted them. The coverage check must detect the gap, rebuild the
    bit set into the reserved _bloom/batch_id=-1 dir with a _covers
    manifest, and keep the admitted set identical to the exact tier —
    including after bit dirs are lost."""
    store = str(tmp_path / "store")

    # two deliveries land WITHOUT the bloom tier
    ingest.ingest_corpus_batch(
        _doc_rows(spark, [(1, "alpha text"), (2, "beta text")]), 0, store
    )
    ingest.ingest_corpus_batch(_doc_rows(spark, [(11, "gamma text")]), 1, store)

    # first bloom-tier delivery: dup of pre-bloom content must be
    # rejected (bootstrap), novel row admitted
    ingest.ingest_corpus_batch(
        _doc_rows(spark, [(30, "alpha text"), (31, "delta text")]),
        2, store, bloom_m=512,
    )
    assert {r.doc_id for r in spark.read.parquet(store).collect()} == {1, 2, 11, 31}
    bloom_ids = {r.batch_id for r in spark.read.parquet(f"{store}/_bloom").collect()}
    assert -1 in bloom_ids  # the bootstrap bit set landed
    covers = spark.read.parquet(f"{store}/_bloom/_covers").collect()
    assert {r.covered_batch_id for r in covers} == {0, 1}

    # SECOND bloom delivery — the round-6 bug: _bloom now exists but
    # (pre-fix) omitted batches 0/1, so these dups bloomed negative
    # and were admitted. With coverage they must be rejected.
    ingest.ingest_corpus_batch(
        _doc_rows(spark, [(40, "beta text"), (41, "gamma text"), (42, "eps text")]),
        3, store, bloom_m=512,
    )
    assert {r.doc_id for r in spark.read.parquet(store).collect()} == {1, 2, 11, 31, 42}

    # a LOST bit dir reopens the gap; the next delivery must re-detect
    # and rebuild instead of trusting the remaining dirs
    import shutil

    shutil.rmtree(f"{store}/_bloom/batch_id=2")
    ingest.ingest_corpus_batch(
        _doc_rows(spark, [(50, "delta text")]), 4, store, bloom_m=512
    )
    assert {r.doc_id for r in spark.read.parquet(store).collect()} == {1, 2, 11, 31, 42}
    covers = spark.read.parquet(f"{store}/_bloom/_covers").collect()
    assert {r.covered_batch_id for r in covers} == {0, 1, 2, 3}

    # a surviving manifest over a LOST bootstrap dir is not coverage:
    # the -1 bits are gone, so the gap must be re-detected too
    shutil.rmtree(f"{store}/_bloom/batch_id=-1")
    shutil.rmtree(f"{store}/_bloom/batch_id=3")  # make 3 manifest-only
    ingest.ingest_corpus_batch(
        _doc_rows(spark, [(60, "eps text"), (61, "zeta text")]),
        5, store, bloom_m=512,
    )
    assert {r.doc_id for r in spark.read.parquet(store).collect()} == {
        1, 2, 11, 31, 42, 61,
    }


def test_stream_distinct_sketch_bit_identical_to_batch(spark, tmp_path):
    """The streamed HLL register store, merged across delivery dirs,
    is BIT-IDENTICAL to sketching the union of all deliveries in one
    batch job — max-monotone merge loses nothing — and the estimates
    therefore agree exactly. Replay of a delivery id is a no-op."""
    from crypto_data_pipeline_spark.operators.sketch import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
        ]
    )
    bronze = str(tmp_path / "bronze")
    regs_root = str(tmp_path / "regs")
    ckpt = str(tmp_path / "ckpt")

    d1 = [(i, "click") for i in range(40)] + [(i, "view") for i in range(10)]
    d2 = [(i, "click") for i in range(20, 60)] + [(None, "click")]
    spark.createDataFrame(d1, schema).write.parquet(bronze)
    q = ingest.stream_distinct_sketch(spark, bronze, regs_root, ckpt, schema, m=64)
    q.awaitTermination()
    spark.createDataFrame(d2, schema).write.mode("append").parquet(bronze)
    q = ingest.stream_distinct_sketch(spark, bronze, regs_root, ckpt, schema, m=64)
    q.awaitTermination()

    streamed = hll_merge(
        spark.read.parquet(regs_root).drop("batch_id"), group=("event_type",)
    )
    direct = hll_registers(
        spark.createDataFrame(d1 + d2, schema),
        F.col("user_id"),
        m=64,
        group=("event_type",),
    )
    key = lambda rows: {(r["event_type"], r["j"]): r["r"] for r in rows}
    assert key(streamed.collect()) == key(direct.collect())

    est_s = {
        r["event_type"]: r["hll_estimate"]
        for r in hll_estimate(streamed, m=64, group=("event_type",)).collect()
    }
    est_d = {
        r["event_type"]: r["hll_estimate"]
        for r in hll_estimate(direct, m=64, group=("event_type",)).collect()
    }
    assert est_s == est_d

    # replaying a delivery rewrites identical registers
    batch_ids = {r.batch_id for r in spark.read.parquet(regs_root).collect()}
    before = key(spark.read.parquet(regs_root).drop("batch_id").collect())
    ingest.sketch_distinct_batch(
        spark.createDataFrame(d2, schema), max(batch_ids), regs_root, m=64
    )
    after = key(spark.read.parquet(regs_root).drop("batch_id").collect())
    assert after == before


def test_stream_maintain_aggregate_materialized_view(spark, tmp_path):
    """Streaming materialized view: CDC deliveries maintain the gold
    aggregate as atomic generations; the final state equals a from-
    scratch recompute, history is time-travelable, and a replayed
    delivery (the foreachBatch at-least-once case) is a no-op instead
    of a double-count — the exactly-once marker contract."""
    from crypto_data_pipeline_spark.sources import generations as gen
    from crypto_data_pipeline_spark.streaming.ingest import (
        maintain_aggregate_batch,
        stream_maintain_aggregate,
    )

    schema = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("grp", T.StringType()),
            T.StructField("val", T.LongType()),
            T.StructField("prev_grp", T.StringType()),
            T.StructField("prev_val", T.LongType()),
        ]
    )
    feed = str(tmp_path / "feed")
    gold = str(tmp_path / "gold")
    ckpt = str(tmp_path / "ckpt")

    d1 = [("U", "a", 10, None, None), ("U", "a", 5, None, None),
          ("U", "b", 7, None, None)]
    # delivery 2: update one a-row 10->12, move the b-row to c, insert d
    d2 = [("U", "a", 12, "a", 10), ("U", "c", 7, "b", 7),
          ("U", "d", 1, None, None), ("D", None, None, "a", 5)]

    spark.createDataFrame(d1, schema).write.parquet(feed)
    q = stream_maintain_aggregate(spark, feed, gold, ckpt, schema,
                                  "grp", "val", "prev_grp", "prev_val")
    q.awaitTermination()
    spark.createDataFrame(d2, schema).write.mode("append").parquet(feed)
    q = stream_maintain_aggregate(spark, feed, gold, ckpt, schema,
                                  "grp", "val", "prev_grp", "prev_val")
    q.awaitTermination()

    final = {(r.grp, r.n_rows, r.total)
             for r in gen.read_current(spark, gold).collect()}
    assert final == {("a", 1, 12), ("c", 1, 7), ("d", 1, 1)}

    # time travel: the first delivery's state is intact
    first = {(r.grp, r.n_rows, r.total)
             for r in gen.read_generation(spark, gold, 0).collect()}
    assert first == {("a", 2, 15), ("b", 1, 7)}

    # replay the latest delivery with its committed batch id: no-op
    cur = gen.current_generation(spark, gold)
    import os as _os

    gen_dir = f"{gold}/gen={cur}"
    applied = [f for f in _os.listdir(gen_dir) if f.startswith("_applied_")]
    assert len(applied) == 1
    bid = int(applied[0].rsplit("_", 1)[1])
    maintain_aggregate_batch(
        spark.createDataFrame(d2, schema), bid,
        gold, "grp", "val", "prev_grp", "prev_val",
    )
    assert gen.current_generation(spark, gold) == cur  # no new generation
    assert {(r.grp, r.n_rows, r.total)
            for r in gen.read_current(spark, gold).collect()} == final


@pytest.mark.slow
def test_backfill_delivery_order_property(spark, tmp_path):
    """Late-data / backfill property over ≥20 delivery orders: the two
    continuously-maintained stores must converge to the batch recompute
    of every PREFIX regardless of the order whole deliveries arrive in.

    Corpus ingest: all 6 permutations of 3 deliveries — after each
    prefix, the store's distinct normalized-content set equals the
    distinct content of the deliveries seen so far (survivor IDs are
    first-arrival-wins by design; content is order-free).

    IVM gold: identity + 14 random permutations of 4 CDC deliveries
    (including cross-delivery value updates, the case whose transient
    count==0/sum!=0 state used to be dropped) — after each prefix, the
    maintained aggregate equals the pure additive fold of the prefix's
    envelopes."""
    import itertools
    import random

    from crypto_data_pipeline_spark.operators.dedup import normalized
    from crypto_data_pipeline_spark.sources import generations as gen
    from crypto_data_pipeline_spark.streaming.ingest import maintain_aggregate_batch

    # --- corpus ingest: content-set parity under any delivery order
    deliveries = [
        [(1, "alpha text"), (2, "beta text")],
        [(10, "beta text"), (11, "gamma text")],
        [(20, " ALPHA   TEXT"), (21, "delta text")],
    ]

    def content_set(df):
        return {
            r[0]
            for r in df.select(F.md5(normalized("text"))).distinct().collect()
        }

    for oi, order in enumerate(itertools.permutations(range(3))):
        store = str(tmp_path / f"corpus_{oi}")
        for prefix_len, di in enumerate(order, start=1):
            ingest.ingest_corpus_batch(
                _doc_rows(spark, deliveries[di]), prefix_len - 1, store
            )
            expect = content_set(
                _doc_rows(
                    spark,
                    [row for j in order[:prefix_len] for row in deliveries[j]],
                )
            )
            got = content_set(spark.read.parquet(store))
            assert got == expect, (order, prefix_len)

    # --- IVM gold: additive-fold parity under any delivery order
    schema = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("grp", T.StringType()),
            T.StructField("val", T.LongType()),
            T.StructField("prev_grp", T.StringType()),
            T.StructField("prev_val", T.LongType()),
        ]
    )
    cdc = [
        [("U", "a", 10, None, None), ("U", "b", 7, None, None)],
        [("U", "a", 12, "a", 10), ("U", "c", 5, None, None)],
        [("D", None, None, "b", 7), ("U", "c", 9, "c", 5)],
        [("U", "b", 4, None, None), ("U", "d", 2, None, None)],
    ]

    def fold(envelopes):
        stats: dict[str, list[int]] = {}
        for op, grp, val, pg, pv in envelopes:
            if op != "D":
                s = stats.setdefault(grp, [0, 0])
                s[0] += 1
                s[1] += val
            if pg is not None:
                s = stats.setdefault(pg, [0, 0])
                s[0] -= 1
                s[1] -= pv
        return {g: (c, t) for g, (c, t) in stats.items() if c != 0 or t != 0}

    rng = random.Random(7)
    orders = [tuple(range(4))] + [
        tuple(rng.sample(range(4), 4)) for _ in range(14)
    ]
    for oi, order in enumerate(orders):
        gold = str(tmp_path / f"gold_{oi}")
        for prefix_len, di in enumerate(order, start=1):
            maintain_aggregate_batch(
                spark.createDataFrame(cdc[di], schema), prefix_len - 1,
                gold, "grp", "val", "prev_grp", "prev_val",
            )
            got = {
                r.grp: (r.n_rows, r.total)
                for r in gen.read_current(spark, gold).collect()
            }
            expect = fold(
                [env for j in order[:prefix_len] for env in cdc[j]]
            )
            assert got == expect, (order, prefix_len)


def test_read_gold_aggregate_hides_carrier_rows(spark, tmp_path):
    """Round-8 reader contract (ADVICE round 7): the maintained state
    keeps count==0/sum!=0 carrier rows for out-of-order convergence,
    but the read boundary must not expose them — a consumer would see
    a phantom group with n_rows=0 and divide by zero computing its
    average. Deliver a cross-delivery value update BEFORE the insert
    it amends: mid-convergence the raw generation holds the carrier,
    `read_gold_aggregate` hides it, and after the insert arrives both
    agree on the live group."""
    from crypto_data_pipeline_spark.sources import generations as gen
    from crypto_data_pipeline_spark.streaming.ingest import (
        maintain_aggregate_batch,
        read_gold_aggregate,
    )

    schema = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("grp", T.StringType()),
            T.StructField("val", T.LongType()),
            T.StructField("prev_grp", T.StringType()),
            T.StructField("prev_val", T.LongType()),
        ]
    )
    gold = str(tmp_path / "gold")
    # delivery 1 (an UPDATE of a row whose INSERT is still in flight):
    # +1/+12 to 'a' and -1/-10 from 'a' nets (0, +2) — a carrier row
    maintain_aggregate_batch(
        spark.createDataFrame([("U", "a", 12, "a", 10)], schema),
        0, gold, "grp", "val", "prev_grp", "prev_val",
    )
    raw = {(r.grp, r.n_rows, r.total) for r in gen.read_current(spark, gold).collect()}
    assert raw == {("a", 0, 2)}  # state keeps the carrier...
    assert read_gold_aggregate(spark, gold).count() == 0  # ...readers don't see it

    # delivery 0 (the out-of-order insert) arrives: group goes live
    maintain_aggregate_batch(
        spark.createDataFrame([("U", "a", 10, None, None)], schema),
        1, gold, "grp", "val", "prev_grp", "prev_val",
    )
    live = {(r.grp, r.n_rows, r.total)
            for r in read_gold_aggregate(spark, gold).collect()}
    assert live == {("a", 1, 12)}


def test_maintain_aggregate_external_seed(spark, tmp_path):
    """Round-6 review finding: a gold table seeded by a plain
    generations.publish() (no _applied_* marker) used to be silently
    skipped as 'crashed' — the view restarted from an EMPTY aggregate
    with wrong totals and no error. Now: an unmarked pointer-referenced
    generation raises unless it carries the explicit _bootstrap marker,
    in which case it is adopted as the base. A genuinely crashed
    publish (unmarked dir, pointer untouched) is still skipped."""
    import pytest

    from crypto_data_pipeline_spark.sources import generations as gen
    from crypto_data_pipeline_spark.streaming.ingest import maintain_aggregate_batch

    schema = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("grp", T.StringType()),
            T.StructField("val", T.LongType()),
            T.StructField("prev_grp", T.StringType()),
            T.StructField("prev_val", T.LongType()),
        ]
    )
    seed = spark.createDataFrame(
        [("a", 2, 15), ("b", 1, 7)], "grp string, n_rows long, total long"
    )
    delivery = spark.createDataFrame([("U", "a", 5, None, None)], schema)

    # unmarked external seed -> loud failure, no empty-rebase
    gold1 = str(tmp_path / "gold_unmarked")
    gen.publish(seed, gold1)
    with pytest.raises(RuntimeError, match="_bootstrap"):
        maintain_aggregate_batch(
            delivery, 0, gold1, "grp", "val", "prev_grp", "prev_val"
        )
    assert gen.current_generation(spark, gold1) == 0  # untouched

    # explicit _bootstrap marker -> adopted as the base
    gold2 = str(tmp_path / "gold_marked")
    gen.publish(seed, gold2, marker="_bootstrap")
    maintain_aggregate_batch(
        delivery, 0, gold2, "grp", "val", "prev_grp", "prev_val"
    )
    got = {(r.grp, r.n_rows, r.total)
           for r in gen.read_current(spark, gold2).collect()}
    assert got == {("a", 3, 20), ("b", 1, 7)}

    # crashed publish (dir exists, pointer never flipped) is still
    # skipped: the marked base below it wins
    import shutil

    crashed_src = str(tmp_path / "crash_src")
    gen.publish(seed, crashed_src)
    cur = gen.current_generation(spark, gold2)
    shutil.copytree(f"{crashed_src}/gen=0", f"{gold2}/gen={cur + 1}")
    maintain_aggregate_batch(
        spark.createDataFrame([("U", "b", 1, None, None)], schema),
        1, gold2, "grp", "val", "prev_grp", "prev_val",
    )
    got = {(r.grp, r.n_rows, r.total)
           for r in gen.read_current(spark, gold2).collect()}
    assert got == {("a", 3, 20), ("b", 2, 8)}

