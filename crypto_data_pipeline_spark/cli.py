"""Command-line entry points — the reference's operational surface
(`python -m crypto_app.cli get-history --coin X --date D [--store-db]`,
SURVEY §3.1) mapped onto the Spark engine, plus the maintenance jobs a
parquet lake needs that the reference never had.

    python -m crypto_data_pipeline_spark get-history \
        --coins bitcoin,ethereum --dates 01-01-2025,02-01-2025 \
        --store /lake/silver_prices
    python -m crypto_data_pipeline_spark query \
        --name monthly_avg_price --sf-dir /root/testdata/sf0.001
    python -m crypto_data_pipeline_spark profile \
        --sf-dir /lake/sf0.01 --out /tmp/prof monthly_avg_price
    python -m crypto_data_pipeline_spark compact --path /lake/t --target-mb 128
    python -m crypto_data_pipeline_spark purge-quarantine \
        --path /lake/dead_letter --keep-after 2026-08-01

Design: argparse only (no third-party CLI dep), every command builds
the same SparkSession factory the library uses, `get-history` lands
through the SAME keyed upsert as the streaming path (one code path —
re-running a day is idempotent, exactly like the reference's
re-ingestion contract load_data.py:71-95).
"""

from __future__ import annotations

import argparse
import sys


def _spark(app: str):
    from crypto_data_pipeline_spark import get_spark

    return get_spark(app)


def expand_date_range(start_iso: str, end_iso: str) -> list[str]:
    """Inclusive daily expansion of [start, end] (ISO inputs) into the
    dd-mm-yyyy strings the fetch source takes — the reference
    bulk-process's ``rrule(DAILY, dtstart=start, until=end)``
    (/root/reference/crypto_app/cli.py:135-170), including its
    start-must-not-exceed-end validation."""
    import datetime as dt

    start = dt.date.fromisoformat(start_iso)
    end = dt.date.fromisoformat(end_iso)
    if start > end:
        raise ValueError("Start date must be before end date")
    return [
        (start + dt.timedelta(days=i)).strftime("%d-%m-%Y")
        for i in range((end - start).days + 1)
    ]


def cmd_get_history(args: argparse.Namespace) -> int:
    """Fetch (coins x dates) through the API source and upsert into a
    keyed parquet table — the cron daily-fetch body, one command.
    Dates come either as an explicit ``--dates`` list or as a
    ``--start-date/--end-date`` daily range (the reference's
    bulk-process flags); ``--concurrent`` additionally fans the fetch
    out over date chunks (``--max-workers`` per coin)."""
    from pyspark.sql import functions as F

    from crypto_data_pipeline_spark.sources.http_datasource import CoinHistoryDataSource
    from crypto_data_pipeline_spark.sources.upsert import upsert_parquet

    if bool(args.dates) == bool(args.start_date or args.end_date):
        print("get-history needs exactly one of --dates or --start-date/--end-date",
              file=sys.stderr)
        return 2
    if args.dates:
        dates = args.dates
    else:
        if not (args.start_date and args.end_date):
            print("--start-date and --end-date must be given together", file=sys.stderr)
            return 2
        try:
            dates = ",".join(expand_date_range(args.start_date, args.end_date))
        except ValueError as exc:
            print(f"Error: {exc}", file=sys.stderr)
            return 2

    spark = _spark("cli-get-history")
    spark.dataSource.register(CoinHistoryDataSource)
    fetched = (
        spark.read.format("coin_history_api")
        .option("coins", args.coins)
        .option("dates", dates)
        .option("transport", args.transport)
        .option("concurrent", str(bool(args.concurrent)).lower())
        .option("max_workers", str(args.max_workers))
        .load()
        .withColumn("created_at", F.current_timestamp())
        # one fetch: the frame is consumed twice below (merge + count);
        # unpersisted, each action would re-hit the rate-limited API
        .persist()
    )
    if args.store:
        merged = upsert_parquet(
            spark, fetched, args.store, keys=["coin_id", "fetch_date"],
            order_by=["created_at"],
        )
        print(f"upserted {fetched.count()} fetched rows -> {merged.count()} total at {args.store}")
    else:
        for r in fetched.collect():
            print(f"{r.coin_id} {r.fetch_date} price={r.price_usd}")
    return 0


def _registered(names: list[str]) -> dict | None:
    """The registry's specs, or None after naming on stderr the first
    of ``names`` the registry does not know, with the known names."""
    from crypto_data_pipeline_spark.plans.registry import load_with_extras

    specs = load_with_extras()
    for name in names:
        if name not in specs:
            known = ", ".join(sorted(specs))
            print(f"unknown query {name!r}; known: {known}", file=sys.stderr)
            return None
    return specs


def cmd_query(args: argparse.Namespace) -> int:
    """Run a registered catalog query by name (the `\\i
    analysis_queries.sql` replacement) and print up to --limit rows."""
    specs = _registered([args.name])
    if specs is None:
        return 2
    spark = _spark(f"cli-query-{args.name}")
    df = specs[args.name].fn(spark, args.sf_dir)
    df.show(args.limit, truncate=False)
    return 0


def cmd_profile(args: argparse.Namespace) -> int:
    """Profile registered queries on --sf-dir, one
    `observability.profile_call` record per call, and print one JSON
    line per query with two records: ``cold``, its first call on the
    dir in this session, and ``steady``, the call with the median wall
    of three calls made after one untimed warm call. A cache that
    several queries share (silver, the LM fit, the fixed IVF index) is
    built in the cold call of the first of them named. With --out,
    also write DIR/PROFILE.json (every record) and DIR/<name>.txt, the
    formatted explain of the executed steady plan."""
    import json
    import os

    from crypto_data_pipeline_spark.observability import profile_call

    specs = _registered(args.names)
    if specs is None:
        return 2
    spark = _spark("cli-profile")
    mode = spark.sparkContext._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    if args.out:
        os.makedirs(args.out, exist_ok=True)
    table: dict[str, dict] = {}
    for name in args.names:
        built = {}

        def call(spark, sf_dir, fn=specs[name].fn):
            built["df"] = fn(spark, sf_dir)  # kept for the steady explain
            return built["df"]

        cold = profile_call(spark, call, args.sf_dir)
        profile_call(spark, call, args.sf_dir)  # the untimed warm call
        runs = [(profile_call(spark, call, args.sf_dir), built["df"]) for _ in range(3)]
        steady, steady_df = sorted(runs, key=lambda r: r[0]["wall"])[1]
        table[name] = {"cold": cold, "steady": steady}
        print(json.dumps({"query": name, "sf_dir": args.sf_dir, **table[name]}), flush=True)
        if args.out:
            with open(os.path.join(args.out, f"{name}.txt"), "w") as f:
                f.write(steady_df._jdf.queryExecution().explainString(mode))
    if args.out:
        with open(os.path.join(args.out, "PROFILE.json"), "w") as f:
            json.dump(table, f, indent=2, sort_keys=True)
            f.write("\n")
    return 0


def cmd_compact(args: argparse.Namespace) -> int:
    from crypto_data_pipeline_spark.sources.compaction import compact_parquet

    spark = _spark("cli-compact")
    compact_parquet(
        spark, args.path, args.out,
        target_file_bytes=args.target_mb * 1024 * 1024,
        sort_by=[args.sort_by] if args.sort_by else None,
    )
    print(f"compacted {args.path} -> {args.out}")
    return 0


def cmd_rollback(args: argparse.Namespace) -> int:
    from crypto_data_pipeline_spark.sources.generations import current_generation, rollback

    spark = _spark("cli-rollback")
    before = current_generation(spark, args.root)
    rollback(spark, args.root, args.to_gen)
    print(f"rolled back {args.root}: gen {before} -> {args.to_gen}")
    return 0


def cmd_vacuum(args: argparse.Namespace) -> int:
    from crypto_data_pipeline_spark.sources.generations import vacuum

    spark = _spark("cli-vacuum")
    dropped = vacuum(spark, args.root, keep_last=args.keep_last)
    print(f"vacuumed {len(dropped)} generations: {dropped}")
    return 0


def cmd_purge_quarantine(args: argparse.Namespace) -> int:
    from crypto_data_pipeline_spark.sources.quarantine import purge_quarantine

    spark = _spark("cli-purge-quarantine")
    dropped = purge_quarantine(spark, args.path, args.keep_after)
    print(f"purged {len(dropped)} partitions: {dropped}")
    return 0


def cmd_run_sql(args: argparse.Namespace) -> int:
    """Execute a PostgreSQL-dialect SQL file (e.g. the reference's
    analysis_queries.sql) through the pg_compat transpiler + views.
    With ``--name``, extract just the ``-- BEGIN <name>``/``-- END
    <name>``-marked query (the reference's run_analysis_query,
    db.py:301-348) — and like the reference, that path works ONLY
    with markers; a file without them is an error, not a fallback to
    whole-file execution."""
    from crypto_data_pipeline_spark.sql import (
        run_named_reference_query,
        run_reference_sql,
    )

    spark = _spark("cli-run-sql")
    if args.name:
        try:
            df = run_named_reference_query(
                spark, args.sf_dir, args.name, args.file,
                bronze_root=args.bronze_root,
            )
        except (KeyError, ValueError) as exc:  # missing marker / multi-stmt block
            print(f"Error: {exc.args[0] if exc.args else exc}", file=sys.stderr)
            return 2
        df.show(args.limit, truncate=False)
        return 0
    for i, df in enumerate(
        run_reference_sql(spark, args.sf_dir, args.file, bronze_root=args.bronze_root), 1
    ):
        print(f"-- statement {i}")
        df.show(args.limit, truncate=False)
    return 0


def cmd_ingest_corpus(args: argparse.Namespace) -> int:
    """Drain the bronze document dir into the deduplicated append-only
    corpus store (catch-up-and-stop; re-runs are idempotent)."""
    from pyspark.sql import types as T

    from crypto_data_pipeline_spark.streaming.ingest import stream_corpus_ingest

    spark = _spark("cli-ingest-corpus")
    schema = T.StructType(
        [
            T.StructField(args.id_col, T.LongType(), False),
            T.StructField(args.text_col, T.StringType(), True),
        ]
    )
    q = stream_corpus_ingest(
        spark, args.bronze, args.store, args.checkpoint, schema,
        id_col=args.id_col, text=args.text_col,
    )
    q.awaitTermination()
    n = spark.read.parquet(args.store).count()
    print(f"corpus store {args.store}: {n} documents")
    return 0


def cmd_run_pipeline(args: argparse.Namespace) -> int:
    """The reference user's switch-over command: one distributed run
    replaces their whole stack — load_data.py (bronze JSON tree ->
    silver), analysis_queries.sql (the two README reports), and the
    EDA/transform notebooks (processed + per-coin prediction feature
    tables). Row-level parity with the published outputs on the real
    corpus is pinned by tests/test_real_reference_data.py; this
    command is the same operators behind a front door:

      python -m crypto_data_pipeline_spark run-pipeline \\
          --bronze-root <data dir with <coin>/<coin>_<date>.json> \\
          --out <dir>

    Writes parquet: out/processed, out/prediction, out/monthly_avg,
    out/recovery_report; prints the two report tables."""
    from crypto_data_pipeline_spark.operators import islands, timeseries as ts
    from crypto_data_pipeline_spark.plans import feature_pipeline as fp
    from crypto_data_pipeline_spark.sources.json_dir import (
        coin_history_silver,
        read_bronze_json,
    )

    spark = _spark("cli-run-pipeline")
    silver = coin_history_silver(read_bronze_json(spark, args.bronze_root)).persist()
    n = silver.count()
    if n == 0:
        print(f"no bronze documents under {args.bronze_root}", file=sys.stderr)
        return 2
    hist = silver.select("entity_id", "fetch_date", "price")

    fp.processed_table(hist).write.mode("overwrite").parquet(f"{args.out}/processed")
    fp.prediction_table(hist, spark).write.mode("overwrite").parquet(
        f"{args.out}/prediction"
    )

    monthly = ts.monthly_avg(hist)
    monthly.write.mode("overwrite").parquet(f"{args.out}/monthly_avg")
    from pyspark.sql import functions as F

    caps = ts.latest_per_entity(silver, "entity_id", "fetch_date").select(
        "entity_id",
        F.col("market_cap_usd").alias("market_cap"),
        islands.format_market_cap("market_cap_usd").alias("market_cap_formatted"),
    )
    report = islands.recovery_report(hist, caps)
    report.write.mode("overwrite").parquet(f"{args.out}/recovery_report")

    print(f"ingested {n} bronze documents from {args.bronze_root}")
    # both report tables are small by construction (|coins| x months
    # and |coins| rows) — print them WHOLE from the landed parquet so
    # a bigger-than-reference corpus never gets a silently truncated
    # report next to a complete file
    monthly_out = spark.read.parquet(f"{args.out}/monthly_avg")
    print("-- monthly average price (Query 1) --")
    monthly_out.orderBy("entity_id", "year", "month").show(
        monthly_out.count(), truncate=False
    )
    report_out = spark.read.parquet(f"{args.out}/recovery_report")
    print("-- recovery after >=3 consecutive drops (Query 2) --")
    report_out.orderBy(F.col("avg_price_increase_pct").desc()).show(
        report_out.count(), truncate=False
    )
    silver.unpersist()
    return 0


def cmd_list_coins(args: argparse.Namespace) -> int:
    """Print (and optionally snapshot) the coin catalog — the
    reference's ``get_coin_list`` (coingecko_client.py:94). Driver-side
    fetch (one request), Spark only for the optional parquet snapshot."""
    from crypto_data_pipeline_spark.sources.http_client import HistoryApiClient
    from crypto_data_pipeline_spark.sources.http_datasource import fake_transport

    client = (
        HistoryApiClient(transport=fake_transport)
        if args.transport == "fake"
        else HistoryApiClient()
    )
    coins = client.get_coin_list()
    for c in coins[: args.limit]:
        print(f"{c['id']}\t{c['symbol']}\t{c['name']}")
    if args.store:
        spark = _spark("cli-list-coins")
        spark.createDataFrame(
            [(c["id"], c["symbol"], c["name"]) for c in coins],
            "coin_id string, symbol string, name string",
        ).coalesce(1).write.mode("overwrite").parquet(args.store)
        print(f"snapshot: {len(coins)} coins -> {args.store}")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="crypto_data_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("get-history", help="fetch price history and upsert to a keyed table")
    g.add_argument("--coins", required=True, help="comma-separated coin ids")
    g.add_argument("--dates", default=None, help="comma-separated dd-mm-yyyy dates")
    g.add_argument("--start-date", default=None, metavar="YYYY-MM-DD",
                   help="first day of an inclusive daily range (with --end-date)")
    g.add_argument("--end-date", default=None, metavar="YYYY-MM-DD",
                   help="last day of the range")
    g.add_argument("--concurrent", dest="concurrent", action="store_true",
                   help="fan the fetch out over date chunks too")
    g.add_argument("--sequential", dest="concurrent", action="store_false",
                   help="one fetch partition per coin (default)")
    g.set_defaults(concurrent=False)
    g.add_argument("--max-workers", type=int, default=8,
                   help="date chunks per coin in --concurrent mode")
    g.add_argument("--store", default=None, help="parquet table path (omit to print)")
    g.add_argument("--transport", default="fake", choices=["fake", "real", "down"])
    g.set_defaults(fn=cmd_get_history)

    q = sub.add_parser("query", help="run a registered analysis query by name")
    q.add_argument("--name", required=True)
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q.add_argument("--limit", type=int, default=20)
    q.set_defaults(fn=cmd_query)

    pr = sub.add_parser("profile", help="per-call jobs, times and plan metrics of registered queries")
    pr.add_argument("names", nargs="+", metavar="NAME")
    pr.add_argument("--sf-dir", required=True)
    pr.add_argument("--out", default=None,
                    help="directory for PROFILE.json and one explain per query")
    pr.set_defaults(fn=cmd_profile)

    c = sub.add_parser("compact", help="rewrite a parquet dir into ~target-size files")
    c.add_argument("--path", required=True)
    c.add_argument("--out", required=True)
    c.add_argument("--target-mb", type=int, default=128)
    c.add_argument("--sort-by", default=None)
    c.set_defaults(fn=cmd_compact)

    rb = sub.add_parser("rollback", help="re-point a generation-addressed table to an older snapshot")
    rb.add_argument("--root", required=True)
    rb.add_argument("--to-gen", type=int, required=True)
    rb.set_defaults(fn=cmd_rollback)

    v = sub.add_parser("vacuum", help="drop old generations (never the current one)")
    v.add_argument("--root", required=True)
    v.add_argument("--keep-last", type=int, default=2)
    v.set_defaults(fn=cmd_vacuum)

    pq = sub.add_parser("purge-quarantine", help="drop dead-letter partitions older than a date")
    pq.add_argument("--path", required=True)
    pq.add_argument("--keep-after", required=True, metavar="YYYY-MM-DD")
    pq.set_defaults(fn=cmd_purge_quarantine)

    rs = sub.add_parser("run-sql", help="execute a PostgreSQL-dialect SQL file via pg_compat")
    rs.add_argument("--file", required=True)
    rs.add_argument("--name", default=None,
                    help="run only the '-- BEGIN <name>'/'-- END <name>'-marked query")
    rs.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    rs.add_argument("--bronze-root", default=None,
                    help="register coin_history from a real bronze JSON tree "
                         "(e.g. the reference's data/) instead of --sf-dir")
    rs.add_argument("--limit", type=int, default=20)
    rs.set_defaults(fn=cmd_run_sql)

    ic = sub.add_parser("ingest-corpus", help="drain bronze docs into the deduplicated corpus store")
    ic.add_argument("--bronze", required=True)
    ic.add_argument("--store", required=True)
    ic.add_argument("--checkpoint", required=True)
    ic.add_argument("--id-col", default="doc_id")
    ic.add_argument("--text-col", default="text")
    ic.set_defaults(fn=cmd_ingest_corpus)

    rp = sub.add_parser(
        "run-pipeline",
        help="bronze JSON tree -> silver -> feature tables + the two analysis reports",
    )
    rp.add_argument("--bronze-root", required=True,
                    help="directory holding <coin>/<coin>_YYYY-MM-DD.json files")
    rp.add_argument("--out", required=True, help="output directory (parquet)")
    rp.set_defaults(fn=cmd_run_pipeline)

    lc = sub.add_parser("list-coins", help="print the coin catalog (optionally snapshot to parquet)")
    lc.add_argument("--transport", default="fake", choices=["fake", "real"])
    lc.add_argument("--limit", type=int, default=20)
    lc.add_argument("--store", default=None)
    lc.set_defaults(fn=cmd_list_coins)

    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
