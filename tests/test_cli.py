"""CLI entry points: the reference's operational commands
(get-history / analysis query) plus lake maintenance, exercised
in-process against the same session the suite holds."""

from __future__ import annotations

import tempfile

from crypto_data_pipeline_spark.cli import main
from crypto_data_pipeline_spark.sources.http_datasource import fake_price


def test_get_history_upserts_idempotently(spark, capsys):
    """Two identical runs of get-history converge to one row per
    (coin, date) — the reference's re-ingestion contract."""
    store = tempfile.mkdtemp(prefix="cli_hist_") + "/silver"
    argv = [
        "get-history",
        "--coins", "bitcoin,ethereum",
        "--dates", "01-01-2025,02-01-2025",
        "--store", store,
    ]
    assert main(argv) == 0
    assert main(argv) == 0  # idempotent re-run
    back = spark.read.parquet(store)
    assert back.count() == 4
    rows = {(r.coin_id, str(r.fetch_date)): r.price_usd for r in back.collect()}
    assert rows[("bitcoin", "2025-01-01")] == fake_price("bitcoin", "01-01-2025")


def test_query_by_name_prints_rows(capsys):
    assert main(["query", "--name", "pricing_summary", "--limit", "5"]) == 0
    out = capsys.readouterr().out
    assert "returnflag" in out or "l_returnflag" in out


def test_query_unknown_name_fails_with_catalog(capsys):
    assert main(["query", "--name", "nope_not_real"]) == 2
    err = capsys.readouterr().err
    assert "unknown query" in err and "pricing_summary" in err


def test_purge_quarantine_command(spark, capsys):
    from crypto_data_pipeline_spark.sources import quarantine

    df = spark.createDataFrame([(1, "not json")], "id long, payload string")
    _, bad = quarantine.split_quarantine(df, "payload", "k double")
    path = tempfile.mkdtemp(prefix="cli_dead_") + "/dl"
    quarantine.write_quarantine(bad, path, quarantine_date="2026-01-01")
    quarantine.write_quarantine(bad, path, quarantine_date="2026-08-01")
    assert main(["purge-quarantine", "--path", path, "--keep-after", "2026-06-01"]) == 0
    assert "2026-01-01" in capsys.readouterr().out
    assert spark.read.parquet(path).count() == 1


def test_generation_rollback_and_vacuum_commands(spark, capsys):
    from crypto_data_pipeline_spark.sources import generations as gen

    root = tempfile.mkdtemp(prefix="cli_gens_") + "/t"
    for i in range(3):
        gen.publish(
            spark.createDataFrame([(i,)], "v long"), root
        )
    assert main(["rollback", "--root", root, "--to-gen", "0"]) == 0
    assert "gen 2 -> 0" in capsys.readouterr().out
    assert main(["vacuum", "--root", root, "--keep-last", "1"]) == 0
    assert gen.list_generations(spark, root) == [0, 2]
    assert [r.v for r in gen.read_current(spark, root).collect()] == [0]


def test_list_coins_command(spark, capsys, tmp_path):
    """Coin catalog prints and snapshots to parquet (reference
    get_coin_list parity via the hermetic fake transport)."""
    store = str(tmp_path / "coins")
    assert main(["list-coins", "--limit", "2", "--store", store]) == 0
    out = capsys.readouterr().out
    assert "bitcoin\tbit\tBitcoin" in out and "snapshot: 5 coins" in out
    snap = spark.read.parquet(store)
    assert snap.count() == 5 and snap.columns == ["coin_id", "symbol", "name"]


def test_run_sql_command(capsys):
    """The reference's SQL file executes verbatim via the CLI and
    prints both statements' results."""
    assert main([
        "run-sql",
        "--file", "/root/reference/sql/analysis_queries.sql",
        "--sf-dir", "/root/testdata/sf0.001",
        "--limit", "3",
    ]) == 0
    out = capsys.readouterr().out
    assert "-- statement 1" in out and "-- statement 2" in out
    assert "avg_price_usd" in out and "current_market_cap_usd" in out


def test_get_history_date_range_expansion(spark, capsys, tmp_path):
    """--start-date/--end-date expands to every day of the inclusive
    range (the reference bulk-process rrule(DAILY) semantics,
    crypto_app/cli.py:135-170), works with --concurrent, rejects a
    reversed range, and refuses --dates alongside a range."""
    store = str(tmp_path / "silver")
    assert main([
        "get-history", "--coins", "bitcoin",
        "--start-date", "2025-01-30", "--end-date", "2025-02-02",
        "--concurrent", "--max-workers", "2",
        "--store", store,
    ]) == 0
    back = spark.read.parquet(store)
    assert {str(r.fetch_date) for r in back.collect()} == {
        "2025-01-30", "2025-01-31", "2025-02-01", "2025-02-02",
    }
    rows = {str(r.fetch_date): r.price_usd for r in back.collect()}
    assert rows["2025-01-31"] == fake_price("bitcoin", "31-01-2025")

    assert main([
        "get-history", "--coins", "bitcoin",
        "--start-date", "2025-02-02", "--end-date", "2025-01-30",
    ]) == 2
    assert "Start date must be before end date" in capsys.readouterr().err

    assert main([
        "get-history", "--coins", "bitcoin",
        "--dates", "01-01-2025",
        "--start-date", "2025-01-01", "--end-date", "2025-01-02",
    ]) == 2
    assert "exactly one of" in capsys.readouterr().err

    assert main(["get-history", "--coins", "bitcoin"]) == 2


def test_concurrent_fetch_partitions_fan_out_over_dates():
    """Concurrent mode splits each coin's dates into max_workers
    round-robin chunks that together cover every (coin, date) exactly
    once; sequential mode stays one partition per coin."""
    from crypto_data_pipeline_spark.sources.http_datasource import CoinHistoryReader

    opts = {"coins": "a,b", "dates": "d1,d2,d3,d4,d5"}
    seq = CoinHistoryReader(dict(opts)).partitions()
    assert [(p.value[0], len(p.value[1])) for p in seq] == [("a", 5), ("b", 5)]

    conc = CoinHistoryReader(
        dict(opts, concurrent="true", max_workers="2")
    ).partitions()
    assert len(conc) == 4  # 2 coins x 2 chunks
    cover = {}
    for p in conc:
        coin, dates = p.value
        for d in dates:
            assert (coin, d) not in cover
            cover[(coin, d)] = True
    assert len(cover) == 10


def test_run_sql_named_query_extraction(capsys, tmp_path):
    """--name mirrors the reference's run_analysis_query marker slicing
    (db.py:301-348): a marked file runs just that query; the
    reference's own analysis_queries.sql has NO markers, so --name
    against it fails exactly like the reference's 'Query not found'
    path instead of falling back to whole-file execution."""
    ref_sql = open("/root/reference/sql/analysis_queries.sql").read()
    # the reference's Query 1, from its first SELECT to its terminating
    # semicolon (the preamble comments contain stray ';' characters)
    body = ref_sql[ref_sql.index("SELECT"):]
    stmt1 = body[: body.index(";") + 1]
    marked = tmp_path / "marked.sql"
    marked.write_text(
        "-- some preamble comment\n"
        "-- BEGIN monthly_avg\n" + stmt1 + "\n-- END monthly_avg\n"
    )
    assert main([
        "run-sql", "--file", str(marked), "--name", "monthly_avg",
        "--sf-dir", "/root/testdata/sf0.001", "--limit", "3",
    ]) == 0
    out = capsys.readouterr().out
    assert "avg_price_usd" in out and "-- statement" not in out

    # the shipped reference file has no markers -> works-only-with-
    # markers behavior: clean failure, not whole-file fallback
    assert main([
        "run-sql", "--file", "/root/reference/sql/analysis_queries.sql",
        "--name", "monthly_avg", "--sf-dir", "/root/testdata/sf0.001",
    ]) == 2
    assert "query not found" in capsys.readouterr().err

    # BEGIN without END is the reference's other error path
    broken = tmp_path / "broken.sql"
    broken.write_text("-- BEGIN q\nSELECT 1\n")
    assert main([
        "run-sql", "--file", str(broken), "--name", "q",
        "--sf-dir", "/root/testdata/sf0.001",
    ]) == 2
    assert "end marker not found" in capsys.readouterr().err

    # marker names match whole lines: a requested name that is a
    # PREFIX of a marked name must be 'not found', never silently run
    # the longer query (round-7 review finding)
    prefixed = tmp_path / "prefixed.sql"
    prefixed.write_text(
        "-- BEGIN monthly_avg_extended\nSELECT 1 AS one;\n"
        "-- END monthly_avg_extended\n"
    )
    assert main([
        "run-sql", "--file", str(prefixed), "--name", "monthly_avg",
        "--sf-dir", "/root/testdata/sf0.001",
    ]) == 2
    assert "query not found" in capsys.readouterr().err

    # a BEGIN marker as the file's LAST line with no trailing newline:
    # find('\n') returns -1 and the old `-1 + 1 = 0` restarted the END
    # scan at the file HEAD, so a malformed file could extract a wrong
    # region instead of raising (round-8 ADVICE fix: EOF means an
    # empty block — deterministic 'end marker not found')
    eof_marker = tmp_path / "eof.sql"
    eof_marker.write_text(
        "-- BEGIN q\nSELECT 1 AS a;\n-- END q\n-- BEGIN q2"  # no trailing \n
    )
    assert main([
        "run-sql", "--file", str(eof_marker), "--name", "q2",
        "--sf-dir", "/root/testdata/sf0.001",
    ]) == 2
    assert "end marker not found" in capsys.readouterr().err

    # a marked block holding several statements is a clean error too,
    # not an unhandled traceback
    multi = tmp_path / "multi.sql"
    multi.write_text("-- BEGIN q\nSELECT 1 AS a;\nSELECT 2 AS b;\n-- END q\n")
    assert main([
        "run-sql", "--file", str(multi), "--name", "q",
        "--sf-dir", "/root/testdata/sf0.001",
    ]) == 2
    assert "2 statements" in capsys.readouterr().err


def test_ingest_corpus_command(spark, capsys, tmp_path):
    """CLI drain of a bronze doc dir into the dedup store; a second
    drain with the same checkpoint ingests nothing new."""
    bronze = str(tmp_path / "bronze")
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, " ALPHA ")],
        "doc_id long, text string",
    ).write.parquet(bronze)
    argv = [
        "ingest-corpus",
        "--bronze", bronze,
        "--store", str(tmp_path / "store"),
        "--checkpoint", str(tmp_path / "ckpt"),
    ]
    assert main(argv) == 0
    assert "2 documents" in capsys.readouterr().out
    assert main(argv) == 0  # idempotent re-run, nothing new picked up
    assert "2 documents" in capsys.readouterr().out


def test_run_pipeline_command_on_real_corpus(spark, capsys, tmp_path):
    """`run-pipeline` is the reference user's one-command switch-over:
    bronze JSON tree -> all four output tables, with the README Query 2
    values reproduced verbatim from the real corpus (row-level parity
    of the feature tables is pinned by test_real_reference_data.py)."""
    import os

    import pytest

    if not os.path.isdir("/root/reference/data/bitcoin"):
        pytest.skip("reference corpus not mounted")
    out = str(tmp_path / "pipeline_out")
    rc = main(["run-pipeline", "--bronze-root", "/root/reference/data",
                   "--out", out])
    assert rc == 0
    got = capsys.readouterr().out
    assert "ingested 739 bronze documents" in got
    for d in ("processed", "prediction", "monthly_avg", "recovery_report"):
        assert os.path.isdir(f"{out}/{d}"), d
    rep = {
        r.entity_id: (r.avg_price_increase_pct, r.market_cap_formatted)
        for r in spark.read.parquet(f"{out}/recovery_report").collect()
    }
    assert rep == {
        "ethereum": (26.97, "314.02B"),
        "cardano": (109.95, "28.79B"),
        "bitcoin": (35.30, "2.06T"),
    }
    assert spark.read.parquet(f"{out}/processed").count() == 739
    assert len(spark.read.parquet(f"{out}/prediction").columns) == 33


def test_run_pipeline_empty_tree_fails_loud(capsys, tmp_path):
    empty = str(tmp_path / "empty_bronze")
    import os

    os.makedirs(empty, exist_ok=True)
    rc = main(["run-pipeline", "--bronze-root", empty,
                   "--out", str(tmp_path / "out")])
    assert rc == 2
    assert "no bronze documents" in capsys.readouterr().err


def test_profile_prints_cold_and_steady_records(capsys, tmp_path, sf_dir):
    """`profile` prints one JSON line per query with a cold and a
    steady record; --out writes PROFILE.json and the steady plan's
    formatted explain."""
    import json

    out = tmp_path / "prof"
    argv = ["profile", "--sf-dir", sf_dir, "--out", str(out), "monthly_avg_price"]
    assert main(argv) == 0
    [line] = [ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("{")]
    rec = json.loads(line)
    assert rec["query"] == "monthly_avg_price"
    assert rec["steady"]["build_jobs"] == 0 and rec["steady"]["n_jobs"] >= 1
    assert rec["cold"]["scan_output_rows"] == rec["steady"]["scan_output_rows"] > 0
    assert json.loads((out / "PROFILE.json").read_text())["monthly_avg_price"] == {
        "cold": rec["cold"], "steady": rec["steady"],
    }
    assert "Physical Plan" in (out / "monthly_avg_price.txt").read_text()


def test_profile_unknown_name_fails_with_catalog(capsys, sf_dir):
    assert main(["profile", "--sf-dir", sf_dir, "monthly_avg_price", "nope_not_real"]) == 2
    assert "unknown query 'nope_not_real'" in capsys.readouterr().err
