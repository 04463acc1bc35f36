"""Runtime plan metrics: the executed-plan reader must report real
shuffle volume, count only executed (non-reused) Exchanges, and
return zeros for a shuffle-free plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from crypto_data_pipeline_spark.observability import plan_runtime_metrics
from crypto_data_pipeline_spark.sources.tables import load_table


def test_shuffle_bytes_reported_for_groupby(spark):
    df = (
        spark.range(100000)
        .withColumn("k", F.col("id") % 100)
        .groupBy("k")
        .count()
    )
    df.collect()
    m = plan_runtime_metrics(df)
    assert m["n_exchanges"] == 1
    assert m["shuffle_bytes_written"] > 0
    assert m["shuffle_records_written"] >= 100  # partial aggregates per task
    assert m["scan_output_rows"] == 0  # Range source, not a file scan


def test_shuffle_free_scan_reports_zero(spark, sf_dir):
    df = load_table(spark, sf_dir, "events").select("event_id", "value").where(
        F.col("value") > 0
    )
    df.collect()
    m = plan_runtime_metrics(df)
    assert m["n_exchanges"] == 0
    assert m["shuffle_bytes_written"] == 0
    assert m["scan_output_rows"] > 0  # parquet scan leaves report rows


def test_reused_exchange_counted_once(spark):
    """Self-join on an aggregated frame: AQE reuses the exchange; the
    reader must not double-count its bytes or its Exchange node."""
    agg = (
        spark.range(50000)
        .withColumn("k", F.col("id") % 50)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    joined = agg.alias("a").join(agg.alias("b"), "k")
    joined.collect()
    m = plan_runtime_metrics(joined)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert m["shuffle_records_written"] > 0
    if "ReusedExchange" in plan:
        # both join sides fed by ONE physical shuffle: the reuse node
        # must not inflate the executed-Exchange count
        assert m["n_exchanges"] == 1
    else:
        assert m["n_exchanges"] >= 1


def test_shuffle_regression_gate_trips_on_seeded_growth():
    """The round-over-round byte gate: a seeded >10% shuffle-volume
    regression is flagged; noise-floor deltas, shrinkage, and failed
    metric reads (-1 sentinels) are not."""
    from crypto_data_pipeline_spark.observability import shuffle_regressions

    prior = {
        "q_regressed": 100_000,
        "q_stable": 100_000,
        "q_improved": 100_000,
        "q_tiny_blip": 0,
        "q_was_unreadable": -1,
        "q_now_unreadable": 50_000,
        "q_new_shuffle": 0,
    }
    current = {
        "q_regressed": 120_000,      # +20% and +20000B -> flagged
        "q_stable": 104_000,         # +4% -> inside tolerance
        "q_improved": 60_000,        # shrank -> fine
        "q_tiny_blip": 500,          # below the 4KiB noise floor
        "q_was_unreadable": 200_000, # prior sentinel -> skipped
        "q_now_unreadable": -1,      # current sentinel -> skipped
        "q_new_shuffle": 500_000,    # 0 -> real shuffle: the classic regression
        "q_brand_new": 999_999,      # no prior row -> skipped
    }
    got = shuffle_regressions(current, prior)
    assert set(got) == {"q_regressed", "q_new_shuffle"}
    assert got["q_regressed"] == {
        "prior": 100_000, "current": 120_000, "growth_pct": 20.0,
    }
    assert got["q_new_shuffle"]["prior"] == 0


def test_prior_bench_artifact_loader(tmp_path):
    """The loader picks the HIGHEST round number, reads the driver
    wrapper's parsed payload, and returns None when no artifact (or no
    byte map) exists."""
    import json

    from crypto_data_pipeline_spark.observability import prior_bench_shuffle_bytes

    assert prior_bench_shuffle_bytes(str(tmp_path)) is None

    (tmp_path / "BENCH_r02.json").write_text(
        json.dumps({"parsed": {"shuffle_bytes_written": {"q": 1}}})
    )
    (tmp_path / "BENCH_r10.json").write_text(
        json.dumps({"parsed": {"shuffle_bytes_written": {"q": 42}}})
    )
    name, bytes_map = prior_bench_shuffle_bytes(str(tmp_path))
    assert name == "BENCH_r10.json" and bytes_map == {"q": 42}

    # SF guard: shuffle bytes scale with data size, so a prior artifact
    # recorded at a different SF must not be diffed against
    (tmp_path / "BENCH_r10.json").write_text(
        json.dumps({"parsed": {"shuffle_bytes_written": {"q": 42}, "sf": 0.1}})
    )
    assert prior_bench_shuffle_bytes(str(tmp_path), sf=0.1)[1] == {"q": 42}
    assert prior_bench_shuffle_bytes(str(tmp_path), sf=0.01) is None

    # bare bench JSON (no driver wrapper) also reads
    (tmp_path / "BENCH_r11.json").write_text(
        json.dumps({"shuffle_bytes_written": {"q": 7}})
    )
    assert prior_bench_shuffle_bytes(str(tmp_path))[1] == {"q": 7}

    # artifact without the metric (rounds 1-4 predate it) -> fall back
    # to the newest round that HAS it, not to "no prior"
    (tmp_path / "BENCH_r12.json").write_text(json.dumps({"parsed": {}}))
    assert prior_bench_shuffle_bytes(str(tmp_path))[1] == {"q": 7}


def test_prior_bench_truncated_tail_and_local_fallback(tmp_path):
    """Round 6 regression: the driver clips bench stdout to its last
    ~2000 chars, so a long line lands as {tail: <clipped>, parsed:
    null}. The loader must (a) recover the shuffle map from the tail
    string when it survived the clip, and (b) fall back to the
    committed BENCH_LOCAL_r{N}.json full record otherwise."""
    import json

    from crypto_data_pipeline_spark.observability import prior_bench_shuffle_bytes

    # (a) parsed=null but the map survives near the end of the tail
    tail = ('..., "queries_CLIPPED": 0.1, "shuffle_bytes_written": '
            '{"q1": 100, "q2": 200}, "shuffle_regressions": {}, '
            '"sf": 0.1, "notes": "..."}')
    (tmp_path / "BENCH_r06.json").write_text(
        json.dumps({"n": 6, "tail": tail, "parsed": None})
    )
    name, got = prior_bench_shuffle_bytes(str(tmp_path), sf=0.1)
    assert name == "BENCH_r06.json" and got == {"q1": 100, "q2": 200}
    # the sf parsed from the tail is honored by the cross-SF guard
    assert prior_bench_shuffle_bytes(str(tmp_path), sf=0.01) is None

    # (b) tail clipped PAST the map -> the committed local record wins
    (tmp_path / "BENCH_r07.json").write_text(
        json.dumps({"n": 7, "tail": '"sf": 0.1, "notes": "..."}', "parsed": None})
    )
    (tmp_path / "BENCH_LOCAL_r07.json").write_text(
        json.dumps({"shuffle_bytes_written": {"q1": 111}, "sf": 0.1})
    )
    name, got = prior_bench_shuffle_bytes(str(tmp_path), sf=0.1)
    assert name == "BENCH_LOCAL_r07.json" and got == {"q1": 111}

    # (c) the CURRENT round's own local record (no driver artifact for
    # that round yet) is NOT a prior — a re-run must still diff against
    # the last DRIVER-recorded round, or a regression could ratchet
    # itself into the baseline mid-round
    (tmp_path / "BENCH_LOCAL_r08.json").write_text(
        json.dumps({"shuffle_bytes_written": {"q1": 999999}, "sf": 0.1})
    )
    name, got = prior_bench_shuffle_bytes(str(tmp_path), sf=0.1)
    assert name == "BENCH_LOCAL_r07.json" and got == {"q1": 111}


def test_proc_tree_cpu_seconds_monotone_across_child_exit():
    """Round 13: the bench's per-query CPU metric must stay monotone
    when a descendant exits between snapshots (Python workers are
    short-lived) — the reaped child's burn must roll up via the
    parent's cutime/cstime instead of vanishing from the live sum.
    Also pins the basic contract: spinning CPU in a child moves the
    counter by at least roughly what was burned."""
    import subprocess
    import sys

    from crypto_data_pipeline_spark.observability import proc_tree_cpu_seconds

    before = proc_tree_cpu_seconds()
    assert before > 0.0
    # burn ~0.3s of CPU in a child, then REAP it (its cost must land in
    # our cutime) — the regression mode was a negative delta.
    # sys.executable, not "python" (round 14, ADVICE r13): python3-only
    # hosts have no bare `python` and the test would error instead of
    # verifying the monotonicity contract.
    subprocess.run(
        [sys.executable, "-c",
         "t=0\nwhile t < 3_000_000: t += 1"],
        check=True,
    )
    after = proc_tree_cpu_seconds()
    assert after >= before  # monotone across the child's exit
    assert after - before > 0.05  # and the child's burn is visible


def test_host_steal_seconds_nonnegative():
    """Steal is cumulative and non-negative (0.0 on bare metal or where
    /proc is absent) — the bench brackets it, so the reader only ever
    sees deltas >= 0."""
    from crypto_data_pipeline_spark.observability import host_steal_seconds

    s1 = host_steal_seconds()
    s2 = host_steal_seconds()
    assert s1 >= 0.0 and s2 >= s1


def test_profile_call_record_and_job_group(spark):
    """One profile_call record holds every field of a committed profile
    table row plus ``build_jobs``, reads the groupBy's shuffle, and
    owns its job group: a later action lands in no profiled group."""
    import json
    import os

    from crypto_data_pipeline_spark.observability import profile_call

    table = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "plans", "r14", "PROFILE_after.json")
    with open(table) as f:
        row = next(iter(json.load(f).values()))

    def grouped(spark, _sf_dir):
        return spark.range(100000).withColumn("k", F.col("id") % 100).groupBy("k").count()

    rec = profile_call(spark, grouped, None)
    assert set(row) | {"build_jobs"} <= set(rec)
    assert rec["py4j_calls"] > 0 and rec["plan_chars"] > 0
    assert rec["shuffle_bytes_written"] > 0 and rec["n_exchanges"] == 1
    assert rec["n_jobs"] >= 1 and rec["build_jobs"] == 0
    assert rec["wall"] >= rec["py_build"] >= 0.0

    spark.range(10).count()
    spark._jsparkSession.sparkContext().listenerBus().waitUntilEmpty()
    tracker = spark.sparkContext.statusTracker()
    assert len(tracker.getJobIdsForGroup(rec["job_group"])) == rec["n_jobs"]


def test_profile_call_py4j_calls_skip_object_detaches(spark):
    """JavaObjects created before the call and collected while ``fn``
    runs send one py4j detach each through the counted client; the
    count leaves them out, so it reads as if nothing was collected."""
    import gc
    import time

    from crypto_data_pipeline_spark.observability import profile_call

    client = spark.sparkContext._gateway._gateway_client
    held: list = []

    def drop(spark, _sf_dir):
        held.clear()
        gc.collect()
        deadline = time.monotonic() + 10
        while getattr(client, "finalizer_deque", None) and time.monotonic() < deadline:
            time.sleep(0.01)  # the finalizer worker sends them asynchronously
        time.sleep(0.2)
        return spark.range(10)

    base = profile_call(spark, drop, None)["py4j_calls"]
    held.extend(spark._jvm.java.util.ArrayList() for _ in range(500))
    rec = profile_call(spark, drop, None)
    assert not held
    assert rec["py4j_calls"] < base + 50, (base, rec["py4j_calls"])


def test_profile_call_counts_build_jobs(spark, sf_dir, tmp_path):
    """The first pricing_summary call on a corpus infers the lineitem
    schema in a build job; a repeat call is served the schema and
    launches none."""
    import shutil

    from crypto_data_pipeline_spark import serve_store
    from crypto_data_pipeline_spark.observability import profile_call
    from crypto_data_pipeline_spark.plans.registry import load_with_extras

    sf = str(tmp_path)
    shutil.copy(f"{sf_dir}/lineitem.parquet", sf)
    fn = load_with_extras()["pricing_summary"].fn
    try:
        assert profile_call(spark, fn, sf)["build_jobs"] >= 1
        assert profile_call(spark, fn, sf)["build_jobs"] == 0
    finally:
        serve_store.clear()
