"""Headline benchmark: runs the bench-flagged catalog queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": "...", "value": <total-sec>, "unit": "sec",
   "queries": {"q": sec, ...}, "sf": 0.1}

Each query is forced through full evaluation with the noop sink (no
driver-side collect — results never bottleneck on the driver, matching
how the plans would run on a cluster).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from crypto_data_pipeline_spark import get_spark
from crypto_data_pipeline_spark.plans.registry import load_with_extras


def main() -> None:
    # Host-load self-identification (round 11, VERDICT r10 what's-wrong
    # #1): a co-tenant can slow every row 5-10x with byte-identical
    # shuffles, so the artifact records 1/5/15-min loadavg before and
    # after the timed section — a noisy run names itself without
    # needing a narrative in the round notes.
    load_before = [round(x, 2) for x in os.getloadavg()]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    # The bench must time the zero-Exchange bucketed silver path, not
    # the silent fallback (which re-pays an Exchange per query). Fail
    # loud rather than record a number for the wrong plan.
    os.environ["SPARK_GRAFT_REQUIRE_SILVER"] = "1"

    spark = get_spark("bench")
    # extras included: bench-flagged showcase queries keep their
    # BENCH_r01-comparable timings even when demoted from the driver gate
    specs = [s for s in load_with_extras().values() if s.bench]

    from crypto_data_pipeline_spark.plans.core_queries import history_is_bucketed

    # Every failure mode of the gate (strict-mode raise inside the
    # materialization, or a non-zero-Exchange plan) must exit through
    # the same one-JSON-line contract the consumer parses.
    try:
        bucketed = history_is_bucketed(spark, sf_dir)
        gate_err = None if bucketed else "silver history is not bucketed"
    except Exception as exc:
        gate_err = f"silver materialization failed: {type(exc).__name__}: {exc}"
    if gate_err is not None:
        print(
            json.dumps({"metric": "error", "value": -1.0, "unit": "sec",
                        "error": gate_err}),
        )
        sys.exit(2)

    # Warm-up, untimed: run every query once at the tiny SF so Janino
    # compiles each plan's whole-stage codegen (keyed on generated
    # source, identical across SFs — profiled at 2-3s per complex plan,
    # ~0.1s to execute at sf0.001), then touch the target-SF path once
    # for parquet footers + the silver history materialization. Timed
    # runs then measure steady-state engine throughput — the regime a
    # long-lived cluster session actually operates in.
    warm_sf = "/root/testdata/sf0.001"
    for spec in specs:
        spec.fn(spark, warm_sf).write.format("noop").mode("overwrite").save()

    # Cold rows: the amortized paths' BUILD cost, measured instead of
    # hand-waved. These queries cache expensive per-sf_dir state (ANN
    # index build, the curation pipeline's persisted stages); their
    # first target-SF execution — codegen already warmed above, caches
    # for THIS sf_dir still empty — is the cold build+probe cost a
    # fresh session pays once. Reported separately from the
    # steady-state rows so both sides of the build/serve split are
    # artifacts, not docstring comments.
    AMORTIZED = {
        "embedding_ann_ivf", "embedding_ann_lsh", "corpus_curation_pipeline",
        "nb_lang_classifier",  # round 7: fit cached per (session, corpus)
        # the one LM fit per (session, corpus) serves all four LM
        # queries; lm_perplexity_buckets registers first, so its cold
        # row pays the shared fit
        "lm_perplexity_buckets",
        # serves the KN triple of that fit: its cold row is serve-only
        "lm_perplexity_buckets_kn",
        # projects the add-one pair from the shared fit, so its cold
        # row is the residual per-doc battery build
        "source_curation_report",
        # round 9: gate-seated DSIR; its hashed-feature frame persists
        # per (session, corpus), so the cold row is fit+score and the
        # steady rows are score-only
        "dsir_importance_resample",
        # round 11: gate-seated RHO selection; scores both LM families
        # from the shared fit and persists its scored frame per
        # (session, corpus) — the cold row is the residual score+cutoff
        # build, steady rows are serve-only
        "rho_excess_perplexity_select",
        # round 13: the PQ codes column (the index, 8 bytes/vector at
        # rest) now builds once per (session, corpus) like the IVF/LSH
        # indexes — the cold row is the encode+write, steady rows are
        # the ADC compressed scan + rank (the serving path)
        "embedding_pq_topk",
    }
    # Per-query process-tree CPU seconds beside the walls (round 13,
    # VERDICT r12 next #4): walls on this box swing >1.7x on
    # byte-identical plans under co-tenancy; CPU consumed by THIS
    # process tree (driver + JVM + Python workers, from /proc) doesn't.
    # Additive fields in the full record only — cold/steady walls and
    # the printed compact line are unchanged.
    from crypto_data_pipeline_spark.observability import (
        host_steal_seconds,
        proc_tree_cpu_seconds,
    )

    # Hypervisor steal bracketing (round 13): this box is a VM whose
    # host sometimes withholds CPU — walls swung 7.7→18.2s across
    # back-to-back runs at guest loadavg ~0.2, and only steal saw it.
    # Recorded like loadavg: the artifact self-identifies, the shuffle
    # -byte gate decides.
    steal_before = host_steal_seconds()

    cold: dict[str, float] = {}
    cold_cpu: dict[str, float] = {}
    for spec in specs:
        if spec.name in AMORTIZED:
            c0 = proc_tree_cpu_seconds()
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            cold[spec.name] = round(time.perf_counter() - t0, 3)
            cold_cpu[spec.name] = round(max(0.0, proc_tree_cpu_seconds() - c0), 3)
    # Target-SF warm pass: parquet footers, the silver materialization,
    # and the ANN index builds (cached per sf_dir). Timed runs then
    # measure steady-state / probe-phase throughput — the FAISS
    # build-vs-search split: embedding_ann_{ivf,lsh} rows below are
    # PROBE-ONLY latencies against the prebuilt in-session index.
    for spec in specs:
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Median of 3 timed runs per query: single-shot timings on a busy
    # 32-thread local JVM swing ±50% from GC/scheduling noise (observed
    # on the minhash pipeline); the median is the standard steady-state
    # estimator and stays honest (unlike min, it can't ride a lucky
    # cache line-up).
    timings: dict[str, float] = {}
    cpu_seconds: dict[str, float] = {}
    shuffle_bytes: dict[str, int] = {}
    from crypto_data_pipeline_spark.observability import profile_call

    for spec in specs:
        runs = []
        c0 = proc_tree_cpu_seconds()
        for _ in range(3):
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        # mean CPU per run over the same 3 executions the median wall
        # summarizes — CPU has no scheduling-noise tail, so the mean is
        # the stable estimator here. Floored at 0: /proc snapshots can
        # race a worker's reap (its ticks move to the parent's cutime
        # between two reads), which once produced a small negative.
        cpu_seconds[spec.name] = round(
            max(0.0, proc_tree_cpu_seconds() - c0) / 3, 3
        )
        timings[spec.name] = round(sorted(runs)[1], 3)
        # Untimed 4th pass for runtime truth alongside wall-clock:
        # shuffle volume is deterministic where seconds are not
        # (docs/BENCH_VARIANCE.md), so a plan regression shows here
        # even through host noise.
        try:
            shuffle_bytes[spec.name] = profile_call(spark, spec.fn, sf_dir)[
                "shuffle_bytes_written"
            ]
        except Exception:
            shuffle_bytes[spec.name] = -1  # never fail the bench for a metric read

    # Timed section over — snapshot load again (the recall/metadata
    # passes below are untimed, so they sit outside the bracket).
    load_after = [round(x, 2) for x in os.getloadavg()]
    # floored at 0 like the cpu deltas (round 14, ADVICE r13): if the
    # second /proc/stat read fails host_steal_seconds returns 0.0 and
    # the raw difference would record a nonsense negative steal
    steal_during = round(max(0.0, host_steal_seconds() - steal_before), 1)

    # ANN quality next to ANN speed: recall@k of each benched ANN query
    # vs its exact brute-force twin on the SAME fixed queries/index —
    # deterministic, so a probe-speed win can never silently buy a
    # recall loss. The per-query result sets are ~50 rows (10 queries ×
    # top-5), so the collect is driver-trivial.
    recall_at_k: dict[str, float] = {}
    by_name = {s.name: s for s in specs}
    try:
        truth: dict[int, set[int]] = {}
        for r in (
            by_name["embedding_topk_bruteforce"].fn(spark, sf_dir)
            .select("query_id", "vec_id").collect()
        ):
            truth.setdefault(r.query_id, set()).add(r.vec_id)
        total = sum(len(v) for v in truth.values())
    except Exception:
        truth, total = {}, 0
    for name in ("embedding_ann_ivf", "embedding_ann_lsh", "embedding_ann_lsh_multiprobe"):
        # a failed measurement records the same -1 sentinel the
        # shuffle-byte reader uses — an artifact row that SAYS the
        # measurement failed, never a silently missing one
        try:
            if not total:
                raise ValueError("no brute-force truth rows")
            got: dict[int, set[int]] = {}
            for r in by_name[name].fn(spark, sf_dir).select("query_id", "vec_id").collect():
                got.setdefault(r.query_id, set()).add(r.vec_id)
            hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
            recall_at_k[name] = round(hits / total, 4)
        except Exception:
            recall_at_k[name] = -1.0

    # Round-over-round shuffle-byte regression gate: bytes are the
    # deterministic plan signal (docs/BENCH_VARIANCE.md) — diff against
    # the newest driver-recorded BENCH_r*.json and flag >10% growth.
    from crypto_data_pipeline_spark.observability import (
        prior_bench_shuffle_bytes,
        shuffle_regressions,
    )

    prior = prior_bench_shuffle_bytes(os.path.dirname(os.path.abspath(__file__)), sf=sf)
    regressions = shuffle_regressions(shuffle_bytes, prior[1]) if prior else {}

    # Round-12 additions (VERDICT r11 next #5 and #7):
    # wall_vs_rebase — the comparable wall against the RE-BASED r11
    # figure (BASELINE.md "re-based comparable wall"): the r9-r11
    # series 4.517→5.027→5.443/4.908 moved on byte-identical shuffles,
    # i.e. environment, so the narrative stops here — one ratio,
    # byte gate stays the only hard regression authority.
    REBASED_WALL_SF01 = 4.908  # driver run, BENCH_r11, loadavg 12.3→4.8
    # cold_build_deltas — cold builds are one-time but shipped costs:
    # flag any cold row that moved >25% against the prior round's
    # artifact, the way shuffle bytes are gated (the r11 IVF guard +
    # at-rest write added +46% cold silently; this field ends that).
    from crypto_data_pipeline_spark.observability import prior_bench_map

    prior_cold = prior_bench_map(
        os.path.dirname(os.path.abspath(__file__)), "cold_build_seconds", sf=sf
    )
    cold_build_deltas: dict[str, dict[str, float]] = {}
    if prior_cold:
        for name, cur in cold.items():
            old = prior_cold[1].get(name)
            if old is None or old <= 0 or cur <= 0:
                continue
            pct = 100.0 * (cur - old) / old
            if abs(pct) > 25.0:
                cold_build_deltas[name] = {
                    "prior": round(old, 3), "current": round(cur, 3),
                    "growth_pct": round(pct, 1),
                }

    # the 3 rows added after BENCH_r01 was recorded — kept out of the
    # baseline-comparable subtotal so round-over-round and vs-baseline
    # comparisons need no manual exclusion arithmetic
    post_baseline = AMORTIZED | {
        "nb_lang_classifier", "embedding_pq_topk",
        "heavy_hitter_tokens", "distinct_users_hll_portable",
        "lm_perplexity_buckets",  # round 7
        "embedding_ann_lsh_multiprobe",  # round 9
    }
    comparable = round(
        sum(t for q, t in timings.items() if q not in post_baseline), 3
    )
    # the rebase ratio is sf0.1-specific (the re-based wall was
    # recorded there); other SFs report null rather than a cross-SF lie
    wall_vs_rebase = round(comparable / REBASED_WALL_SF01, 3) if sf == 0.1 else None

    # Full record → a committed repo file; COMPACT line → stdout. The
    # driver keeps only the last ~2000 chars of stdout, and the full
    # record's one line outgrew that in round 6 (BENCH_r06.json lost
    # `value`, `baseline_comparable_seconds`, and three query rows). The
    # printed line now carries just the headline + per-query seconds +
    # the deterministic regression gate; shuffle bytes, cold builds, and
    # prose notes live in BENCH_LOCAL_r{N}.json (N = newest driver
    # BENCH_r*.json round + 1), which git preserves in full. A run never
    # overwrites a committed record: when BENCH_LOCAL_r{N}.json exists,
    # the record goes to BENCH_LOCAL_r{N}.<epoch>.json instead.
    repo_root = os.path.dirname(os.path.abspath(__file__))
    newest = 0
    for fn in os.listdir(repo_root):
        m2 = re.fullmatch(r"BENCH_r(\d+)\.json", fn)
        if m2:
            newest = max(newest, int(m2.group(1)))
    local_name = f"BENCH_LOCAL_r{newest + 1:02d}.json"
    if os.path.exists(os.path.join(repo_root, local_name)):
        local_name = f"BENCH_LOCAL_r{newest + 1:02d}.{int(time.time())}.json"
    full_record = {
        # The headline metric is the FIXED baseline-comparable subset:
        # its membership never changes round over round, so its total
        # is directly comparable to BENCH_r01 and to every later round
        # without row-count arithmetic (rounds 8-9 both had to explain
        # that a grown full-suite total was new coverage, not a
        # regression). The full suite rides along as a secondary total
        # whose meaning (all bench rows, count varies) is stated here.
        "metric": "baseline_comparable_seconds",
        "value": comparable,
        "full_suite_seconds": round(sum(timings.values()), 3),
        "n_bench_queries": len(timings),
        "unit": "sec",
        # every per-query second below is a median of 3 timed runs —
        # stated IN the artifact so round-over-round comparisons know
        # they are comparing medians, not single samples (rounds 5-7
        # each spent effort re-explaining wall-clock drift the shuffle
        # -byte gate had already exonerated)
        "timing": "median_of_3",
        # 1/5/15-min host loadavg bracketing the timed section: on a
        # 32-CPU box, load_before[0] far above ~32 while our own JVM is
        # the only tenant marks a co-tenant-noise run (the r10 incident
        # class) — the artifact self-identifies, the byte gate decides.
        "loadavg_before": load_before,
        "loadavg_after": load_after,
        # hypervisor steal seconds accumulated across the whole bench
        # (warm + cold + timed): >0 means the host withheld CPU from
        # this VM during the run — the wall-noise source guest loadavg
        # cannot see (round 13)
        "steal_seconds_during": steal_during,
        "baseline_comparable_seconds": comparable,
        # vs the re-based r11 comparable wall (BASELINE.md); None off
        # sf0.1. Informational — bytes are the hard gate.
        "wall_vs_rebase": wall_vs_rebase,
        "queries": timings,
        # process-tree CPU (driver + JVM + workers, /proc, round 13):
        # the co-tenancy-immune cost signal next to each wall — steady
        # rows are mean-of-3, cold rows bracket the single build run
        "cpu_seconds": cpu_seconds,
        "cold_build_seconds": cold,
        "cold_build_cpu_seconds": cold_cpu,
        # cold rows that moved >25% vs the prior round's artifact —
        # one-time costs, but shipped ones (round 12)
        "cold_build_deltas": cold_build_deltas,
        "recall_at_k": recall_at_k,
        "shuffle_bytes_written": shuffle_bytes,
        "shuffle_regressions_vs": prior[0] if prior else None,
        "shuffle_regressions": regressions,
        "sf": sf,
        "notes": "rows added after the BENCH_r01 baseline suite: "
                 "embedding_ann_{ivf,lsh} (probe-only, index prebuilt "
                 "in the untimed warm pass), "
                 "nb_lang_classifier (round 6; round 7 moved its model "
                 "fit behind the same per-(session,corpus) cache the "
                 "ANN indexes use, so its row is serve-only and its "
                 "fit is a cold_build_seconds row), embedding_pq_topk, "
                 "heavy_hitter_tokens "
                 "and distinct_users_hll_portable (round 6) and "
                 "corpus_curation_pipeline (round 5; its three "
                 "persisted stages likewise build once in the warm "
                 "pass and are reused, so timed runs measure the "
                 "steady-state decision-record assembly) — exclude "
                 "these for baseline-comparable totals. "
                 "cold_build_seconds: each amortized query's FIRST "
                 "target-SF run (codegen pre-warmed at sf0.001, "
                 "per-sf_dir caches empty) = the one-time index/stage "
                 "build cost the steady-state rows amortize. "
                 "shuffle_regressions: queries whose shuffle bytes "
                 "grew >10% (+4KiB floor) vs the prior round's "
                 "artifact — deterministic, immune to host noise. "
                 "recall_at_k: each benched ANN query's recall@5 vs "
                 "the exact brute-force twin on the same 10 fixed "
                 "queries (round 9) — quality recorded beside speed. "
                 "embedding_ann_lsh_multiprobe (round 9): the Lv-2007 "
                 "multi-probe row over the SAME index as "
                 "embedding_ann_lsh — also post-baseline. "
                 "rho_excess_perplexity_select (round 11): gate-seated "
                 "RHO-loss selection; serve-only steady row (LM caches "
                 "shared with the lm rows, scored frame persisted), "
                 "cold row = residual score+cutoff — post-baseline. "
                 "embedding_ann_ivf (round 12): now serves the "
                 "GUARD-RECOMMENDED geometry (~sqrt(N) cells, nprobe "
                 "chosen under the guard threshold, sidecar verdict "
                 "ok) — its recall_at_k is the honest pruned-frontier "
                 "point, NOT comparable to the r11 0.66 which scanned "
                 "29% of the corpus on the 16-cell demo geometry (that "
                 "geometry lives on as embedding_ann_ivf_fixed, the "
                 "hash-checked twin). Retroactive r11 attribution: the "
                 "IVF cold build rose 4.77→6.96s (+46%) when the "
                 "config-check sample pass + at-rest partitioned write "
                 "landed — a bounded one-time cost this record's "
                 "cold_build_deltas field now gates at ±25%.",
    }
    with open(os.path.join(repo_root, local_name), "w") as f:
        json.dump(full_record, f, indent=2)
        f.write("\n")

    compact = {
        k: full_record[k]
        for k in (
            "metric", "value", "unit", "timing", "wall_vs_rebase",
            "loadavg_before", "loadavg_after", "steal_seconds_during",
            "full_suite_seconds", "n_bench_queries",
            "sf", "queries", "cold_build_seconds", "cold_build_deltas",
            "recall_at_k",
            "shuffle_regressions_vs", "shuffle_regressions",
        )
    }
    compact["full_record"] = local_name
    # Overflow fallbacks, re-ordered (round 14, VERDICT r13 what's-wrong
    # #1): the old order dropped `queries` SECOND, and in rounds 12-13
    # the line overflowed far enough that the driver's PERF comparison
    # lost every per-query timing (`per_query: {}`, `n_common: 0`) and
    # its core-scaling table went empty. `queries` is the one field the
    # driver's round-over-round and scaling judgments are built from, so
    # it is now the LAST field ever touched: narrative/secondary fields
    # are evicted first (they all live on in the committed full record),
    # then seconds are rounded to 2dp, and only a still-too-long line
    # loses the map.
    line = json.dumps(compact)
    for evict in (
        "cold_build_deltas", "recall_at_k", "loadavg_before",
        "loadavg_after", "steal_seconds_during", "cold_build_seconds",
        "shuffle_regressions_vs",
    ):
        if len(line) <= 1900:
            break
        compact.pop(evict, None)
        line = json.dumps(compact)
    if len(line) > 1900:
        compact["queries"] = {q: round(t, 2) for q, t in compact["queries"].items()}
        line = json.dumps(compact)
    if len(line) > 1900:  # last resort — never reached at 24-40 rows
        compact["queries"] = {"see": local_name}
        line = json.dumps(compact)
    print(line)


if __name__ == "__main__":
    main()
