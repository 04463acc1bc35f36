"""One benchmark run of one workload, in a fresh process.

``run.py`` starts this with the environment the run needs and reads
the report it writes. The run starts a Spark session, sets the
workload up (inputs, first calls, cold builds), runs passes over the
workload's mix for about ``--seconds``, then checks every op's output
untimed and writes the report.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import threading  # noqa: E402

from crypto_data_pipeline_spark import get_spark  # noqa: E402
from crypto_data_pipeline_spark.observability import (  # noqa: E402
    host_steal_seconds,
    proc_tree_cpu_seconds,
)

from proctree import tree_rss_mb  # noqa: E402
from tracing import Tracer, self_times  # noqa: E402
from workloads import WORKLOADS, dir_bytes  # noqa: E402

class RssPeak(threading.Thread):
    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0.0
        self.stop = threading.Event()

    def run(self):
        while not self.stop.wait(0.2):
            self.peak = max(self.peak, tree_rss_mb())


def quantile(xs: list[float], q: int) -> float:
    """The q-th percentile, as ``statistics.quantiles`` gives it."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def layer_metrics(tracer: Tracer, passes: int, reads: int, measured_s: float) -> dict:
    """The per-layer table: counters and span times per pass."""
    c = tracer.counters
    span_s: dict[str, float] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            span_s[s["span"]] = span_s.get(s["span"], 0.0) + s["end"] - s["start"]
    own: dict[str, float] = {}
    for op in self_times(tracer.spans).values():
        for layer, v in op.items():
            key = {"op": "bench", "plans.build": "plans", "exec": "exec",
                   "trace.readout": "trace"}.get(layer, layer.split(".")[0])
            own[key] = own.get(key, 0.0) + v
    per_pass = {k: v / passes for k, v in c.items()}
    m = {
        "plans.build_s": span_s.get("plans.build", 0.0) / passes,
        "plans.build_jobs": per_pass.get("plans.build_jobs", 0.0),
        "plans.cache_miss_ratio": c["plans.build_misses"] / reads if reads else 0.0,
        "exec.core_util": c["exec.run_s"] / (measured_s * len(os.sched_getaffinity(0))),
        "sources.write_s": (span_s.get("sources.upsert", 0.0)
                            + span_s.get("sources.publish", 0.0)) / passes,
        "streaming.ingest_s": span_s.get("streaming.ingest", 0.0) / passes,
        "streaming.gold_s": span_s.get("streaming.gold", 0.0) / passes,
        "streaming.admit_ratio": (c["streaming.admitted"] / c["streaming.delivered"]
                                  if c["streaming.delivered"] else 0.0),
    }
    for key in ("catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
                "exec.jobs", "exec.stages", "exec.tasks", "exec.run_s", "exec.cpu_s",
                "exec.gc_s", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
                "exec.fetch_wait_s", "exec.spill_bytes", "exec.input_records",
                "operators.exchanges", "operators.scan_rows", "operators.scan_ms",
                "operators.agg_ms", "operators.sort_ms", "operators.pipeline_ms",
                "operators.python_rows", "sources.bytes_written", "sources.files_written"):
        m[key] = per_pass.get(key, 0.0)
    for key in ("bench", "plans", "exec", "sources", "streaming", "trace"):
        m[f"self.{key}_s"] = own.get(key, 0.0) / passes
    return m


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--work", required=True)
    ap.add_argument("--report", required=True)
    ap.add_argument("--spans")
    a = ap.parse_args()

    rss = RssPeak()
    if a.trace:  # the sampler's CPU stays out of the untraced figures
        rss.start()
    steal0 = host_steal_seconds()
    spark = get_spark(f"perfbench-{a.workload}", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"{a.work}/warehouse",
    })
    start_s = time.perf_counter() - T_START
    tracer = Tracer(spark, enabled=False)
    wl = WORKLOADS[a.workload](spark, tracer, a.seed, a.work, a.smoke)

    t = time.perf_counter()
    wl.setup()
    warm_s = time.perf_counter() - t
    setup_s = time.perf_counter() - T_START
    n_setup = len(wl.records)
    for rec in wl.records:
        rec.pop("result", None)  # only timed reads are checked

    tracer.enabled = bool(a.trace)
    cpu0, t0 = proc_tree_cpu_seconds(), time.perf_counter()
    passes: list[float] = []
    # whole passes until --seconds have passed: the pass count changes
    # only when a pass's length crosses --seconds divided by a whole
    # number, not with every small change of it
    while not passes or (not a.smoke and time.perf_counter() - t0 < a.seconds):
        p0 = time.perf_counter()
        wl.run_pass(len(passes))
        passes.append(time.perf_counter() - p0)
    measured_s = time.perf_counter() - t0
    cpu_s = proc_tree_cpu_seconds() - cpu0
    tracer.enabled = False
    timed = wl.records[n_setup:]
    jsc = spark._jsc
    state = {
        "storage.cached_rdds": jsc.getPersistentRDDs().size(),
        "storage.cached_mb": sum(i.memSize() + i.diskSize()
                                 for i in spark._jsparkSession.sparkContext().getRDDStorageInfo()) / 1e6,
        "sources.tmp_bytes": dir_bytes(os.environ.get("TMPDIR", f"{a.work}/tmp")),
    }

    t_checks = time.perf_counter()
    wl.check_all(timed)
    failed = [r for r in wl.records if "error" in r]
    reads = [r["wall_s"] for r in timed if r["kind"] == "read"]
    e2e = {
        "setup_s": setup_s,
        "query_p50_s": statistics.median(reads),
        "query_p90_s": quantile(reads, 90),
        "pass_s": statistics.median(passes),
        "cpu_s_per_pass": cpu_s / len(passes),
    }
    extra = {
        "query_samples": len(reads),
        "pass_walls_s": passes,
        "measured_s": measured_s,
        "failed_op_ratio": len(failed) / len(wl.records),
        "checks_s": time.perf_counter() - t_checks,
        "op_walls_s": [[r["op"], r["wall_s"]] for r in wl.records if r["kind"] != "check"],
    }
    if hasattr(wl, "refresh_walls"):
        extra.update({
            "refresh_p50_s": statistics.median(wl.refresh_walls),
            "refresh_p90_s": quantile(wl.refresh_walls, 90),
            "ingest_rows_per_s": wl.ingest_rows / wl.ingest_wall,
        })
    layers = {
        "session.start_s": start_s,
        "session.warm_s": warm_s,
        **state,
        "host.steal_s": host_steal_seconds() - steal0,
        "host.loadavg": os.getloadavg()[0],
    }
    if a.trace:
        layers["host.peak_rss_mb"] = max(rss.peak, tree_rss_mb())
        layers.update(layer_metrics(tracer, len(passes),
                                    sum(r["kind"] == "read" for r in timed), measured_s))
        per_op = self_times(tracer.spans)
        tracer.dump(a.spans, {"self_times": {str(k): v for k, v in per_op.items()},
                              "layers": layers})
    rss.stop.set()
    spark.stop()
    with open(a.report, "w") as fh:
        json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "attempted": len(wl.records), "failed": len(failed),
                   "failures": [{"op": r["op"], "error": r["error"]} for r in failed],
                   "e2e": e2e, "extra": extra, "layers": layers}, fh, indent=1)


if __name__ == "__main__":
    main()
