"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload reference_reports --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The workload runs
in a fresh child process (``worker.py``) on ``local[<cores>]`` with a
2 GiB JVM heap; its Spark scratch, temp files and warehouse live in
``perfbench/out/work-<pid>``, which is removed afterwards. Every
process the run starts is stopped and reaped before the result is
printed. ``--trace 0`` prints the end-to-end metrics named in
``BENCHMARK.json``; ``--trace 1`` prints the per-layer metrics and
writes the spans to ``perfbench/out/<workload>-seed<n>-spans.json``.
The full report of every run goes to ``perfbench/out``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

from proctree import descendants

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(HERE, "out")
TIME_LIMIT_S = 170
JVM_HEAP = "2g"


def stop_all(grace_s: float = 10.0) -> None:
    """Terminate every descendant and reap it. As a child subreaper
    this process inherits the JVM and the Python workers when the
    worker exits, so none of them outlives the run."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in descendants():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace_s
        while time.monotonic() < deadline:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                time.sleep(0.05)
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="one set-up and one pass on the smallest inputs")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "crypto_data_pipeline_spark")):
        print("run from the root of a checkout: crypto_data_pipeline_spark/ is missing",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {a.workload!r}", file=sys.stderr)
        return 2

    tag = f"{a.workload}-seed{a.seed}" + ("-smoke" if a.smoke else "")
    work = os.path.join(OUT, f"work-{os.getpid()}")
    report = os.path.join(OUT, f"{tag}{'-trace' if a.trace else ''}.json")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    if os.path.exists(report):
        os.remove(report)
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=cpus,
        SPARK_GRAFT_DRIVER_MEM=JVM_HEAP,
        SPARK_GRAFT_REQUIRE_SILVER="1",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    )
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--report", report,
           "--spans", os.path.join(OUT, f"{tag}-spans.json")] + (["--smoke"] if a.smoke else [])
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    # a terminated run still stops its processes (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    rc = None
    try:
        proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
        rc = proc.wait(timeout=TIME_LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"{a.workload}: no result within {TIME_LIMIT_S} s", file=sys.stderr)
    finally:
        stop_all()
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(report):
        print(f"{a.workload}: worker failed (exit {rc})", file=sys.stderr)
        return 1

    with open(report) as fh:
        res = json.load(fh)
    values = res["layers"] if a.trace else res["e2e"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    for f in res["failures"]:
        print(f"FAILED {f['op']}: {f['error']}", file=sys.stderr)
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
