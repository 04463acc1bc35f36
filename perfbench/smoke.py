"""Smoke check of the benchmark; run from the root of the repository:

    python3 perfbench/smoke.py

Runs every workload once untraced and once traced in smoke mode (one
pass on the smallest inputs) and checks that:

* the result line has exactly the keys ``correct``, ``attempted``,
  ``failed`` and ``metrics``, every op was correct, and every metric
  of ``BENCHMARK.json`` is printed with its unit;
* in the trace, each op's layer spans (the readout among them) lie
  inside the op, do not overlap, and leave uncovered only the
  benchmark's own glue, so the per-layer self times account for the
  op's wall;
* a run changes nothing outside ``perfbench/out`` (``git status`` is
  unchanged, no ``spark-warehouse`` or Derby files appear) and leaves
  no work directory behind;
* in a directory that holds only ``BENCHMARK.json`` and ``perfbench``
  the benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")


def run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=600)


def git_status() -> str | None:
    try:
        return subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                              capture_output=True, text=True, check=True).stdout
    except (OSError, subprocess.CalledProcessError):
        return None  # not a git checkout


def check_result(p: subprocess.CompletedProcess, wanted: list[dict]) -> None:
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
    assert list(res["metrics"]) == [m["name"] for m in wanted], res["metrics"]
    for m in wanted:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float)), (m, got)


def check_trace(path: str) -> None:
    """From the raw spans: each op's layer spans lie inside it, do not
    overlap, and cover its wall but for a small glue; a traced op always
    has its readout span, the tracing overhead."""
    with open(path) as fh:
        trace = json.load(fh)
    roots = {s["op_id"]: s for s in trace["spans"] if s["parent"] is None}
    assert roots, "no spans"
    children: dict[int, list[dict]] = {}
    for s in trace["spans"]:
        if s["parent"] is not None:
            children.setdefault(s["op_id"], []).append(s)
    for op_id, root in roots.items():
        kids = sorted(children.get(op_id, []), key=lambda s: s["start"])
        assert any(k["span"] == "trace.readout" for k in kids), (op_id, kids)
        assert root["start"] <= kids[0]["start"] and kids[-1]["end"] <= root["end"], (root, kids)
        for a, b in zip(kids, kids[1:]):
            assert a["end"] <= b["start"], ("overlapping spans", a, b)
        wall = root["end"] - root["start"]
        covered = sum(k["end"] - k["start"] for k in kids)
        assert wall - covered < max(0.01, 0.02 * wall), (op_id, wall, covered)


def check_empty_dir(workload: str) -> None:
    bare = os.path.join(OUT, f"bare-{os.getpid()}")
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("out", "__pycache__"))
        p = run("--workload", workload, "--seed", "1", "--seconds", "1", "--trace", "0", cwd=bare)
        assert p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout)
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    before = git_status()
    strays = ("spark-warehouse", "metastore_db", "derby.log")
    present = {s for s in strays if os.path.exists(os.path.join(ROOT, s))}
    for w in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            p = run("--workload", w, "--seed", "1", "--seconds", "1",
                    "--trace", str(trace), "--smoke")
            check_result(p, spec["per_layer"] if trace else spec["end_to_end"])
            if trace:
                check_trace(os.path.join(OUT, f"{w}-seed1-smoke-spans.json"))
            print(f"{w} trace={trace}: ok", flush=True)
        check_empty_dir(w)
        print(f"{w} without the program: exits non-zero", flush=True)
    assert not [d for d in os.listdir(OUT) if d.startswith(("work-", "bare-"))]
    assert git_status() == before, "a run changed the tree outside perfbench/out"
    assert {s for s in strays if os.path.exists(os.path.join(ROOT, s))} == present
    print("smoke: ok")


if __name__ == "__main__":
    main()
