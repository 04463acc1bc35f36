"""Runtime plan observability: read the ACTUAL shuffle/spill/row
metrics off an executed plan, not just its static shape.

`tools/plan_audit.py` counts Exchanges statically; this module closes
the loop the way a 100 TB deployment does — after a query runs, pull
the SQLMetrics Spark already collected (shuffle bytes/records
written, spill, scan output rows) straight from the executed-plan
tree. `profile_call` wraps one query call into one record of these
metrics plus its jobs, wall and CPU; bench.py and the CLI `profile`
subcommand read it, so a regression that doubles shuffle volume is
visible in the bench artifact even when wall-clock noise (see
docs/BENCH_VARIANCE.md) hides it: bytes are deterministic where
seconds are not.

Implementation notes: with AQE the root is AdaptiveSparkPlanExec and
already-executed stages hide behind QueryStageExec wrappers — both are
unwrapped (`.executedPlan()` / `.plan()`); ReusedExchange metrics are
NOT double-counted (the reuse node carries its own zeroed metrics
map). Everything is py4j reads of state the JVM tracks anyway — zero
execution overhead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

def proc_tree_cpu_seconds() -> float:
    """Total CPU seconds of this process and every descendant (the JVM
    + Python workers), from /proc — the co-tenancy-immune per-query
    cost signal wall-clocks lack (round 13, VERDICT r12 next #4: walls
    on a shared box swing >1.7x on byte-identical plans; CPU time
    doesn't). Counts utime+stime of every LIVE tree member PLUS each
    member's cutime+cstime (CPU of its already-reaped children) so the
    measure stays monotone when short-lived Python workers exit between
    snapshots — without the c-fields a worker's whole cost vanishes at
    reap time and deltas can go negative. Linux-only by design (the
    bench host); callers degrade to 0.0 where /proc is absent."""
    import glob
    import os

    me = os.getpid()
    procs: dict[int, tuple[int, int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            parts = open(stat).read().rsplit(") ", 1)
            pid = int(parts[0].split(" ", 1)[0])
            f = parts[1].split()
            # post-comm fields: 1=ppid, 11=utime, 12=stime,
            # 13=cutime, 14=cstime (reaped-children totals)
            ppid = int(f[1])
            ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
            procs[pid] = (ppid, ticks)
        except (OSError, ValueError, IndexError):
            continue
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total, stack = 0, [me]
    while stack:
        pid = stack.pop()
        if pid in procs:
            total += procs[pid][1]
            stack.extend(kids.get(pid, []))
    try:
        return total / os.sysconf("SC_CLK_TCK")
    except (ValueError, OSError):
        return 0.0


def host_steal_seconds() -> float:
    """Cumulative hypervisor steal time from /proc/stat (field 8 of the
    aggregate cpu line) — CPU the HOST withheld from this VM. Round 13:
    walls on this box swung 7.7→18.2s across back-to-back bench runs
    with guest loadavg ~0.2, and steal is the only signal that sees it
    (loadavg is guest-local). Bracketing the timed section with this
    lets the bench artifact self-identify a steal-noisy run the same
    way loadavg identifies a co-tenant one. 0.0 where /proc is absent
    or the field is missing (bare metal reports 0 steal)."""
    import os

    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return 0.0


def source_fingerprint(paths) -> dict | None:
    """Identity of the files under ``paths`` — each a table path, a
    file or a directory, local or a ``file:`` URI: (path, size,
    mtime_ns) of every file folded into one sha256, plus counts. The
    serve store records it at build time and re-checks it on every
    hit, so a replaced or appended source file reads as a changed
    corpus. Cost: one ``os.walk`` and one ``os.stat`` per file — no
    Spark job, no DataFrame. A path on another filesystem (``hdfs:``, ``s3a:``) cannot be stat'ed here:
    the result is None with a logged warning, and callers skip the
    check."""
    import hashlib
    import logging
    import os
    from urllib.parse import unquote, urlparse

    h = hashlib.sha256()
    n_files = total = 0
    for path in paths:
        url = urlparse(path)
        if url.scheme == "file":
            path = unquote(url.path)
        elif url.scheme:
            logging.getLogger(__name__).warning(
                "source fingerprint off: %s is not on the local filesystem, "
                "so changes to it go unseen", path,
            )
            return None
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
        )
        for f in files:
            try:
                st = os.stat(f)
            except FileNotFoundError:
                continue  # removed mid-walk by a rewrite: a changed state
            h.update(f"{f}|{st.st_size}|{st.st_mtime_ns}".encode())
            n_files += 1
            total += st.st_size
    return {"n_files": n_files, "total_bytes": total, "sha256": h.hexdigest()}


# executed-plan metric keys -> report keys (summed over the tree)
_SUMMED = {
    "shuffleBytesWritten": "shuffle_bytes_written",
    "shuffleRecordsWritten": "shuffle_records_written",
    "spillSize": "spill_bytes",
}


def plan_runtime_metrics(df: DataFrame, include_cached: bool = False) -> dict[str, int]:
    """Aggregate runtime metrics of ``df``'s LAST execution. Call
    AFTER an action (collect/count/write) — metrics of an unexecuted
    plan are all zero. Returns total shuffle bytes/records written,
    spill bytes, the number of Exchange nodes that actually ran, and
    rows produced by the scan leaves (`scan_output_rows`).

    ``include_cached`` descends through InMemoryTableScan into the
    cached relation's OWN plan — for a PERSISTED frame, the build-side
    shuffles execute inside that plan at materialization and are
    otherwise invisible here (round 11: the curation stage probe needs
    them). Leave False when several readers share one cache, or each
    reader re-counts the same materialization (the ReusedExchange
    double-count class)."""
    totals = {v: 0 for v in _SUMMED.values()}
    totals["n_exchanges"] = 0
    totals["scan_output_rows"] = 0

    def node_metrics(node) -> dict[str, int]:
        vals: dict[str, int] = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            vals[kv._1()] = kv._2().value()
        return vals

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec" or cls.endswith("QueryStageExec"):
            walk(node.executedPlan() if cls == "AdaptiveSparkPlanExec" else node.plan())
            return
        name = node.nodeName()
        if name.startswith("ReusedExchange"):
            # the reuse delegates to the ORIGINAL exchange's metrics —
            # descending would double-count a shuffle that ran once
            return
        if include_cached and cls == "InMemoryTableScanExec":
            walk(node.relation().cachedPlan())
            return
        vals = node_metrics(node)
        if name.startswith("Exchange"):
            totals["n_exchanges"] += 1
        if name.startswith("Scan") or cls.endswith("ScanExec"):
            totals["scan_output_rows"] += int(vals.get("numOutputRows", 0))
        for jvm_key, out_key in _SUMMED.items():
            if jvm_key in vals:
                totals[out_key] += int(vals[jvm_key])
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    plan = df._jdf.queryExecution().executedPlan()
    walk(plan)
    return totals


# py4j's memory-detach command prefix (protocol MEMORY_COMMAND_NAME +
# MEMORY_DEL_SUBCOMMAND_NAME)
_PY4J_DETACH = "m\nd\n"


def profile_call(spark, fn, sf_dir: str) -> dict:
    """Run one query call ``fn(spark, sf_dir)`` and return its record,
    the batch analogue of Structured Streaming's per-trigger progress
    report:

    * ``wall``: seconds to build the DataFrame and execute its plan;
      ``py_build`` is the build part, which includes any job the query
      launches while building (a cold cache build, a driver collect);
    * ``cpu_s``: process-tree CPU seconds over the call;
    * ``n_jobs``: Spark jobs the call launched; ``build_jobs``: those
      launched while ``fn`` ran;
    * ``py4j_calls``: py4j round trips while ``fn`` ran (the Python
      side of plan construction), counted on the gateway client's
      ``send_command``, without the memory-detach commands that
      `JavaObject` finalizers send through it whenever Python happens
      to collect one, so the count repeats for identical code;
    * ``plan_chars``: the length of the executed plan's formatted
      explain, which Spark renders again at every AQE stage;
    * the executed plan's `plan_runtime_metrics`;
    * ``job_group``: the job group of the call, used by no other call.

    The plan runs once, through the DataFrame's own QueryExecution:
    ``toRdd().count()`` ships no rows to the driver, where a writer
    action would plan a second execution whose metrics stay zero. The
    status tracker learns of jobs through the listener bus, so jobs
    are counted after the bus drains. The caller's job group is
    restored on return."""
    import time

    sc = spark.sparkContext
    bus = spark._jsparkSession.sparkContext().listenerBus()
    group = f"profile-{time.monotonic_ns()}"
    saved = {
        k: sc.getLocalProperty(k)
        for k in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    }
    sc.setJobGroup(group, f"profile {getattr(fn, '__name__', 'call')} on {sf_dir}")
    client = sc._gateway._gateway_client
    send, calls = client.send_command, [0]

    def counted(command, *args, **kwargs):
        if not command.startswith(_PY4J_DETACH):
            calls[0] += 1
        return send(command, *args, **kwargs)

    try:
        cpu0 = proc_tree_cpu_seconds()
        t0 = time.perf_counter()
        client.send_command = counted
        try:
            df = fn(spark, sf_dir)
        finally:
            del client.send_command
        py_build = time.perf_counter() - t0
        bus.waitUntilEmpty()
        build_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        t1 = time.perf_counter()
        df._jdf.queryExecution().toRdd().count()
        wall = py_build + time.perf_counter() - t1
        cpu = max(0.0, proc_tree_cpu_seconds() - cpu0)
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    bus.waitUntilEmpty()
    formatted = sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return {
        "wall": round(wall, 3),
        "py_build": round(py_build, 3),
        "cpu_s": round(cpu, 2),
        "n_jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
        "build_jobs": build_jobs,
        "py4j_calls": calls[0],
        "plan_chars": len(df._jdf.queryExecution().explainString(formatted)),
        **plan_runtime_metrics(df),
        "job_group": group,
    }


def global_window_nodes(df: DataFrame) -> list[str]:
    """Window nodes with an EMPTY partition spec in ``df``'s physical
    plan — the single-partition anti-pattern that funnels every row of
    the frame through one task (Spark's own "No Partition Defined for
    Window operation" warning). Returns one entry per offending node,
    ``"WindowExec(<first window expression>)"``, so the plan doctor
    can both fail loud and say WHICH window. Walks the tree the same
    way plan_runtime_metrics does (through the AQE wrapper and query
    stages); string-matching the plan text would be fragile — a
    partitioned window and a global one print near-identically."""
    hits: list[str] = []

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec" or cls.endswith("QueryStageExec"):
            walk(node.executedPlan() if cls == "AdaptiveSparkPlanExec" else node.plan())
            return
        if cls in ("WindowExec", "WindowInPandasExec", "WindowGroupLimitExec"):
            if node.partitionSpec().isEmpty():
                try:
                    first = node.expressions().head().toString()
                except Exception:
                    first = "?"
                hits.append(f"{cls}({first[:80]})")
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(df._jdf.queryExecution().executedPlan())
    return hits


def driver_collect_sites(package_dir: str) -> list[tuple[str, int, str, str]]:
    """Every ``.collect()`` / ``.toPandas()`` call site under
    ``package_dir``, attributed to its enclosing function — the static
    half of the driver-traffic screen (round 11; VERDICT r10
    what's-missing #2). A zero-partition window funnels rows through
    one TASK; an unbounded collect funnels them through the DRIVER —
    the other way a query silently stops being distributed. The plan
    doctor asserts each site's enclosing function is on its
    DECLARED_DRIVER_SCALARS list with a one-line bound justification,
    so a future operator that collects corpus-proportional rows fails
    the suite on the day it lands, the same way an undeclared global
    window does.

    Returns ``(relpath, lineno, "relpath:qualname", kind)`` per site.
    AST-based (not grep) so comments/strings can't false-positive and
    nested defs attribute to their innermost function."""
    import ast
    import os

    sites: list[tuple[str, int, str, str]] = []
    for dirpath, _dirs, files in os.walk(package_dir):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, package_dir)
            with open(path) as f:
                tree = ast.parse(f.read())
            stack: list[str] = []

            class _V(ast.NodeVisitor):
                def visit_FunctionDef(self, node):
                    stack.append(node.name)
                    self.generic_visit(node)
                    stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Call(self, node):
                    f = node.func
                    # every DataFrame driver-fetch API, so a future
                    # operator cannot dodge the screen by switching
                    # from collect() to take()/first()/head()/
                    # toLocalIterator(). Only the ambiguous 'first'
                    # (F.first — the AGGREGATE, not a fetch) is
                    # excluded by receiver name: the other five never
                    # exist on the functions module, so a DataFrame
                    # bound to a name like `sf` cannot dodge the
                    # screen (round 12, ADVICE).
                    fetchers = ("collect", "toPandas", "take", "first",
                                "head", "toLocalIterator")
                    if (
                        isinstance(f, ast.Attribute)
                        and f.attr in fetchers
                        and not (
                            f.attr == "first"
                            and isinstance(f.value, ast.Name)
                            and f.value.id in ("F", "functions", "sf")
                        )
                    ):
                        qual = ".".join(stack) or "<module>"
                        sites.append((rel, node.lineno, f"{rel}:{qual}", f.attr))
                    self.generic_visit(node)

            _V().visit(tree)
    return sites


# Ordering / extreme-value constructs: a statistic computed ACROSS
# keys (top-k, rank, argmax, permutation order) — the class where the
# affine lattice hash has now shipped four real bugs (r10 MinHash
# mask; r11 HLL sequential-key collapse and Gumbel lattice coupling;
# r12 A-ES weighted sampling). least/greatest are deliberately absent:
# they clamp a value against literals/config, not across keys.
_JOINT_CONSTRUCTS = frozenset({
    "orderBy", "sort", "sortWithinPartitions",
    "row_number", "rank", "dense_rank", "ntile", "percent_rank",
    "min", "max", "min_by", "max_by",
    "array_min", "array_max", "array_sort", "sort_array",
})
_AFFINE_SOURCES = frozenset({"hash_bucket", "sql_hash_bucket"})
# ordering text inside a SQL fragment (lowercased substring match)
_SQL_ORDER_MARKERS = ("order by", "row_number", "rank()", "min(", "max(")


def joint_hash_sites(
    package_dir: str,
) -> list[tuple[str, int, str, tuple[str, ...]]]:
    """The marginal-vs-joint hash screen (round 12; VERDICT r11 next
    #1): every function (or module body) under ``package_dir`` that
    calls the AFFINE portable hash — ``hash_bucket`` or
    ``sql_hash_bucket`` — is a site, returned as ``(relpath, lineno,
    "relpath:qualname", constructs)``. ``constructs`` is the sorted
    tuple of ordering/extreme-value constructs co-occurring in the
    SAME body (empty for a pure threshold/split marginal).

    The enforced rule (tests/test_plan_doctor.py): a site with an
    empty constructs tuple must be DECLARED in
    plan_contracts.MARGINAL_CONTRACT_OK with a one-line justification
    that its contract is a per-key marginal; a site whose body also
    ranks/sorts/extremizes fails OUTRIGHT — no declaration accepted —
    because an extreme-value statistic over the affine lattice is the
    bug class that shipped four times in three rounds (MinHash mask,
    HLL, Gumbel, A-ES). Use ``avalanche_bucket`` there instead. If a
    function legitimately mixes a marginal hash with an unrelated
    sort, split it into helpers — the granularity is the screen.

    Two detection layers: (1) AST call co-occurrence per body; (2)
    inside a single f-string, a ``sql_hash_bucket`` call whose
    surrounding literal text carries ordering SQL ("ORDER BY",
    "row_number", ...) adds the construct ``sql-ordering-string`` —
    catching the oracle-twin form of the same bug (the pre-r12
    ``_order_ctes`` shape). Cross-statement dataflow (hash stored in a
    module constant, ordered elsewhere) is out of AST reach — that is
    what the declare-every-affine-site rule covers: the declaration
    forces a human to restate the marginal claim at each site.

    Granularity limit (round-12 ADVICE, documented): attribution is to
    the INNERMOST enclosing FunctionDef, so an affine call in an outer
    function whose ordering construct lives in a nested ``def`` of the
    same lexical body splits into two 'clean' sites. Like the
    cross-statement case, the declare-every-affine-site rule is the
    backstop: the outer site still needs its marginal declaration, and
    the reviewer restating that claim is looking at the nested def two
    lines away."""
    import ast
    import os

    sites: list[tuple[str, int, str, tuple[str, ...]]] = []
    for dirpath, _dirs, files in os.walk(package_dir):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, package_dir)
            with open(path) as f:
                tree = ast.parse(f.read())
            stack: list[str] = []
            # per-qualname: (first affine-call lineno, constructs set)
            bodies: dict[str, list] = {}

            def _call_name(node: "ast.Call") -> str | None:
                f = node.func
                if isinstance(f, ast.Attribute):
                    return f.attr
                if isinstance(f, ast.Name):
                    return f.id
                return None

            class _V(ast.NodeVisitor):
                def visit_FunctionDef(self, node):
                    stack.append(node.name)
                    self.generic_visit(node)
                    stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Call(self, node):
                    name = _call_name(node)
                    qual = ".".join(stack) or "<module>"
                    rec = bodies.setdefault(qual, [None, set()])
                    if name in _AFFINE_SOURCES and rec[0] is None:
                        rec[0] = node.lineno
                    # constructs count only in Attribute form (F.min,
                    # df.orderBy): a bare-name min()/max() is the
                    # Python builtin clamping scalars (house style
                    # reaches pyspark functions via the F alias)
                    if name in _JOINT_CONSTRUCTS and isinstance(
                        node.func, ast.Attribute
                    ):
                        rec[1].add(name)
                    self.generic_visit(node)

                def visit_JoinedStr(self, node):
                    # layer 2: sql_hash_bucket interpolated into an
                    # f-string whose literal parts carry ordering SQL
                    has_affine = any(
                        isinstance(sub, ast.Call)
                        and _call_name(sub) == "sql_hash_bucket"
                        for part in node.values
                        if isinstance(part, ast.FormattedValue)
                        for sub in ast.walk(part.value)
                    )
                    if has_affine:
                        text = "".join(
                            part.value.lower()
                            for part in node.values
                            if isinstance(part, ast.Constant)
                            and isinstance(part.value, str)
                        )
                        if any(m in text for m in _SQL_ORDER_MARKERS):
                            qual = ".".join(stack) or "<module>"
                            rec = bodies.setdefault(qual, [None, set()])
                            if rec[0] is None:
                                rec[0] = node.lineno
                            rec[1].add("sql-ordering-string")
                    self.generic_visit(node)

            _V().visit(tree)
            for qual, (lineno, constructs) in bodies.items():
                if lineno is not None:
                    sites.append(
                        (rel, lineno, f"{rel}:{qual}", tuple(sorted(constructs)))
                    )
    return sites


def shuffle_regressions(
    current: dict[str, int],
    prior: dict[str, int],
    tolerance: float = 0.10,
    min_delta_bytes: int = 4096,
) -> dict[str, dict[str, float]]:
    """Round-over-round shuffle-byte regression gate: queries whose
    shuffle volume grew more than ``tolerance`` (and by at least
    ``min_delta_bytes`` — a kilobyte-scale noise floor so a 0→500-byte
    blip doesn't page anyone) versus the prior round's bench artifact.

    Bytes are the deterministic signal wall-clock is not
    (docs/BENCH_VARIANCE.md): a plan change that adds an Exchange shows
    up here exactly, immune to host noise. Negative sentinels (-1 =
    metric read failed) on either side skip the query rather than
    false-alarm."""
    out: dict[str, dict[str, float]] = {}
    for name, cur in current.items():
        old = prior.get(name)
        if old is None or old < 0 or cur < 0:
            continue
        if cur > old * (1.0 + tolerance) and cur - old >= min_delta_bytes:
            out[name] = {
                "prior": int(old),
                "current": int(cur),
                "growth_pct": round(100.0 * (cur - old) / max(old, 1), 1),
            }
    return out


def prior_bench_shuffle_bytes(
    repo_root: str, sf: float | None = None
) -> tuple[str, dict[str, int]] | None:
    """Locate the newest driver-recorded BENCH_r*.json and return
    (filename, its per-query shuffle_bytes_written map), or None when
    no prior artifact exists / none carries the metric (rounds 1-4
    predate the telemetry). When ``sf`` is given, artifacts recorded
    at a DIFFERENT scale factor are rejected — shuffle volume scales
    with data size, so a cross-SF diff would flag (or mask) nothing
    but the SF change itself."""
    got = prior_bench_map(repo_root, "shuffle_bytes_written", sf=sf)
    if got is None:
        return None
    fn, m = got
    return fn, {k: int(v) for k, v in m.items()}


def prior_bench_map(
    repo_root: str, field: str, sf: float | None = None
) -> tuple[str, dict[str, float]] | None:
    """Newest prior bench artifact's per-query map for ``field``
    (``shuffle_bytes_written``, ``cold_build_seconds``, ...) —
    the round-ordering, driver-first precedence, and tail-recovery
    rules shared by every round-over-round bench diff (round 12
    generalized this from the shuffle-bytes reader so the cold-build
    delta gate reuses the same prior-selection logic)."""
    import json
    import os
    import re

    def extract(doc: object) -> tuple[dict, object] | None:
        """(field map, sf) from an artifact in any of its three
        shapes: driver {tail, parsed}, driver with parsed=null (the
        line outgrew the stdout tail — recover the map from the tail
        string, where it survives clipping because it sits near the
        end), or a committed BENCH_LOCAL full record."""
        if not isinstance(doc, dict):
            return None
        parsed = doc.get("parsed", doc if field in doc else None)
        if isinstance(parsed, dict):
            bm = parsed.get(field)
            if isinstance(bm, dict) and bm:
                return bm, parsed.get("sf")
        tail = doc.get("tail")
        if isinstance(tail, str):
            m = re.search(rf'"{field}":\s*(\{{[^{{}}]*\}})', tail)
            if m:
                try:
                    bm = json.loads(m.group(1))
                except json.JSONDecodeError:
                    return None
                sf_m = None
                for sf_m in re.finditer(r'"sf":\s*([0-9.]+)', tail):
                    pass  # last occurrence = the top-level sf field
                if isinstance(bm, dict) and bm:
                    return bm, (float(sf_m.group(1)) if sf_m else None)
        return None

    # newest round first; within a round the driver artifact wins, the
    # committed BENCH_LOCAL record is the fallback when the driver's
    # stdout tail clipped even the shuffle map. The CURRENT round's own
    # local record (round number above every driver artifact) is NOT a
    # prior: diffing a re-run against the record the previous run just
    # wrote would let a regression ratchet itself into the baseline
    # mid-round (found in round-7 review).
    by_round: dict[int, dict[str, str]] = {}
    try:
        names = os.listdir(repo_root)
    except OSError:
        return None
    for fn in names:
        m = re.fullmatch(r"BENCH(_LOCAL)?_r(\d+)\.json", fn)
        if m:
            kind = "local" if m.group(1) else "driver"
            by_round.setdefault(int(m.group(2)), {})[kind] = fn
    max_driver = max(
        (r for r, kinds in by_round.items() if "driver" in kinds), default=-1
    )
    for rnd in sorted(by_round, reverse=True):
        if rnd > max_driver and "driver" not in by_round[rnd]:
            continue  # this (or a future) round's own local record
        for kind in ("driver", "local"):
            fn = by_round[rnd].get(kind)
            if fn is None:
                continue
            try:
                with open(os.path.join(repo_root, fn)) as f:
                    got = extract(json.load(f))
                if got is None:
                    continue
                field_map, prior_sf = got
                # coercion stays inside the try: a malformed artifact
                # (null / non-numeric entry) must degrade to "no
                # prior", never crash the bench before its line prints
                coerced = {str(k): float(v) for k, v in field_map.items()}
            except (OSError, json.JSONDecodeError, AttributeError, TypeError, ValueError):
                continue
            if sf is not None and prior_sf != sf:
                continue
            return fn, coerced
    return None
