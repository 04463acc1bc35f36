"""Session-scoped memo for immutable Column expression fragments.

Round 13 (guide §1.2 step 2 — per-call fixed overhead): profiling the
bench steady rows showed several query walls dominated not by execution
but by *plan construction* — e.g. `dedup_minhash_lsh` spent 0.72s of
its 0.83s wall in py4j round trips re-building the identical 32-mask
minhash signature / band-struct expression trees on every call
(cProfile: >500 `send_command` round trips per call, ~1ms each).

A PySpark Column is an immutable expression tree over *named* column
references — the same object can be reused across any number of
DataFrames and queries (this is ordinary PySpark usage; nothing about a
Column binds it to a plan). What is NOT safe is reusing the underlying
py4j handle across JVM sessions, so the memo is keyed by
`applicationId` and entries from any other application are evicted on
first touch. This caches *unevaluated expression objects only* — never
DataFrames, never results; the produced plans are bit-identical to the
uncached construction (same expression tree handed to the analyzer).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Hashable

from pyspark.sql import Column

_CACHE: dict[tuple, Column] = {}


def _app_id() -> str | None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    return sc.applicationId if sc is not None else None


def _build_fingerprint(build: Callable[[], Column]) -> tuple:
    """Mechanical key hardening (round 14, VERDICT r13 what's-wrong #5):
    a caller-chosen key that omits a parameter the builder actually
    captures is one refactor away from serving a stale tree for a
    changed parameter. Rather than trusting every call site's key
    tuple, the memo key automatically carries (a) the builder's
    bytecode with its constants and referenced names — the bytecode
    alone indexes into both tables, so ``lambda: F.lit(3)`` and
    ``lambda: F.lit(5)`` compile to the same bytes — and (b) the
    hashable values of its closure cells — so a parameter captured by
    the build closure distinguishes cache entries even when the
    explicit key forgets it. Unhashable cell contents (e.g. a
    captured Column) degrade to their type name: correctness is
    preserved for the primitive config params this guards, and a
    builder capturing live Columns should not be memoized anyway."""
    def hashable(v) -> Hashable:
        if isinstance(v, (int, float, bool, str, bytes, frozenset, type(None))):
            return v
        if isinstance(v, tuple):
            return tuple(hashable(x) for x in v)
        return type(v).__name__

    code = getattr(build, "__code__", None)
    code_id: Hashable = (
        None if code is None
        # repr keeps 1, 1.0 and True apart, which compare equal
        else (code.co_code, repr(code.co_consts), code.co_names)
    )
    cells = []
    for cell in getattr(build, "__closure__", None) or ():
        try:
            cells.append(hashable(cell.cell_contents))
        except ValueError:  # empty cell
            cells.append("<empty>")
    defaults = tuple(hashable(v) for v in getattr(build, "__defaults__", None) or ())
    return (code_id, tuple(cells), defaults)


def memo_expr(key: tuple[Hashable, ...], build: Callable[[], Column]) -> Column:
    """Return the memoized Column for ``key`` (namespaced by the active
    application and by the builder's own closure fingerprint — see
    ``_build_fingerprint``), building it with ``build()`` on first use.
    Stale entries from previous applications are dropped so handles
    never outlive their JVM."""
    app = _app_id()
    full = (app, *key, _build_fingerprint(build))
    col = _CACHE.get(full)
    if col is None:
        for stale in [k for k in _CACHE if k[0] != app]:
            del _CACHE[stale]
        col = build()
        _CACHE[full] = col
    return col
