"""The serve store: the one owner of every per-(session, corpus) serve
entry — state a query family derives once from the corpus and serves
to many calls (the silver history, the fitted LM with its per-doc
score table, the ANN, PQ and signature indexes, the DSIR features,
the curation stages, the source report's per-doc frame, and one
``schema:{table}`` entry per table that `sources.tables.load_table`
reads with, so a repeat load infers no schema).

Contract:

* An entry is stored under its name and keyed by (Spark
  applicationId, sf_dir). The store holds one live entry per name: a
  call for another session or sf_dir evicts the live entry and builds
  a new one.
* Every hit re-checks the fingerprint of the entry's source tables
  (`observability.source_fingerprint` of ``{sf_dir}/{table}.parquet``,
  by path: one ``os.stat`` per file, no Spark job). A changed corpus
  is a miss, and the rebuild overwrites the stale entry.
* Each build gets a fresh temp dir (``mkdtemp(prefix=f"{name}_")``)
  for what it keeps at rest; entries that keep nothing at rest leave
  it empty. A build that raises has its dir removed.
* On evict, on overwrite and at process exit the store calls the
  entry's ``release`` (which unpersists its persisted frames or drops
  its catalog table) and removes its dir.
* A frame served from an entry is valid only while that entry is live.
  Once the entry is evicted its persisted data is released and its
  files are gone, so a frame kept across a switch of sf_dir must not
  be executed again.

Builds may serve other entries (a per-doc frame scored with the LM
entry), so the store's lock is reentrant.
"""

from __future__ import annotations

import atexit
import logging
import shutil
import tempfile
import threading
from dataclasses import dataclass
from typing import Any, Callable

from crypto_data_pipeline_spark.observability import source_fingerprint


@dataclass
class _Entry:
    key: tuple[str, str]
    fingerprint: dict | None
    value: Any
    tmp: str
    release: Callable[[Any], object] | None


_ENTRIES: dict[str, _Entry] = {}
_LOCK = threading.RLock()


def fingerprint(sf_dir: str, sources: tuple[str, ...]) -> dict | None:
    """The fingerprint the store checks for tables ``sources`` of
    ``sf_dir``."""
    return source_fingerprint([f"{sf_dir}/{t}.parquet" for t in sources])


def serve(
    spark,
    sf_dir: str,
    name: str,
    sources: tuple[str, ...],
    build: Callable[[str], Any],
    release: Callable[[Any], object] | None = None,
) -> Any:
    """Entry ``name`` for (this session, ``sf_dir``): the live value
    while its source tables are unchanged, else ``build(tmp)``'s
    value, which replaces (and releases) the previous entry."""
    key = (spark.sparkContext.applicationId, sf_dir)
    fp = fingerprint(sf_dir, sources)
    with _LOCK:
        entry = _ENTRIES.get(name)
        if entry is not None and entry.key == key and entry.fingerprint == fp:
            return entry.value
        if entry is not None:
            _evict(name)
        tmp = tempfile.mkdtemp(prefix=f"{name}_")
        try:
            value = build(tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        _ENTRIES[name] = _Entry(key, fp, value, tmp, release)
        return value


def _evict(name: str) -> None:
    entry = _ENTRIES.pop(name)
    try:
        if entry.release is not None:
            entry.release(entry.value)
    except Exception:  # the session may already be stopped at exit
        logging.getLogger(__name__).debug(
            "releasing serve entry %s failed", name, exc_info=True
        )
    finally:
        shutil.rmtree(entry.tmp, ignore_errors=True)


def clear() -> None:
    """Release every entry and remove its dir."""
    with _LOCK:
        for name in list(_ENTRIES):
            _evict(name)


atexit.register(clear)
