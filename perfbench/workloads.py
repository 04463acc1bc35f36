"""The benchmark's workloads: what one set-up, one pass and the
correctness checks of each run.

Every op goes through ``Workload.read`` or ``CorpusRefresh.write``,
which time it through the ``Tracer`` and record a failure instead of
raising, so a run always reaches its metrics.
"""

from __future__ import annotations

import math
import os
import threading
import time
import traceback

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from crypto_data_pipeline_spark.plans.registry import load_with_extras
from crypto_data_pipeline_spark.sources.upsert import upsert_parquet_incremental
from crypto_data_pipeline_spark.streaming.ingest import (
    ingest_corpus_batch,
    maintain_aggregate_batch,
    read_gold_aggregate,
)

BLOOM_BITS = 1 << 16


def _canon(v):
    return ("NaN" if math.isnan(v) else round(v, 9)) if isinstance(v, float) else v


def _rows(columns, rows) -> list[tuple]:
    """Rows with columns in name order and floats rounded, sorted: the
    form in which a Spark result and its oracle's are compared."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted((tuple(_canon(r[i]) for i in order) for r in rows), key=repr)


class Workload:
    """Shared machinery: timed reads and the oracle check."""

    reads: tuple[str, ...] = ()

    def __init__(self, spark, tracer, seed: int, work: str, smoke: bool):
        self.spark, self.tracer, self.seed, self.work, self.smoke = spark, tracer, seed, work, smoke
        self.queries = load_with_extras()
        self.records: list[dict] = []  # one per op and per check
        self._oracle_rows: dict[tuple[str, str], tuple[list[str], list[tuple]]] = {}

    def read(self, name: str, version: str) -> dict:
        """A read call as a user makes it: the registry function, then
        ``collect``. ``collect`` runs the frame's own ``QueryExecution``,
        so its phases and SQL metrics are the ones read out; the rows are
        kept for the check."""
        t = self.tracer
        with t.op(name, "read") as rec:
            rec["version"] = version
            try:
                with t.layer("plans.build"):
                    df = self.queries[name].fn(self.spark, version)
                with t.layer("exec"):
                    rec["result"] = (df.columns, df.collect())
                t.executed(df)
            except Exception as exc:  # recorded as a failed op
                traceback.print_exc()
                rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        self.records.append(rec)
        return rec

    def pass_order(self, i: int, setup: bool = False) -> list[str]:
        """The seed-shuffled read order of pass (or set-up) ``i``."""
        rng = np.random.default_rng([self.seed, 3 if setup else 2, i])
        return [self.reads[j] for j in rng.permutation(len(self.reads))]

    # -- correctness (untimed) -------------------------------------------

    def oracle(self, name: str, version: str) -> tuple[list[str], list[tuple]]:
        """Columns and canonical rows of the query's DuckDB oracle."""
        key = (name, version)
        if key not in self._oracle_rows:
            con = duckdb.connect()
            try:
                for entry in os.listdir(version):
                    table, ext = os.path.splitext(entry)
                    if ext != ".parquet":
                        continue
                    path = f"{version}/{entry}"
                    src = f"{path}/*.parquet" if os.path.isdir(path) else path
                    con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{src}')")
                res = con.execute(self.queries[name].oracle)
                cols = [d[0] for d in res.description]
                self._oracle_rows[key] = (sorted(cols), _rows(cols, res.fetchall()))
            finally:
                con.close()
        return self._oracle_rows[key]

    def check_reads(self, timed: list[dict]) -> None:
        """The first timed read of each query and version returned its
        oracle's rows; every later one, its columns and row count."""
        seen = set()
        for rec in timed:
            result = rec.pop("result", None)
            if result is None:
                continue
            key = (rec["op"], rec["version"])
            cols, rows = self.oracle(*key)
            if key in seen:
                same = sorted(result[0]) == cols and len(result[1]) == len(rows)
            else:
                same = sorted(result[0]) == cols and _rows(*result) == rows
                seen.add(key)
            if not same:
                rec["error"] = "result differs from its DuckDB oracle"

    def check(self, what: str, ok: bool) -> None:
        self.records.append({"op": what, "kind": "check", "wall_s": 0.0,
                             **({} if ok else {"error": "mismatch"})})


class ReferenceReports(Workload):
    """The reference's crypto reports and the TPC-H-shaped summaries on
    one input version; every query is planned and scheduled anew on
    each call, and only the silver history is served from a cache."""

    reads = ("monthly_avg_price", "drop_recovery", "rolling_trend_variance",
             "processed_features", "pricing_summary", "revenue_by_nation", "sessionization")

    def __init__(self, *args):
        super().__init__(*args)
        # sf0.001 and sf0.1 row counts: 1 500 and 150 000 orders (about 6 000
        # and 600 000 line items), events over 15 and 1 500 users in 30 days
        self.size = (gen.Size(docs=0, events=1000, users=15, days=30, orders=1500) if self.smoke
                     else gen.Size(docs=0, events=100_000, users=1500, days=30, orders=150_000))
        self.version = None

    def setup(self) -> None:
        """The input version, then two untimed passes over it: the first
        makes every query's first plan, codegen and the silver build,
        the second gives the JIT the hot paths, so timed passes start
        steady."""
        self.version = f"{self.work}/inputs"
        gen.write_inputs(self.version, self.seed, 0, self.size)
        for i in range(2):
            for name in self.pass_order(i, setup=True):
                self.read(name, self.version)

    def run_pass(self, i: int) -> None:
        for name in self.pass_order(i):
            self.read(name, self.version)

    def check_all(self, timed: list[dict]) -> None:
        self.check_reads(timed)


class CorpusRefresh(Workload):
    """Seeded deliveries into a deduplicated document store and an
    upserted event table with a maintained gold aggregate; each cycle
    publishes a new version and reads it and the previous one, so every
    read builds its serve caches anew."""

    reads = ("monthly_avg_price", "dedup_exact_groups", "lm_perplexity_buckets_kn",
             "source_curation_report")
    SMOKE_SIZE = gen.Size(docs=25, events=1000, users=15, days=30)

    def __init__(self, *args):
        super().__init__(*args)
        # base version: documents and events at the sf0.001 and sf0.01 row
        # counts (25 and 500 documents, 1 000 and 10 000 events); at sf0.1
        # a cycle's eight cold reads would not fit the time per run. A
        # delivery brings a tenth of the documents and one more day of
        # events.
        if self.smoke:
            self.size = self.SMOKE_SIZE
            self.n_docs, self.n_events = 3, 33
        else:
            self.size = gen.Size(docs=500, events=10_000, users=150, days=30)
            self.n_docs, self.n_events = 50, 330
        self.ingest_rows, self.ingest_wall, self.refresh_walls = 0, 0.0, []

    def write(self, name: str, fn, *args) -> dict:
        """A write call into ``sources`` or ``streaming``; ``name`` is its
        layer span."""
        t = self.tracer
        with t.op(name, "write") as rec:
            start = time.time()
            try:
                with t.layer(name):
                    fn(*args)
            except Exception as exc:  # recorded as a failed op
                traceback.print_exc()
                rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        if t.enabled:
            n_bytes, n_files = _written_since(self.root, start)
            t.count("sources.bytes_written", n_bytes)
            t.count("sources.files_written", n_files)
        self.records.append(rec)
        return rec

    def setup(self) -> None:
        """A new store from the base version: its documents admitted as
        delivery 0, its events upserted and aggregated, version v0
        published. That warms the write path. The read path is warmed by
        one read of each query on a version of smoke size: it compiles
        the same plans as a full version at a fraction of the cost
        (without it a timed cycle took about 1.7 times the wall and 1.4
        times the CPU), and its cache entries are ones the timed cycles'
        versions miss. The two touch different data, so the warm-up
        reads run in a second thread beside the store build; set-up
        stays about 6 s shorter."""
        self.root = f"{self.work}/refresh"
        base = f"{self.root}/landing/0"
        texts = gen.write_inputs(base, self.seed, 0, self.size)
        self.expected_docs = len({gen.normalized_text(t) for t in texts})
        self.store_texts = list(dict.fromkeys(texts))
        self.next_doc_id, self.next_event_id = self.size.docs, self.size.events
        self.gold_expected: dict[str, list[int]] = {}
        self.events_expected = 0
        self.versions = []
        warmup = f"{self.work}/warmup"
        gen.write_inputs(warmup, self.seed, 1, self.SMOKE_SIZE)
        reads = threading.Thread(target=self._warm_reads, args=(warmup,))
        reads.start()
        try:
            self._deliver(0, base)
        finally:
            reads.join()

    def _warm_reads(self, version: str) -> None:
        for name in self.pass_order(0, setup=True):
            self.read(name, version)

    def _deliver(self, batch_id: int, landing: str) -> float:
        """Apply one landed delivery and publish the next version;
        returns the write-side wall."""
        spark = self.spark
        docs = spark.read.parquet(f"{landing}/documents.parquet")
        events = (spark.read.parquet(f"{landing}/events.parquet")
                  .withColumn("ts", F.col("ts").cast("timestamp"))
                  .withColumn("year", F.year("ts")).withColumn("month", F.month("ts")))
        changes = events.select(
            "event_type", F.round(F.col("value") * 100).cast("long").alias("value_cents"),
            F.lit("U").alias("op"), F.lit(None).cast("string").alias("prev_event_type"),
            F.lit(None).cast("long").alias("prev_value_cents"))
        version = f"{self.root}/v{batch_id}"
        walls = [
            self.write("streaming.ingest", ingest_corpus_batch, docs, batch_id,
                       f"{self.root}/store", "doc_id", "text", BLOOM_BITS),
            self.write("sources.upsert", upsert_parquet_incremental, spark, events,
                       f"{self.root}/events", ["event_id"], ["ts"], ["year", "month"]),
            self.write("streaming.gold", maintain_aggregate_batch, changes, batch_id,
                       f"{self.root}/gold", "event_type", "value_cents",
                       "prev_event_type", "prev_value_cents"),
            self.write("sources.publish", self._publish, version),
        ]
        self.versions.append(version)
        table = pq.read_table(f"{landing}/events.parquet", columns=["event_type", "value"])
        for et, v in zip(table["event_type"].to_pylist(), table["value"].to_pylist()):
            g = self.gold_expected.setdefault(et, [0, 0])
            g[0] += 1
            g[1] += round(v * 100)
        self.events_expected += table.num_rows
        return sum(r["wall_s"] for r in walls)

    def _publish(self, version: str) -> None:
        """The store and the merged events as a flat version dir, in the
        layout ``load_table`` reads."""
        spark = self.spark
        spark.read.parquet(f"{self.root}/store").drop("batch_id").write.parquet(
            f"{version}/documents.parquet")
        (spark.read.parquet(f"{self.root}/events").drop("year", "month")
         .withColumn("ts", F.col("ts").cast("timestamp_ntz"))
         .write.parquet(f"{version}/events.parquet"))

    def run_pass(self, i: int = 0) -> None:
        """One refresh cycle: land the next delivery, apply it, then read
        the new version and the previous one. Two live versions are more
        than the one-entry serve caches hold, so every read builds its
        caches anew. The read order is fixed: the first reads after the
        writes run slower, and a shuffled order made the cycle's p90
        depend on which query came first."""
        cycle = len(self.versions)
        d = gen.delivery(self.seed, cycle, self.store_texts, self.next_doc_id,
                         self.next_event_id, self.size, self.n_docs, self.n_events)
        landing = f"{self.root}/landing/{cycle}"
        os.makedirs(landing)
        pq.write_table(d.docs, f"{landing}/documents.parquet")
        pq.write_table(d.events, f"{landing}/events.parquet")
        self.next_doc_id += d.docs.num_rows
        self.next_event_id += d.events.num_rows
        self.expected_docs += d.novel
        self.store_texts = list(dict.fromkeys(self.store_texts + d.docs["text"].to_pylist()))
        t0 = time.perf_counter()
        self.ingest_wall += self._deliver(cycle, landing)
        self.ingest_rows += d.docs.num_rows + d.events.num_rows
        for version in reversed(self.versions[-2:]):
            for name in self.reads:
                self.read(name, version)
        self.refresh_walls.append(time.perf_counter() - t0)
        if self.tracer.enabled:
            admitted = pq.ParquetDataset(f"{self.root}/store/batch_id={cycle}").read().num_rows
            self.tracer.count("streaming.admitted", admitted)
            self.tracer.count("streaming.delivered", d.docs.num_rows)

    def check_all(self, timed: list[dict]) -> None:
        spark = self.spark
        self.check_reads(timed)
        store = spark.read.parquet(f"{self.root}/store").count()
        self.check(f"store docs {store} == expected {self.expected_docs}",
                   store == self.expected_docs)
        events = spark.read.parquet(f"{self.root}/events").count()
        self.check(f"events {events} == delivered {self.events_expected}",
                   events == self.events_expected)
        gold = {r.event_type: [r.n_rows, r.total]
                for r in read_gold_aggregate(spark, f"{self.root}/gold").collect()}
        self.check("gold == recompute of the merged events", gold == self.gold_expected)


WORKLOADS = {"reference_reports": ReferenceReports, "corpus_refresh": CorpusRefresh}


def _written_since(root: str, since: float) -> tuple[int, int]:
    """Bytes and data files under ``root`` modified since ``since``."""
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(dirpath, f))
            if st.st_mtime >= since:
                n_bytes += st.st_size
                n_files += 1
    return n_bytes, n_files


def dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)
