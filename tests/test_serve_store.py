"""The serve store (crypto_data_pipeline_spark/serve_store.py): every
entry rebuilds when its source table is rewritten in place, and
eviction and ``clear()`` leave no persisted RDD and no dir behind."""

from __future__ import annotations

import math
import os
import re
import shutil
import time
from types import SimpleNamespace

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from crypto_data_pipeline_spark import serve_store
from crypto_data_pipeline_spark.observability import profile_call
from crypto_data_pipeline_spark.plans.registry import load_with_extras

# entry name -> (its source table, a query that serves from it)
ENTRY_QUERIES = {
    "silver": ("events", "monthly_avg_price"),
    "lm_model": ("documents", "lm_perplexity_buckets_kn"),
    "src_report": ("documents", "source_curation_report"),
    "dsir": ("documents", "dsir_importance_resample"),
    "nb_model": ("documents", "nb_lang_classifier"),
    "sig_store": ("documents", "dedup_minhash_incremental"),
    "curation": ("documents", "corpus_curation_pipeline"),
    "ivf": ("embeddings", "embedding_ann_ivf"),
    "ivf_fixed": ("embeddings", "embedding_ann_ivf_fixed"),
    "lsh": ("embeddings", "embedding_ann_lsh_multiprobe"),
    "pq_codes": ("embeddings", "embedding_pq_topk"),
    # load_table's inferred schemas, one entry per table
    "schema:events": ("events", "monthly_avg_price"),
    "schema:documents": ("documents", "token_counts"),
    "schema:embeddings": ("embeddings", "embedding_topk_bruteforce"),
}
SPECS = load_with_extras()
TABLES = ("documents", "events", "embeddings")


def _copy_sf(src: str, dst: str) -> str:
    os.makedirs(dst)
    for t in TABLES:
        shutil.copy(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")
    return dst


def _rewrite(sf: str, table: str) -> None:
    """Rewrite ``table`` in place, under the same file name, with
    contents every query over it answers differently."""
    path = f"{sf}/{table}.parquet"
    t = pq.read_table(path)
    if table == "events":
        t = t.set_column(
            t.schema.get_field_index("value"), "value", pc.multiply(t["value"], 2.0)
        )
    elif table == "documents":
        t = t.filter(pc.not_equal(pc.bit_wise_and(t["doc_id"], 3), 1))
    else:  # embeddings: rescale the axes unevenly, so cosines change
        col = t.schema.get_field_index("embedding")
        field = t.schema.field(col)
        t = t.set_column(col, field, pa.array(
            [[x * (1 + i % 3) for i, x in enumerate(v)] for v in t["embedding"].to_pylist()],
            type=field.type,
        ))
    time.sleep(0.05)  # ensure mtime_ns moves even on coarse filesystems
    pq.write_table(t, path)


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v


def _rows(cols, data) -> list[tuple]:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_canon(r[i]) for i in idx) for r in data), key=repr)


def _oracle_rows(sf: str, sql: str) -> list[tuple]:
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        res = con.execute(sql)
        return _rows([d[0] for d in res.description], res.fetchall())
    finally:
        con.close()


def _run(spark, sf: str, query: str) -> list[tuple]:
    df = SPECS[query].fn(spark, sf)
    return _rows(df.columns, df.collect())


def _persisted(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


# the one attribute of a Spark session the store reads
_APP = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-1"))


def test_store_contract_without_spark(tmp_path):
    """Hit while the source is unchanged; rewrite -> rebuild releasing
    the stale value; another sf_dir -> evict; a failed build leaves no
    dir; a remote source turns the check off; clear() releases all."""
    serve_store.clear()
    built, released = [], []

    def build(tmp):
        built.append(tmp)
        return len(built)

    def serve(sf):
        return serve_store.serve(_APP, sf, "unit", ("t",), build, released.append)

    a, b = str(tmp_path / "a b"), str(tmp_path / "b")
    for d in (a, b):
        os.makedirs(d)
        with open(f"{d}/t.parquet", "wb") as f:
            f.write(b"v1")
    assert serve(a) == 1 and serve(a) == 1 and released == []
    time.sleep(0.05)
    with open(f"{a}/t.parquet", "wb") as f:
        f.write(b"v2")
    assert serve(a) == 2 and released == [1] and not os.path.exists(built[0])
    assert serve(b) == 3 and released == [1, 2] and not os.path.exists(built[1])

    def failing(tmp):
        built.append(tmp)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        serve_store.serve(_APP, a, "other", ("t",), failing)
    assert not os.path.exists(built[-1]) and "other" not in serve_store._ENTRIES

    remote = "s3a://bucket/corpus"
    assert serve(remote) == 5 and serve(remote) == 5
    assert released == [1, 2, 3]
    serve_store.clear()
    assert released == [1, 2, 3, 5] and not serve_store._ENTRIES
    assert not [d for d in built if os.path.exists(d)]


def test_mapping_names_every_entry():
    """A new serve entry must join ENTRY_QUERIES, so both tests below
    walk it. An entry named by an f-string (``f"schema:{name}"``) is a
    family: some ENTRY_QUERIES name must fit it."""
    pkg = os.path.dirname(serve_store.__file__)
    names = set()
    for d, _, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(d, f)) as fh:
                    names |= set(re.findall(
                        r'serve_store\.serve\(\s*spark,\s*sf_dir,\s*f?"([\w:{}]+)"', fh.read()
                    ))
    patterns = [re.compile(re.sub(r"\{\w+\}", r"\\w+", n)) for n in names]
    assert all(any(p.fullmatch(e) for e in ENTRY_QUERIES) for p in patterns)
    assert all(any(p.fullmatch(e) for p in patterns) for e in ENTRY_QUERIES)


@pytest.mark.parametrize(
    "entry",
    [  # the curation row builds the whole curation DAG twice (~35 s)
        pytest.param(e, marks=[pytest.mark.slow] if e == "curation" else [])
        for e in ENTRY_QUERIES
    ],
)
def test_entry_rebuilds_on_rewritten_source(spark, sf_dir, tmp_path, entry):
    """Rewriting the entry's source table in place under the same
    sf_dir is a miss: the entry rebuilds in a new dir, the old dir is
    gone, and the query answers for the new corpus."""
    table, query = ENTRY_QUERIES[entry]
    sf = _copy_sf(sf_dir, str(tmp_path / "sf"))
    first = _run(spark, sf, query)
    old = serve_store._ENTRIES[entry]
    assert old.key[1] == sf

    def no_build(_tmp):
        raise AssertionError("an unchanged source must hit")

    assert serve_store.serve(spark, sf, entry, (table,), no_build) is old.value
    _rewrite(sf, table)
    second = _run(spark, sf, query)
    new = serve_store._ENTRIES[entry]
    assert new is not old and new.tmp != old.tmp and not os.path.exists(old.tmp)
    assert new.fingerprint != old.fingerprint
    oracle = SPECS[query].oracle
    if oracle is not None:
        assert second == _oracle_rows(sf, oracle)
        assert second != first
    serve_store.clear()


@pytest.mark.parametrize(
    "query", ["pricing_summary", "revenue_by_nation", "sessionization", "drop_recovery"]
)
def test_repeat_table_loads_launch_no_job(spark, sf_dir, query):
    """Building a query's plan again on the same corpus launches no
    Spark job: each table's schema is served, not inferred again."""
    fn = SPECS[query].fn
    fn(spark, sf_dir)
    assert profile_call(spark, fn, sf_dir)["build_jobs"] == 0


def test_load_table_sees_rewritten_schema(spark, sf_dir, tmp_path):
    """A table rewritten in place with an added column loads with that
    column and the new file's rows; a changed parquet read conf infers
    the schema again instead of serving the one inferred under the old
    setting."""
    from pyspark.sql import types as T

    from crypto_data_pipeline_spark.sources.tables import load_table

    sf = _copy_sf(sf_dir, str(tmp_path / "sf"))
    assert "tag" not in load_table(spark, sf, "events").columns
    path = f"{sf}/events.parquet"
    t = pq.read_table(path)
    t = t.append_column("tag", pa.array(
        [f"t{i % 7}".encode() for i in range(t.num_rows)], type=pa.binary()
    ))
    time.sleep(0.05)  # ensure mtime_ns moves even on coarse filesystems
    pq.write_table(t, path)

    cols = "event_id, user_id, CAST(ts AS DATE) AS day, value, tag"
    df = load_table(spark, sf, "events")
    assert isinstance(df.schema["tag"].dataType, T.BinaryType)
    spark_rows = _rows(["event_id", "user_id", "day", "value", "tag"],
                       [tuple(r) for r in df.selectExpr(*cols.split(", ")).collect()])
    assert spark_rows == _oracle_rows(sf, f"SELECT {cols} FROM events")

    key = "spark.sql.parquet.binaryAsString"
    saved = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        assert isinstance(load_table(spark, sf, "events").schema["tag"].dataType, T.StringType)
    finally:
        spark.conf.set(key, saved)
    assert isinstance(load_table(spark, sf, "events").schema["tag"].dataType, T.BinaryType)
    serve_store.clear()


@pytest.mark.slow  # builds every entry twice (~70 s)
def test_evict_and_clear_release_everything(spark, sf_dir, tmp_path):
    """Serving every entry for a second sf_dir releases the first
    sf_dir's entries, and clear() releases the second's: no RDD
    persisted by a released entry's build stays persisted, and none of
    its dirs exist."""
    serve_store.clear()
    sfs = [_copy_sf(sf_dir, str(tmp_path / f"sf{i}")) for i in range(2)]
    phases = []
    for sf in sfs:
        before = _persisted(spark)
        for _table, query in ENTRY_QUERIES.values():
            _run(spark, sf, query)
        assert set(serve_store._ENTRIES) == set(ENTRY_QUERIES)
        assert {e.key[1] for e in serve_store._ENTRIES.values()} == {sf}
        phases.append((_persisted(spark) - before,
                       [e.tmp for e in serve_store._ENTRIES.values()]))
        assert phases[-1][0], "the entries' builds persisted no RDD"
        if len(phases) == 2:
            rdds, dirs = phases[0]
            assert not rdds & _persisted(spark)
            assert not [d for d in dirs if os.path.exists(d)]
    serve_store.clear()
    assert not serve_store._ENTRIES
    rdds, dirs = phases[1]
    assert not rdds & _persisted(spark)
    assert not [d for d in dirs if os.path.exists(d)]
