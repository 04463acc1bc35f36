"""At-rest index staleness guard: every index/store sidecar records
the corpus fingerprint it was built from and loads re-check it; the
serve store's half is in test_serve_store.py."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from crypto_data_pipeline_spark.observability import source_fingerprint
from crypto_data_pipeline_spark.operators import similarity


def _write_corpus(spark, path: str, n: int = 24, dim: int = 8, shift: float = 0.0):
    rows = [
        (i, [float((i * 7 + j * 3) % 5) + shift + 0.1 for j in range(dim)])
        for i in range(n)
    ]
    spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(path)


def test_source_fingerprint_tracks_file_changes(spark, tmp_path):
    p = str(tmp_path / "corpus")
    _write_corpus(spark, p)
    fp1 = source_fingerprint([p])
    assert fp1 is not None and fp1["n_files"] >= 1 and fp1["sha256"]
    # identical re-read -> identical fingerprint; a file: URI is the same path
    assert source_fingerprint([p]) == fp1
    assert source_fingerprint([f"file://{p}"]) == fp1
    time.sleep(0.05)  # ensure mtime_ns moves even on coarse filesystems
    _write_corpus(spark, p, shift=1.0)
    fp2 = source_fingerprint([p])
    assert fp2 != fp1


def test_source_fingerprint_sees_in_place_rewrite_under_spaced_dir(tmp_path):
    """A single-file table under a dir whose name has a space, rewritten
    in place under the same file name: the fingerprint must change."""
    from urllib.parse import quote

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "a b" / "t.parquet")
    os.makedirs(os.path.dirname(path))
    pq.write_table(pa.table({"x": [1, 2, 3]}), path)
    fp1 = source_fingerprint([path])
    assert fp1["n_files"] == 1 and fp1["total_bytes"] > 0
    # the URI form Spark lists it under names the same file
    assert source_fingerprint([f"file://{quote(path)}"]) == fp1
    time.sleep(0.05)
    pq.write_table(pa.table({"x": [4, 5, 6]}), path)
    assert source_fingerprint([path]) != fp1


def test_source_fingerprint_is_off_for_remote_paths(caplog):
    """Paths this process cannot stat turn the guard off explicitly."""
    import logging

    with caplog.at_level(logging.WARNING):
        assert source_fingerprint(["s3a://bucket/documents.parquet"]) is None
        assert source_fingerprint(["local.parquet", "hdfs://nn/x.parquet"]) is None
    assert "not on the local filesystem" in caplog.text


def test_ivf_read_raises_on_stale_fingerprint(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    _write_corpus(spark, corpus)
    embs = spark.read.parquet(corpus)
    fp = source_fingerprint([corpus])
    index = similarity.build_fixed_ivf_index(embs, list(range(16)))
    at_rest = str(tmp_path / "ivf")
    similarity.write_ivf_index(
        index, at_rest, check_config=False, source_fingerprint=fp
    )
    index.assigned.unpersist()
    # matching fingerprint loads; missing expectation loads (opt-in check)
    assert similarity.read_ivf_index(spark, at_rest, expect_fingerprint=fp)
    assert similarity.read_ivf_index(spark, at_rest)
    time.sleep(0.05)
    _write_corpus(spark, corpus, shift=2.0)
    fp_new = source_fingerprint([corpus])
    with pytest.raises(ValueError, match="STALE"):
        similarity.read_ivf_index(spark, at_rest, expect_fingerprint=fp_new)


def test_lsh_read_raises_on_stale_fingerprint(spark, tmp_path):
    corpus = str(tmp_path / "corpus")
    _write_corpus(spark, corpus)
    embs = spark.read.parquet(corpus)
    fp = source_fingerprint([corpus])
    index = similarity.build_lsh_keys(embs)
    at_rest = str(tmp_path / "lsh")
    similarity.write_lsh_index(
        index, at_rest, check_config=False, source_fingerprint=fp
    )
    assert similarity.read_lsh_index(spark, at_rest, expect_fingerprint=fp)
    time.sleep(0.05)
    _write_corpus(spark, corpus, shift=2.0)
    fp_new = source_fingerprint([corpus])
    with pytest.raises(ValueError, match="STALE"):
        similarity.read_lsh_index(spark, at_rest, expect_fingerprint=fp_new)
