"""The corpus fingerprint the serve store checks on every hit; that a
changed fingerprint rebuilds each entry is in test_serve_store.py."""

from __future__ import annotations

import os
import time

from crypto_data_pipeline_spark.observability import source_fingerprint


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
