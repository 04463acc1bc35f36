"""SparkSession factory tuned for both local testing and cluster scale.

The reference (crypto_app/db.py:35-43) hand-manages psycopg2/SQLAlchemy
connections; our equivalent of "the connection" is the SparkSession.
Every config below is a public Apache Spark knob.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "crypto-data-pipeline-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Scale notes:
      * AQE on — runtime coalescing of small shuffle partitions and
        skew-join splitting; at 100 TB this is what keeps a static
        ``shuffle.partitions`` choice from being fatal.
      * ``shuffle.partitions`` defaults to the local core count for
        tests; on a real cluster set it ~2-3x total cores (or rely on
        AQE's coalescing from a high initial value).
      * Arrow on — every pandas_udf / applyInPandas transfer is
        batched columnar, not pickled rows.
      * UTC session timezone — parquet timestamps compare bit-identically
        with the DuckDB oracle.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "") or "*"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # the synthetic events table stores TIMESTAMP(NANOS) parquet,
        # which Spark rejects by default; read as long and convert in
        # the loader (truncation to micros matches DuckDB's behavior)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # round 13 (guide §1.2 step 3): a session that cycles through
        # many distinct queries (the bench runs 24, a real analytics
        # session runs more) overflows the 100-entry generated-class
        # cache, so every query's FIRST re-run after a full cycle pays
        # Janino recompilation of each of its codegen units (~0.1-0.5s
        # per unit of pure driver time). Generated classes are tens of
        # KB; 1000 entries is a few tens of MB of driver heap. Same
        # knob applies unchanged on a cluster (driver-side cache).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # round 13: stale broadcasts/accumulators are only reclaimed
        # when a driver GC runs; long many-query sessions on a big
        # driver heap can go the default 30 min without one, letting
        # executor-side broadcast blocks pile up (observed as late-run
        # slowdown across a 100+-execution bench session). 5 min keeps
        # the cleaner live at negligible cost.
        .config("spark.cleaner.periodicGC.interval", "5min")
        # local[_] has no external shuffle service; keep shuffle spill local
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/tmp"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
