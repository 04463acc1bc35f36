"""Parquet table loaders for the driver's synthetic star schema.

Replaces the reference's JDBC/SQL table scan (S4,
notebooks/EDA.ipynb:396-408): instead of pushing filters into SQL text
by hand, we return lazy DataFrames and let Catalyst push predicates and
prune columns into the parquet scan (visible as PushedFilters /
ReadSchema in ``df.explain("formatted")``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from crypto_data_pipeline_spark import serve_store

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions that should always broadcast in joins (region is 5
# rows, nation 25 — at any scale factor these stay tiny).
BROADCAST_DIMS = frozenset({"region", "nation"})


# Columns stored as TIMESTAMP(NANOS) in parquet. With
# spark.sql.legacy.parquet.nanosAsLong they surface as long nanoseconds;
# we truncate to microsecond timestamps (integer div — the values exceed
# 2^53, so float division would corrupt them), matching DuckDB's ns→us
# truncation so both engines see identical instants.
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}

# The parquet read confs the inferred schema depends on: the same file
# infers another schema under another setting of any of them.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)


def _pin_read_confs(spark: SparkSession) -> None:
    """Set the two session confs correctness depends on — the caller
    may hand us a bare session, built without our factory:
    nanosAsLong, without which the TIMESTAMP(NANOS) events scan throws
    PARQUET_TYPE_ILLEGAL, and a UTC session zone so CAST(ts AS DATE)
    agrees with the timezone-naive DuckDB oracle. Both are
    runtime-settable SQL confs."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _file_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """The schema Spark infers from the parquet footers of table
    ``name`` under the session's current ``_SCHEMA_CONFS``.

    Inference runs a Spark job, so its result is kept in the serve
    store's ``schema:{name}`` entry, whose value maps the tuple of those
    conf values to the schema inferred under them. A rewritten table
    file is a store miss (the fingerprint moved), a changed conf infers
    again, and a repeat load launches no job."""
    confs = tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)
    by_conf = serve_store.serve(spark, sf_dir, f"schema:{name}", (name,), lambda _tmp: {})
    schema = by_conf.get(confs)
    if schema is None:  # two threads that miss together store equal schemas
        schema = by_conf[confs] = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
    return schema


def _normalize_timestamps(df: DataFrame, name: str, schema: T.StructType) -> DataFrame:
    """Turn the timestamp encodings of ``schema`` into TIMESTAMP columns."""
    for field in schema.fields:
        if field.name in _NANO_TS_COLS.get(name, ()) and isinstance(field.dataType, T.LongType):
            df = df.withColumn(field.name, F.expr(f"timestamp_micros({field.name} div 1000)"))
        elif isinstance(field.dataType, T.TimestampNTZType):
            # Parquet TIMESTAMP(isAdjustedToUTC=false) surfaces as
            # TIMESTAMP_NTZ, which unix_micros()/date_trunc interop
            # rejects. Under the UTC session zone pinned by
            # _pin_read_confs, casting to TIMESTAMP is
            # wall-clock-identity, so every downstream extraction still
            # agrees with the timezone-naive DuckDB oracle.
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one synthetic table, read with the schema
    the serve store's ``schema:{name}`` entry holds (``_file_schema``)
    instead of one inferred from the footers on every call."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    _pin_read_confs(spark)
    schema = _file_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")
    return _normalize_timestamps(df, name, schema)


def load_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``load_table(..., "events")``: a readStream
    over the same parquet file with ``ts`` normalized to TIMESTAMP.

    Streaming sources need an explicit schema, and the testdata's
    physical ts encoding has two observed generations — TIMESTAMP(NANOS)
    (surfaces as long under nanosAsLong) and TIMESTAMP(MICROS,
    isAdjustedToUTC=false) (surfaces as TIMESTAMP_NTZ) — so the stream
    takes the batch loader's footer schema and conversions, keeping
    both generations bit-identical to the batch loader."""
    _pin_read_confs(spark)
    schema = _file_schema(spark, sf_dir, "events")
    stream = (
        spark.readStream.schema(schema)
        # glob → the parent dir becomes basePath, single-file stream
        .parquet(f"{sf_dir}/events.[p]arquet")
    )
    return _normalize_timestamps(stream, "events", schema)


def fan_out(df: DataFrame, factor: int = 1) -> DataFrame:
    """Repartition up to cluster parallelism when the scan is
    under-partitioned, so CPU-bound per-row work (hashing, signatures,
    Arrow UDFs) uses every core instead of inheriting one-file-one-task
    from a small input. A no-op at real scale — any multi-split source
    already exceeds ``defaultParallelism``, so the guard skips the
    shuffle and the plan is unchanged."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def release_checkpoint(df: DataFrame) -> None:
    """Unpersist the blocks behind ``df = x.localCheckpoint()`` once no
    frame that reads them runs again: ``DataFrame.unpersist`` only
    uncaches a ``persist``ed frame, and a checkpoint's blocks are
    otherwise freed only when the JVM collects its RDD."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def literal_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Small literal DataFrame built as a JVM array-of-structs explode
    instead of ``createDataFrame`` over Python rows (round 13, guide
    §4.1): the Python-list form plans a Python-backed ``Scan
    ExistingRDD``, so every action over it — including each broadcast
    build that consumes it — spawns a Python-worker wave, measured at
    1-7 CPU-s per call for frames of a few dozen rows. Same rows, same
    ``schema`` DDL types (NULLs ride as typed null literals). For
    driver-side scalars/dims only — rows are inlined into the plan."""
    from pyspark.sql.types import StructType

    st = StructType.fromDDL(schema)
    if not rows:
        return spark.createDataFrame([], st)
    entries = F.array(
        *[
            F.struct(
                *[
                    F.lit(v).cast(f.dataType).alias(f.name)
                    for v, f in zip(row, st.fields)
                ]
            )
            for row in rows
        ]
    )
    return spark.range(1).select(F.explode(entries).alias("_r")).select("_r.*")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works.

    Mirrors the reference's catalog introspection surface (S9,
    notebooks/EDA.ipynb cell 7): after this,
    ``spark.catalog.listTables()`` / ``DESCRIBE`` answer the same
    questions information_schema did.
    """
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
