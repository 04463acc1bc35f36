"""S7/S8: keyed upsert sinks, append-only-engine style.

The reference upserts row-by-row: SELECT then INSERT-or-UPDATE per
(coin_id, fetch_date) (load_data.py:66-102, crypto_app/db.py:113-133),
and maintains the monthly min/max aggregate with ON CONFLICT DO UPDATE
per touched month (db.py:150-197).

Spark re-design (SURVEY §2.1 S7/S8): writes are batch merges —
union(new, existing) → window-dedupe keeping the newest row per key →
atomic overwrite. Idempotent by construction (re-ingesting the same
(key, payload) converges to one row — ST2), deterministic via the
``created_at`` + tiebreak ordering (SURVEY §7 risk 5).

Scale notes: the dedupe is one shuffle on the key. At 100 TB you
partition the table (e.g. by month) and rewrite only partitions that
received new keys (dynamic partition overwrite) — the helper exposes
``partition_cols`` for exactly that; with
spark.sql.sources.partitionOverwriteMode=dynamic only touched
partitions rewrite.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T


def latest_per_key(df: DataFrame, keys: list[str], order_by: list[str]) -> DataFrame:
    """Last-write-wins: newest row per key by ``order_by`` DESC."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_by])
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def upsert_parquet(
    spark: SparkSession,
    new_rows: DataFrame,
    path: str,
    keys: list[str],
    order_by: list[str] = ("created_at",),
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Merge ``new_rows`` into the parquet table at ``path``.

    Equivalent to the reference's INSERT-or-UPDATE loop, as one shuffle:
    union existing+new, keep the newest row per key. Returns the merged
    frame (already written)."""
    if _exists(spark, path):
        existing = spark.read.parquet(path)
        merged = latest_per_key(existing.unionByName(new_rows), keys, list(order_by))
    else:
        merged = latest_per_key(new_rows, keys, list(order_by))
    # Overwrite-into-source needs a materialization barrier in plain
    # parquet (no snapshot isolation): stage then swap via a temp dir.
    # NOTE the swap itself is two non-atomic overwrites — a crash
    # between them can lose the live copy (the staging copy survives
    # for manual recovery). Production tables wanting a transactional
    # MERGE should sit behind a snapshot-isolated table format
    # (Delta/Iceberg/Hudi); this sink mirrors the reference's plain-
    # file semantics (load_data.py:66-102).
    tmp = path.rstrip("/") + "__staging"
    if partition_cols:
        merged.write.mode("overwrite").partitionBy(*partition_cols).parquet(tmp)
    else:
        merged.write.mode("overwrite").parquet(tmp)
    out = spark.read.parquet(tmp)
    writer2 = out.write.mode("overwrite")
    if partition_cols:
        writer2 = writer2.partitionBy(*partition_cols)
    writer2.parquet(path)
    _rmtree(spark, tmp)
    return spark.read.parquet(path)


def upsert_parquet_incremental(
    spark: SparkSession,
    new_rows: DataFrame,
    path: str,
    keys: list[str],
    order_by: list[str] = ("created_at",),
    partition_cols: list[str] = ("year", "month"),
) -> DataFrame:
    """The scale path of S7: merge ``new_rows`` rewriting ONLY the
    partitions that received new keys, via dynamic partition overwrite.

    At 100 TB a daily backfill touches a handful of partitions;
    ``upsert_parquet``'s full merge would rewrite the whole table.
    Here: (1) the touched partition values are collected (tiny by
    construction — it is the set of partitions in the DELTA), (2) only
    those partitions' existing rows are read back (the IN-filter prunes
    the scan to those directories), (3) the merged result is
    checkpointed (read-before-overwrite barrier), then written with
    ``partitionOverwriteMode=dynamic`` so untouched partition
    directories are never rewritten."""
    partition_cols = list(partition_cols)
    # the table holds this function's writes of new_rows' columns, laid
    # out data columns first, so every read-back names that schema and
    # no job infers a parquet footer
    fields = new_rows.schema.fields
    schema = T.StructType(
        [f for f in fields if f.name not in partition_cols]
        + [f for c in partition_cols for f in fields if f.name == c]
    )
    if not _exists(spark, path):
        merged = latest_per_key(new_rows, keys, list(order_by))
        merged.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
        return spark.read.schema(schema).parquet(path)

    touched = [tuple(r) for r in new_rows.select(*partition_cols).distinct().collect()]
    existing = spark.read.schema(schema).parquet(path)
    part_tuple = F.struct(*[F.col(c) for c in partition_cols])
    touched_lit = F.array(
        *[
            F.struct(*[F.lit(v).alias(c) for c, v in zip(partition_cols, t)])
            for t in touched
        ]
    )
    existing_touched = existing.where(F.array_contains(touched_lit, part_tuple))
    merged = latest_per_key(
        existing_touched.unionByName(new_rows), keys, list(order_by)
    ).localCheckpoint()  # materialize before overwriting what we read

    (
        merged.write.mode("overwrite")
        # the write option overrides the session conf, for this write only
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
    return spark.read.schema(schema).parquet(path)


def refresh_monthly_aggregate(
    spark: SparkSession,
    silver: DataFrame,
    path: str,
    entity: str = "coin_id",
    date: str = "fetch_date",
    value: str = "price_usd",
) -> DataFrame:
    """S8/A5: the gold monthly min/max table (db.py:150-197) as an
    idempotent full recompute + overwrite — the Spark-idiomatic
    replacement for per-insert ON CONFLICT upserts. Partitioned by
    (year, month) so a backfill-aware variant can rewrite only touched
    months."""
    gold = (
        silver.where(F.col(value).isNotNull())
        .groupBy(
            F.col(entity),
            F.year(date).cast("int").alias("year"),
            F.month(date).cast("int").alias("month"),
        )
        .agg(
            F.min(value).alias(f"min_{value}"),
            F.max(value).alias(f"max_{value}"),
        )
        .withColumn("updated_at", F.current_timestamp())
    )
    gold.write.mode("overwrite").partitionBy("year", "month").parquet(path)
    return spark.read.parquet(path)


def _exists(spark: SparkSession, path: str) -> bool:
    return os.path.exists(path) if "://" not in path else _hadoop_exists(spark, path)


def _hadoop_exists(spark: SparkSession, path: str) -> bool:
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


def _rmtree(spark: SparkSession, path: str) -> None:
    """Delete recursively via the Hadoop FileSystem API so object-store
    paths (s3a://, gs://, ...) are cleaned up, not just local dirs."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    if fs.exists(p):
        fs.delete(p, True)
