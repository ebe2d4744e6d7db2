"""Sinks (SURVEY.md section 2.2 K1-K5) and the E3 flush lifecycle.

The reference's durable-sink flow (ingestdatainbigquery.py:49-136):
append the staging frame into BigQuery (WRITE_APPEND / WRITE_EMPTY by
table existence, :53-76), window-dedup the table with ROW_NUMBER SQL
and swap it in place (:84-96), then truncate staging keeping the
header (:103-112). Re-expressed over parquet table directories:

- K1  overwrite_table   - write to a temp dir, then swap it in; the one
                          table-swap implementation every rewrite uses
- K4  append_table      - mode('append') / create on first write (the
                          staging write)
- A6  dedup_table_swap  - the ROW_NUMBER dedup (keep_last) over the
                          table, or over table UNION incoming staging
                          rows, rewritten once through overwrite_table
- K5  truncate_staging  - overwrite with the empty (limit 0) frame,
                          schema preserved
- E3  flush             - staging UNION table -> keep-last -> one
                          atomic rewrite, then truncate staging

Scale notes: the flush is one plan: staging and the table are unioned
and deduped together (one shuffle on the key; window, not
dropDuplicates — SURVEY section 4 note on keep-last) and written once.
Staged rows are not first appended into the table and then rewritten,
so each flush writes the table once plus the empty staging. The swap
keeps readers consistent (a table format with MERGE — Delta/Iceberg —
replaces the swap at production scale).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from youtube_etl_automated_pipeline_spark.operators.dedup import keep_last


# footer key under which Spark's parquet writer stores the exact schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` for a table written by Spark, minus
    the schema-inference job: the schema Spark would infer is the one
    it stored in each file's footer, read here on the driver. Tables
    without that footer key fall back to inference."""
    import pyarrow.parquet as pq

    names = os.listdir(path) if os.path.isdir(path) else []
    files = sorted(f for f in names if f.endswith(".parquet") and not f.startswith(("_", ".")))
    meta = pq.read_metadata(os.path.join(path, files[0])).metadata if files else None
    if not meta or _SPARK_SCHEMA_KEY not in meta:
        return spark.read.parquet(path)
    schema = StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
    return spark.read.schema(schema).parquet(path)


def append_table(df: DataFrame, path: str) -> None:
    """K4: existence-dependent append (the reference probes the table
    to pick WRITE_APPEND vs WRITE_EMPTY, ingestdatainbigquery.py:53-57;
    parquet's append mode subsumes both)."""
    df.write.mode("append").parquet(path)


def overwrite_table(df: DataFrame, path: str) -> None:
    """K1: full overwrite (clear + rewrite, dataingestion1.py:173-174).
    Routed through a temp dir so a failure mid-write never leaves a
    half-table (the reference's clear()-then-write has that hole).
    ``df`` may read ``path`` itself: the write completes before the
    old directory is removed."""
    tmp = path + ".inprogress"
    df.write.mode("overwrite").parquet(tmp)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.replace(tmp, path)


def dedup_table_swap(
    spark: SparkSession,
    path: str,
    key: str = "video_id",
    order_col: str | None = None,
    *,
    incoming: DataFrame | None = None,
) -> None:
    """A6/W1: the reference's BigQuery dedup
    (``ROW_NUMBER() OVER (PARTITION BY video_id ORDER BY ...) ...
    WHERE row_num = 1`` + table swap, ingestdatainbigquery.py:84-96).

    The reference orders by CURRENT_TIMESTAMP() — a constant, i.e.
    arbitrary-row-per-key. We demand a real ``order_col`` for
    determinism (keep-last); pass None to reproduce the reference's
    arbitrary pick (dropDuplicates).

    ``incoming`` rows (the flush's staging) are deduped together with
    the table in the same pass, so they are written once, not appended
    and then rewritten. The table is read with ``incoming``'s schema
    (no schema-inference job; ``incoming`` defines the table's columns)
    and may be missing (first flush). A failure leaves the table as it
    was.
    """
    if incoming is None:
        table = _read_parquet(spark, path)
    elif os.path.exists(path):
        table = spark.read.schema(incoming.schema).parquet(path).unionByName(incoming)
    else:
        table = incoming
    if order_col is None:
        deduped = table.dropDuplicates([key])
    else:
        deduped = keep_last(table, [key], [order_col])
    overwrite_table(deduped, path)


def truncate_staging(spark: SparkSession, path: str) -> None:
    """K5: clear the staging table but keep its schema (the reference
    re-appends the header row after clear(), :103-112)."""
    schema_keeper = _read_parquet(spark, path).limit(0)
    overwrite_table(schema_keeper, path)


def flush(
    spark: SparkSession,
    staging_path: str,
    table_path: str,
    key: str = "video_id",
    order_col: str | None = None,
) -> None:
    """E3: staging UNION durable table -> window dedup -> one atomic
    rewrite -> staging truncate (ingestdatainbigquery.py:115-136; the
    reference's append + dedup-swap become one pass). Empty staging
    short-circuits (P9, :119-121). Staging is truncated only after the
    swap, so a failed flush leaves both tables as they were."""
    staging = _read_parquet(spark, staging_path)
    if staging.isEmpty():
        return
    dedup_table_swap(spark, table_path, key, order_col, incoming=staging)
    truncate_staging(spark, staging_path)


def write_snapshot(df: DataFrame, table_dir: str) -> int:
    """Versioned snapshot write (time travel): every write lands in a
    fresh ``v<N>`` directory and a ``_CURRENT`` pointer file is swapped
    atomically (write-temp + os.replace) — readers never see a partial
    table, historical versions stay readable until vacuumed, and a
    crashed write leaves at most an orphaned version dir, never a
    corrupt pointer. The poor-man's Delta/Iceberg commit protocol; on
    a real cluster the pointer swap becomes the table format's
    metadata commit, semantics identical. Returns the new version."""
    os.makedirs(table_dir, exist_ok=True)
    version = max(snapshot_versions(table_dir), default=0) + 1
    vdir = os.path.join(table_dir, f"v{version}")
    df.write.mode("overwrite").parquet(vdir)
    tmp = os.path.join(table_dir, "_CURRENT.tmp")
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, os.path.join(table_dir, "_CURRENT"))
    return version


def snapshot_versions(table_dir: str) -> list[int]:
    if not os.path.isdir(table_dir):
        return []
    return sorted(
        int(d[1:])
        for d in os.listdir(table_dir)
        if d.startswith("v") and d[1:].isdigit()
    )


def current_snapshot_version(table_dir: str) -> int:
    with open(os.path.join(table_dir, "_CURRENT")) as f:
        return int(f.read().strip())


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the current snapshot, or time-travel to ``version``."""
    v = current_snapshot_version(table_dir) if version is None else version
    return spark.read.parquet(os.path.join(table_dir, f"v{v}"))


def vacuum_snapshots(table_dir: str, keep: int = 2) -> list[int]:
    """Drop all but the newest ``keep`` versions (the current version
    is always retained). Returns the versions removed."""
    current = current_snapshot_version(table_dir)
    versions = snapshot_versions(table_dir)
    doomed = [v for v in versions[:-keep] if v != current] if keep > 0 else []
    for v in doomed:
        shutil.rmtree(os.path.join(table_dir, f"v{v}"))
    return doomed


def compact_table(
    spark: SparkSession, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> tuple[int, int]:
    """Small-file compaction: rewrite the table into files sized near
    ``target_file_bytes``, atomically swapped in.

    The 100 TB operational story: streaming/incremental appends leave
    thousands of KB-scale files per partition; every later scan pays
    per-file open/footer costs and the driver pays listing. Periodic
    compaction restores scan efficiency. The rewrite uses coalesce()
    (narrow, no shuffle — it only glues existing partitions), so the
    cost is one read+write pass of the data. On a cluster with a
    clustered table, swap coalesce for repartitionByRange(sort_key) to
    restore clustering at the same time (one shuffle, still one pass).

    Returns (files_before, files_after).
    """
    files_before = [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") or f.endswith(".snappy.parquet")
    ]
    total_bytes = sum(os.path.getsize(f) for f in files_before)
    n_out = max(1, -(-total_bytes // target_file_bytes))  # ceil div
    overwrite_table(_read_parquet(spark, path).coalesce(int(n_out)), path)
    files_after = [f for f in os.listdir(path) if f.endswith(".parquet")]
    return len(files_before), len(files_after)


def overwrite_partitions(df: DataFrame, path: str, partition_col: str) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present
    in ``df``, leaving all other partitions of the table untouched —
    the idempotent-backfill primitive (re-running a day's job rewrites
    that day, never truncating the table, unlike static overwrite
    which would drop every other partition).

    Scale note: each task writes only its partition's files; the
    commit replaces matching partition dirs. Combined with partition
    pruning on reads this is the standard date-partitioned-fact
    maintenance loop.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def write_bucketed(
    df: DataFrame, table: str, key: str, n_buckets: int = 8
) -> None:
    """Bucketed managed table (hash-bucketed + sorted by the join
    key). Two tables bucketed the same way join with NO shuffle on
    either side — the 100 TB co-located-join strategy (the shuffle is
    paid once at write time, amortized over every later join).
    Verified by tests/test_bucketing.py."""
    spark = df.sparkSession
    if not spark.catalog.tableExists(table):
        # the in-memory catalog forgets tables across sessions but the
        # warehouse directory persists; clear an orphaned location
        loc = os.path.join(
            spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"), table
        )
        if os.path.exists(loc):
            shutil.rmtree(loc)
    (
        df.write.bucketBy(n_buckets, key)
        .sortBy(key)
        .mode("overwrite")
        .saveAsTable(table)
    )
