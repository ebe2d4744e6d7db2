"""E3 flush lifecycle: staging UNION table -> keep-last -> one atomic
rewrite -> truncate staging."""

from __future__ import annotations

import hashlib
import os

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from youtube_etl_automated_pipeline_spark import sinks
from youtube_etl_automated_pipeline_spark.sources import load_table


def test_flush_lifecycle(spark, tmp_path):
    staging = str(tmp_path / "staging")
    table = str(tmp_path / "table")

    cust = load_table(spark, SF_SMOKE, "customer").limit(100)
    batch1 = cust.withColumn("_seq", F.lit(1))
    batch1.write.parquet(staging)

    sinks.flush(spark, staging, table, key="c_custkey", order_col="_seq")
    assert spark.read.parquet(table).count() == 100
    # staging truncated, schema preserved
    st = spark.read.parquet(staging)
    assert st.count() == 0
    assert set(st.columns) == set(batch1.columns)

    # second flush with overlapping keys: keep-last wins
    batch2 = cust.limit(40).withColumn("_seq", F.lit(2)).withColumn(
        "c_name", F.lit("UPDATED")
    )
    sinks.overwrite_table(batch2, staging)
    sinks.flush(spark, staging, table, key="c_custkey", order_col="_seq")

    out = spark.read.parquet(table)
    assert out.count() == 100
    assert out.select("c_custkey").distinct().count() == 100
    assert out.filter(F.col("c_name") == "UPDATED").count() == 40

    # empty staging short-circuits (P9): table untouched
    sinks.flush(spark, staging, table, key="c_custkey", order_col="_seq")
    assert spark.read.parquet(table).count() == 100


def _dir_digest(path):
    """Every file under ``path`` with a hash of its bytes."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            full = os.path.join(d, f)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _keyed_frame(spark, n, seq, value):
    return spark.range(n).select(
        F.col("id").alias("k"), F.lit(seq).alias("_seq"), F.lit(value).alias("v")
    )


def test_first_flush_creates_missing_table(spark, tmp_path):
    staging = str(tmp_path / "staging")
    table = str(tmp_path / "table")
    # staging carries duplicate keys: the first flush dedups them too
    _keyed_frame(spark, 30, 1, "old").unionByName(_keyed_frame(spark, 10, 2, "new")).write.parquet(
        staging
    )
    assert not os.path.exists(table)

    sinks.flush(spark, staging, table, key="k", order_col="_seq")

    out = spark.read.parquet(table)
    assert out.count() == 30
    assert out.filter(F.col("v") == "new").count() == 10
    assert spark.read.parquet(staging).count() == 0
    assert not os.path.exists(table + ".inprogress")


def test_flush_without_order_col_keeps_one_row_per_key(spark, tmp_path):
    staging = str(tmp_path / "staging")
    table = str(tmp_path / "table")
    _keyed_frame(spark, 20, 1, "a").write.parquet(staging)
    sinks.flush(spark, staging, table, key="k", order_col=None)
    sinks.overwrite_table(_keyed_frame(spark, 25, 2, "b"), staging)
    sinks.flush(spark, staging, table, key="k", order_col=None)

    out = spark.read.parquet(table)
    assert out.count() == 25
    assert out.select("k").distinct().count() == 25


def test_failed_flush_leaves_table_and_staging_unchanged(spark, tmp_path):
    """Staging whose key type cannot be read from the table's files:
    the flush raises, the table's bytes are untouched and staging still
    holds its rows (truncation runs only after a successful swap)."""
    staging = str(tmp_path / "staging")
    table = str(tmp_path / "table")
    _keyed_frame(spark, 20, 1, "a").write.parquet(staging)
    sinks.flush(spark, staging, table, key="k", order_col="_seq")
    before = _dir_digest(table)

    bad = _keyed_frame(spark, 5, 2, "b").withColumn("k", F.array(F.col("k")))
    sinks.overwrite_table(bad, staging)
    with pytest.raises(Py4JJavaError):
        sinks.flush(spark, staging, table, key="k", order_col="_seq")

    assert _dir_digest(table) == before
    assert spark.read.parquet(staging).count() == 5


def test_flush_runs_at_most_four_spark_jobs(spark, tmp_path):
    """One flush: the isEmpty probe, the single union-dedup rewrite
    (shuffle + write) and the staging truncate's empty write. Schemas
    come from file footers, not inference jobs. The former
    append-then-rewrite flow ran 8."""
    staging = str(tmp_path / "staging")
    table = str(tmp_path / "table")
    _keyed_frame(spark, 50, 1, "a").write.parquet(staging)
    sinks.flush(spark, staging, table, key="k", order_col="_seq")
    _keyed_frame(spark, 20, 2, "b").write.mode("overwrite").parquet(staging)

    sc = spark.sparkContext
    group = "test_flush_job_count"
    sc.setJobGroup(group, "one flush")
    try:
        sinks.flush(spark, staging, table, key="k", order_col="_seq")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 4
    assert spark.read.parquet(table).filter(F.col("v") == "b").count() == 20


def test_footer_schema_read_matches_inference(spark, tmp_path):
    """The sinks read Spark-written tables with the schema from a file
    footer; it must be the schema Spark's own inference returns."""
    path = str(tmp_path / "typed")
    spark.sql(
        "SELECT CAST(id AS INT) AS i, CAST(id AS DECIMAL(12, 2)) AS d, "
        "TIMESTAMP'2024-01-02 03:04:05' AS ts, DATE'2024-01-02' AS dt, "
        "named_struct('a', id, 'b', array(CAST(id AS STRING))) AS s, "
        "map('k', 1.5D) AS m FROM range(3)"
    ).write.parquet(path)
    inferred = spark.read.parquet(path)
    read = sinks._read_parquet(spark, path)
    assert read.schema == inferred.schema
    assert sorted(read.collect()) == sorted(inferred.collect())


def test_approx_distinct_error_envelope(spark):
    from youtube_etl_automated_pipeline_spark.plans.queries_sql import (
        approx_distinct_customers,
    )

    for r in approx_distinct_customers(spark, SF_SMOKE).collect():
        assert abs(r["approx_custs"] - r["exact_custs"]) <= max(
            0.05 * r["exact_custs"], 2
        )


def test_full_dag_pipeline_to_warehouse(spark, tmp_path):
    """The reference's complete DAG including task 7: wide-fact chain
    (E1) -> all-string sanitized sink projection (F8/F9) -> staging ->
    warehouse flush with window dedup (E3). One row per video_id
    survives; re-flushing restated data overwrites keep-last."""
    from youtube_etl_automated_pipeline_spark.pipeline import to_sink_projection
    from youtube_etl_automated_pipeline_spark.plans.queries_pipeline import (
        pipeline_e2e,
    )

    staging = str(tmp_path / "staging")
    warehouse = str(tmp_path / "warehouse")

    wide = pipeline_e2e(spark, SF_SMOKE)
    sinkable = to_sink_projection(wide).withColumn("_seq", F.lit(1))
    # every column stringly-typed with warehouse-safe names (F8/F9)
    for f in sinkable.schema.fields:
        if f.name != "_seq":
            assert f.dataType.simpleString() == "string"
            assert all(c.isalnum() or c == "_" for c in f.name), f.name

    sinkable.write.parquet(staging)
    sinks.flush(spark, staging, warehouse, key="video_id", order_col="_seq")

    wh = spark.read.parquet(warehouse)
    n = wide.count()
    assert wh.count() == n
    assert wh.select("video_id").distinct().count() == n

    # restated re-flush: 10 videos restated -> keep-last wins, count stable
    restated = (
        spark.read.parquet(warehouse)
        .limit(10)
        .withColumn("title", F.lit("RESTATED"))
        .withColumn("_seq", F.lit(2))
    )
    sinks.overwrite_table(restated, staging)
    sinks.flush(spark, staging, warehouse, key="video_id", order_col="_seq")
    wh2 = spark.read.parquet(warehouse)
    assert wh2.count() == n
    assert wh2.filter(F.col("title") == "RESTATED").count() == 10


def test_snapshot_time_travel(spark, tmp_path):
    """Versioned snapshot writes: atomic pointer swap, as-of reads,
    vacuum retains the current version."""
    table = str(tmp_path / "versioned")
    cust = load_table(spark, SF_SMOKE, "customer").limit(50)

    v1 = sinks.write_snapshot(cust, table)
    v2 = sinks.write_snapshot(cust.withColumn("c_name", F.lit("V2")), table)
    v3 = sinks.write_snapshot(cust.limit(10), table)
    assert (v1, v2, v3) == (1, 2, 3)

    assert sinks.current_snapshot_version(table) == 3
    assert sinks.read_snapshot(spark, table).count() == 10
    # time travel
    assert sinks.read_snapshot(spark, table, version=1).count() == 50
    v2_df = sinks.read_snapshot(spark, table, version=2)
    assert v2_df.filter(F.col("c_name") == "V2").count() == 50

    removed = sinks.vacuum_snapshots(table, keep=2)
    assert removed == [1]
    assert sinks.snapshot_versions(table) == [2, 3]
    assert sinks.read_snapshot(spark, table).count() == 10


def test_aggstate_partials_idempotent_and_compact(spark, tmp_path):
    """Log-structured incremental aggregates: a re-applied batch (the
    foreachBatch retry case) cannot double-count; compaction preserves
    the view."""
    from pyspark.sql import functions as SF

    from youtube_etl_automated_pipeline_spark.streaming import aggstate

    state = str(tmp_path / "aggstate")
    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "event_type", "value")
    measures = {"n_events": SF.count(SF.lit(1)), "sum_ids": SF.sum("event_id")}

    b0 = ev.filter(SF.col("event_id") % 2 == 0)
    b1 = ev.filter(SF.col("event_id") % 2 == 1)
    aggstate.write_batch_partials(b0, state, 0, ["event_type"], measures)
    aggstate.write_batch_partials(b1, state, 1, ["event_type"], measures)
    # retry of batch 1: same directory overwritten, no double count
    aggstate.write_batch_partials(b1, state, 1, ["event_type"], measures)

    expected = {
        (r["event_type"], r["n_events"], r["sum_ids"])
        for r in ev.groupBy("event_type")
        .agg(measures["n_events"].alias("n_events"), measures["sum_ids"].alias("sum_ids"))
        .collect()
    }
    view = {
        (r["event_type"], r["n_events"], r["sum_ids"])
        for r in aggstate.read_view(spark, state, ["event_type"]).collect()
    }
    assert view == expected

    aggstate.compact(spark, state, ["event_type"])
    import os

    assert os.path.isdir(os.path.join(state, "base"))
    assert not any(d.startswith("batch=") for d in os.listdir(state))
    after = {
        (r["event_type"], r["n_events"], r["sum_ids"])
        for r in aggstate.read_view(spark, state, ["event_type"]).collect()
    }
    assert after == expected


def test_compact_table_reduces_files_preserves_content(spark, tmp_path):
    """Compaction glues small files into target-sized ones without
    changing a single row (content checked via an order-insensitive
    aggregate fingerprint)."""
    import os

    path = str(tmp_path / "frag")
    ev = load_table(spark, SF_SMOKE, "events")
    ev.repartition(64).write.parquet(path)
    n_small = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_small >= 32

    def fingerprint(df):
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.hash("event_id", "user_id", "event_type")).alias("h"),
        ).first()

    before = fingerprint(spark.read.parquet(path))
    n_before, n_after = sinks.compact_table(spark, path, target_file_bytes=1 << 30)
    assert n_before == n_small
    assert n_after == 1
    after = fingerprint(spark.read.parquet(path))
    assert (before.n, before.h) == (after.n, after.h)


def test_dynamic_partition_overwrite_touches_only_written_partitions(spark, tmp_path):
    """Re-writing one event_type partition leaves the others intact;
    static overwrite would have truncated them."""
    path = str(tmp_path / "parts")
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    ev.write.partitionBy("event_type").parquet(path)
    total = spark.read.parquet(path).count()
    n_click = spark.read.parquet(path).filter(F.col("event_type") == "click").count()
    assert 0 < n_click < total

    patched = (
        ev.filter(F.col("event_type") == "click")
        .limit(10)
        .withColumn("value", F.lit(-1.0))
    )
    sinks.overwrite_partitions(patched, path, "event_type")

    out = spark.read.parquet(path)
    assert out.filter(F.col("event_type") == "click").count() == 10
    assert out.filter(F.col("event_type") != "click").count() == total - n_click
    # conf restored
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        != "dynamic"
    )


def test_approx_percentile_error_envelope(spark):
    """percentile_approx(accuracy=1000) guarantees RANK error — the
    returned value must be an actual value whose rank lies within eps
    of the target. Assert each approx quantile falls inside the exact
    value window [percentile(q - m), percentile(q + m)] (margin m =
    0.005 rank, 5x the sketch's nominal eps — sparse tails can move
    values a lot per rank, so value tolerance would be meaningless)."""
    from youtube_etl_automated_pipeline_spark.plans.queries_olap import (
        approx_percentile_stats,
    )
    from youtube_etl_automated_pipeline_spark.sources import load_table

    approx = {
        r.event_type: r for r in approx_percentile_stats(spark, SF_SMOKE).collect()
    }
    m = 0.005
    windows = {
        r.event_type: r
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(
            *[
                F.expr(f"percentile(value, {q - m})").alias(f"lo_{tag}")
                for tag, q in (("p50", 0.5), ("p95", 0.95), ("p99", 0.99))
            ],
            *[
                F.expr(f"percentile(value, {min(q + m, 1.0)})").alias(f"hi_{tag}")
                for tag, q in (("p50", 0.5), ("p95", 0.95), ("p99", 0.99))
            ],
        )
        .collect()
    }
    assert set(approx) == set(windows)
    for et, a in approx.items():
        w = windows[et]
        for tag, val in (
            ("p50", a.p50_approx),
            ("p95", a.p95_approx),
            ("p99", a.p99_approx),
        ):
            assert w[f"lo_{tag}"] <= val <= w[f"hi_{tag}"], (et, tag, val)
