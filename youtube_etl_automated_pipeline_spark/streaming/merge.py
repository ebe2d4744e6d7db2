"""Streaming CDC MERGE: a foreachBatch-driven keyed MERGE (update /
insert / delete ops) against a parquet state table, the incremental
upsert (streaming/incremental.py foreach_batch_upsert — K3/E3) grown
to full MERGE semantics.

Semantics — CDC compaction with tombstone retention:

- every op row carries a globally unique ``seq`` per key; the state
  after any prefix of batches is keep-last-by-seq over
  (base snapshot ∪ ops so far);
- DELETE rows are kept as TOMBSTONES in the state table and filtered
  only at read time: if a delete's seq outranks a late-arriving
  lower-seq update from a later micro-batch, dropping the tombstone
  would resurrect the key. Tombstone retention makes the merge
  ASSOCIATIVE — the final state is independent of how ops are split
  into micro-batches, which is also what makes a batch RETRY (Spark
  re-running foreachBatch after a failure) a no-op: re-merging the
  same (key, seq) rows cannot change the keep-last outcome.

Scale notes: each batch costs one shuffle on the key (the keep-last
window) plus a state-table rewrite; at real scale the state table is
partitioned by key range so a batch rewrites only touched partitions,
or lands in a MERGE-capable v2 table format — semantics identical.
The atomic temp-dir swap (``sinks.overwrite_table``) means a crashed batch
never corrupts state (reference parity: the staging-merge-flush cycle
of ingestdatainbigquery.py:103-136, with deletes added).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.operators.dedup import keep_last
from youtube_etl_automated_pipeline_spark.sinks import overwrite_table
from youtube_etl_automated_pipeline_spark.streaming.incremental import (
    record_batch_plan,
    record_stream_plan,
)

CDC_SCHEMA = "key bigint, price_cents bigint, op string, seq bigint"


def merge_batch(state_df: DataFrame, batch_df: DataFrame) -> DataFrame:
    """One MERGE step: keep-last-by-seq over state ∪ batch, tombstones
    retained. Associative and idempotent in the batch."""
    return keep_last(state_df.unionByName(batch_df), ["key"], ["seq"])


def read_state(spark: SparkSession, state_dir: str) -> DataFrame:
    if os.path.exists(os.path.join(state_dir, "_SUCCESS")):
        return spark.read.parquet(state_dir)
    return spark.createDataFrame([], CDC_SCHEMA)


def live_rows(state: DataFrame) -> DataFrame:
    """Read-time view: tombstones filtered out."""
    return state.filter(F.col("op") != "D")


def foreach_batch_merge(state_dir: str):
    """foreachBatch sink applying merge_batch with an atomic swap."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        state = read_state(spark, state_dir)
        new_state = merge_batch(state, batch_df)
        record_batch_plan("cdc_merge_batch", new_state)
        overwrite_table(new_state, state_dir)

    return _apply


def run_cdc_merge_stream(
    spark: SparkSession, src_dir: str, state_dir: str, checkpoint_dir: str
) -> None:
    """Drive the CDC file stream through the MERGE sink, one file per
    micro-batch, to completion."""
    stream = (
        spark.readStream.schema(CDC_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    from youtube_etl_automated_pipeline_spark.streaming.incremental import (
        stream_state_partitions,
    )

    with stream_state_partitions(stream.sparkSession):
        query = (
            stream.writeStream.foreachBatch(foreach_batch_merge(state_dir))
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        record_stream_plan("cdc_merge_stream", query)
