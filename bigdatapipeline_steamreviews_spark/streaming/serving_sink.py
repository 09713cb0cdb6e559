"""S6/A7 — the serving-side materialization: update-mode stream -> keyed
upsert store.

The reference does this with a Python KafkaConsumer thread mutating a
global pandas DataFrame (``/root/reference/visualizer.py:49-79``) — a
single-process, unsynchronized, RAM-bound store.  Spark-first replacement:
``foreachBatch`` applies each micro-batch as a keyed last-writer-wins merge
into a parquet serving table.  Properties the pandas version lacked:

* **idempotent per key** — replaying a batch (at-least-once delivery, T7)
  converges to the same table, because the merge keeps one row per key by
  (batch_seq, arrival order), exactly the reference's replace-else-append
  (visualizer.py:67-77) without the data race;
* **bounded memory** — the store is a parquet table, not process RAM;
* **queryable mid-stream** — readers see a consistent snapshot directory.

A refresh costs what its data needs, not what the session's batch
defaults would charge:

* **one wave of state tasks** — a streaming aggregate runs one state-store
  task per shuffle partition on every trigger, so the stream starts with
  ``spark.sql.shuffle.partitions`` = ``defaultParallelism`` (all cores in
  one wave).  Spark freezes that count into the checkpoint at its first
  start; a checkpoint created with another count keeps it.
* **adaptive merge** — Structured Streaming turns AQE off in the session
  it runs micro-batches in (``batch.sparkSession``), because AQE must not
  re-partition state (Spark 4.1's
  ``spark.sql.adaptive.streaming.stateless.enabled`` covers stateless
  queries only, not this aggregate).  The merge is a batch job over a
  materialized micro-batch and touches no state, so the batch function
  turns AQE back on for it alone: the union + ``row_number`` shuffle
  coalesces, and the table is written as files sized to its data, not
  one per shuffle partition.
* **known schema** — the existing table is read with the batch's schema,
  so no schema-inference job runs per refresh.

At 100 TB the same foreachBatch body targets a transactional table format
(Delta/Iceberg MERGE) partitioned by day, so each merge touches only the
partitions its keys live in; the logic here is the format-agnostic core.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import conf_scope
from .summarizer import replay_scope

__all__ = ["upsert_batch_writer", "materialize_stream_to_serving"]

AQE_CONF = "spark.sql.adaptive.enabled"


def _merge_upsert(existing: DataFrame | None, batch: DataFrame, keys: list[str]) -> DataFrame:
    """Last-writer-wins merge of a new batch over the existing table.

    Within a batch, later rows win (`__seq` from monotonically_increasing_id
    is ascending in batch order); across batches, the new batch wins over
    the existing table — the reference's replace-else-append semantics.
    """
    batch = batch.withColumn("__src", F.lit(1)).withColumn(
        "__seq", F.monotonically_increasing_id()
    )
    if existing is not None:
        existing = existing.withColumn("__src", F.lit(0)).withColumn(
            "__seq", F.lit(-1).cast("long")
        )
        batch = existing.unionByName(batch)
    w = Window.partitionBy(*keys).orderBy(F.col("__src").desc(), F.col("__seq").desc())
    return (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src", "__seq")
    )


def upsert_batch_writer(table_dir: str, keys: list[str]):
    """Build a foreachBatch function that merges each micro-batch into the
    parquet serving table at ``table_dir`` keyed by ``keys``.

    The merge runs with AQE on and the session's previous setting is
    restored after it, so a direct call leaves the caller's session as it
    found it."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        with conf_scope(spark, {AQE_CONF: "true"}):
            existing = None
            if os.path.exists(os.path.join(table_dir, "_SUCCESS")):
                existing = spark.read.schema(batch.schema).parquet(table_dir)
            merged = _merge_upsert(existing, batch, keys)
            # Stage-then-swap: parquet has no transactions, so write to a
            # side dir and atomically rename over the old table (Delta/
            # Iceberg MERGE replaces this dance in production).
            tmp = table_dir + ".staging"
            merged.write.mode("overwrite").parquet(tmp)
        final_tmp = table_dir + ".old"
        if os.path.exists(table_dir):
            os.rename(table_dir, final_tmp)
        os.rename(tmp, table_dir)
        if os.path.exists(final_tmp):
            shutil.rmtree(final_tmp)

    return write_batch


def materialize_stream_to_serving(
    result: DataFrame,
    table_dir: str,
    keys: list[str],
    checkpoint_dir: str | None = None,
):
    """Run an update-mode streaming aggregate into the parquet serving
    store via foreachBatch (availableNow; returns the finished query).

    Update mode emits only changed (window, key) rows per trigger
    (ref summarizer.py:107) — exactly what a keyed merge wants as input.

    The query runs inside ``replay_scope`` with ``defaultParallelism``
    state partitions and the deployment's state store, and the
    checkpoint follows the runner's rule: ``None`` means a temp dir
    removed afterwards; a dir the caller passes (to refresh again
    later) stays.  The table dir is always the caller's.
    """
    spark = result.sparkSession
    with replay_scope(
        spark, checkpoint_dir, spark.sparkContext.defaultParallelism
    ) as checkpoint:
        query = (
            result.writeStream.outputMode("update")
            .foreachBatch(upsert_batch_writer(table_dir, keys))
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return query
