"""The streaming summarizer — the reference engine's core
(``/root/reference/summarizer.py``), as a parameterized Structured
Streaming pipeline.

Design: the aggregation logic is the SAME DataFrame transformation used in
batch (``operators.aggregations.daily_summary`` / ``review_daily_summary``)
— Structured Streaming incrementalizes the identical logical plan
(StateStoreRestore -> partial agg -> StateStoreSave per micro-batch,
SURVEY.md §3.1 step 4).  One query, two runtimes; no forked semantics.

Watermarking (SURVEY.md §2.6 T3): the reference sets NO watermark, so every
window stays open forever and any late row re-emits its day's aggregate —
faithful-mode here, and the property our replay tests assert (final state
== batch groupBy).  At 100 TB of stream state that is an anti-pattern, so
``watermark=`` bounds state; with it, append-mode emits each window once,
closed and final.

Checkpointing (T6): every start() takes a checkpoint dir — the
fault-tolerance unit (offsets WAL + state store), exactly as the reference
pins ``/tmp/spark_checkpoint_sentiment`` (summarizer.py:110).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.aggregations import daily_summary
from ..schemas import EVENT_SCHEMA
from ..session import conf_scope

__all__ = [
    "events_file_stream",
    "streaming_daily_summary",
    "run_to_memory_table",
    "replay_scope",
    "stage_events_for_replay",
    "state_store_confs",
]

# File-stream schema for STAGED events: stage_events_for_replay always
# writes ts as epoch-micros int64 (whatever the source parquet's physical
# timestamp encoding), so the streaming schema never drifts with testdata.
_EVENTS_STAGED_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.LongType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def stage_events_for_replay(
    spark: SparkSession, sf_dir: str, out_dir: str, chunks: int = 4
) -> str:
    """Split the events table into ``chunks`` time-range files with strictly
    increasing modification times.

    The file stream source replays files in mtime order; writing all chunks
    in one job gives them identical mtimes and an arbitrary replay order,
    which makes whole chunks late under a watermark.  Sequential writes
    (one commit per range, with a small mtime gap) guarantee replay order
    == event-time order — what a real in-order source (Kafka per-partition)
    provides.
    """
    import time

    from ..session import ensure_parity_conf
    from ..sources.tables import event_ts_micros

    ensure_parity_conf(spark)
    # Normalize ts to epoch-micros long at staging time: approxQuantile needs
    # a numeric column, and the staged wire format stays stable no matter how
    # the source parquet encodes timestamps (nanos-long, micros, NTZ).
    raw = event_ts_micros(spark.read.parquet(f"{sf_dir}/events.parquet"))
    qs = raw.approxQuantile("ts", [i / chunks for i in range(1, chunks)], 0.0)
    # An EMPTY (or single-value) events table yields fewer than chunks-1
    # quantiles; pad so the staging still writes ``chunks`` files (the
    # extra ones empty) — replay consumers index chunk files positionally
    # (e.g. the redelivery stage replays parts[1]) and must not crash on
    # an empty partition of the lake.
    qs = list(qs) + [float("inf")] * (chunks - 1 - len(qs))
    bounds = [float("-inf"), *qs, float("inf")]
    for i in range(chunks):
        part = raw.filter(
            (F.col("ts") > F.lit(bounds[i])) & (F.col("ts") <= F.lit(bounds[i + 1]))
        )
        part.coalesce(1).write.mode("append").parquet(out_dir)
        time.sleep(0.05)
    return out_dir


def events_file_stream(
    spark: SparkSession, directory: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """S3-equivalent for tests: a file stream over events-shaped parquet.

    Each file becomes (at most) one micro-batch — the replay harness for
    asserting streaming semantics without a Kafka broker.  Schema is
    declared, never inferred (streaming sources require it anyway).
    """
    from ..session import ensure_parity_conf

    ensure_parity_conf(spark)
    reader = spark.readStream.schema(_EVENTS_STAGED_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(directory)
    return df.withColumn("ts", F.timestamp_micros(F.col("ts")))


def streaming_daily_summary(
    events: DataFrame,
    window_duration: str = "1 day",
    watermark: str | None = None,
    observe_name: str | None = None,
) -> DataFrame:
    """The reference's windowed aggregation over a *streaming* events frame.

    ``watermark=None`` is the faithful mode (unbounded state, late rows
    always merge — summarizer.py keeps every window live); pass e.g.
    ``"1 day"`` for the bounded-state production mode.

    ``observe_name`` attaches the standard ingest metrics
    (``streaming.metrics.ingest_metric_exprs``) as a named observation
    BEFORE the watermark, so each micro-batch's progress event reports
    counters over every ARRIVING row — including rows the watermark
    filter will drop downstream (those are accounted separately by
    ``stateOperators.numRowsDroppedByWatermark``).  Zero extra scans:
    observe rides the batch's own pass as accumulators.
    """
    if observe_name is not None:
        from .metrics import ingest_metric_exprs

        events = events.observe(observe_name, *ingest_metric_exprs())
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    return daily_summary(events, window_duration)


PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
HDFS_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
CHANGELOG_CONF = (
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
)
SHUFFLE_PARTITIONS_CONF = "spark.sql.shuffle.partitions"

# The session confs behind each ``state_store`` value.  Spark freezes the
# provider into a checkpoint at its first start; a restart keeps it.
STATE_STORES: dict[str, dict[str, str]] = {
    "hdfs": {PROVIDER_CONF: HDFS_PROVIDER},
    "rocksdb": {PROVIDER_CONF: ROCKSDB_PROVIDER, CHANGELOG_CONF: "false"},
    "rocksdb_changelog": {PROVIDER_CONF: ROCKSDB_PROVIDER, CHANGELOG_CONF: "true"},
}


def state_store_confs(state_store: str | None = None) -> dict[str, str]:
    """The session confs that select ``state_store``.

    ``None`` reads ``SPARK_GRAFT_STREAM_STATE`` (default ``hdfs``): the
    provider is a deployment setting, not a query property.  An unknown
    name raises ``ValueError``."""
    if state_store is None:
        state_store = os.environ.get("SPARK_GRAFT_STREAM_STATE", "hdfs").lower()
    if state_store not in STATE_STORES:
        raise ValueError(
            f"state store {state_store!r}: expected one of {', '.join(STATE_STORES)}"
        )
    return dict(STATE_STORES[state_store])


@contextmanager
def replay_scope(
    spark: SparkSession,
    checkpoint_dir: str | None = None,
    shuffle_partitions: int | None = None,
    state_store: str | None = None,
):
    """What one streaming replay runs inside: its checkpoint dir and its
    session confs (state store, and state partitions when given).

    Yields the checkpoint dir.  With ``checkpoint_dir=None`` it is a new
    temp dir, removed on exit; a dir the caller passes stays the
    caller's.  The confs are restored on exit either way."""
    confs = state_store_confs(state_store)
    if shuffle_partitions is not None:
        confs[SHUFFLE_PARTITIONS_CONF] = str(shuffle_partitions)
    owned = checkpoint_dir is None
    if owned:
        checkpoint_dir = tempfile.mkdtemp(prefix="spark_graft_ckpt_")
    try:
        with conf_scope(spark, confs):
            yield checkpoint_dir
    finally:
        if owned:
            shutil.rmtree(checkpoint_dir, ignore_errors=True)


def run_to_memory_table(
    result: DataFrame,
    query_name: str | None = None,
    checkpoint_dir: str | None = None,
    output_mode: str = "complete",
    shuffle_partitions: int | None = None,
    state_store: str | None = None,
) -> DataFrame:
    """Run a streaming query to completion (availableNow) into a memory
    sink and return the sink's final table as a batch DataFrame.

    availableNow drains the input available now and stops: the
    deterministic replay behind the registered ``stream_*`` queries and
    the tests.  Complete-mode output is the compacted final state.

    Ownership: with ``query_name=None`` the runner names the query and
    drops the sink's temp view before returning (the frame keeps its
    resolved plan); with ``checkpoint_dir=None`` it uses a temp
    checkpoint and removes it.  A name or dir the caller passes stays
    the caller's, so restarts and ``spark.table(name)`` keep working.

    ``shuffle_partitions`` sets the state partitions: a stateful query
    runs one state task per partition on every trigger, and the count is
    frozen into the checkpoint at first start, so size it to the state
    (distinct keys), not to the input.  ``state_store`` is ``hdfs`` |
    ``rocksdb`` | ``rocksdb_changelog``, or ``None`` for the deployment
    default (``state_store_confs``).  RocksDB keeps state that outgrows
    executor heap on local disk; changelog checkpointing makes each
    commit cost the batch's state changes instead of the state size.
    Measured locally at wall parity with HDFS (OPTIMIZATION_r17.md), so
    ``hdfs`` stays the default.  Both settings apply only while the
    query runs.
    """
    spark = result.sparkSession
    name = query_name or f"spark_graft_replay_{uuid.uuid4().hex}"
    try:
        with replay_scope(
            spark, checkpoint_dir, shuffle_partitions, state_store
        ) as checkpoint:
            query = (
                result.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            query.awaitTermination()
        return spark.table(name)
    finally:
        if query_name is None:
            spark.catalog.dropTempView(name)
