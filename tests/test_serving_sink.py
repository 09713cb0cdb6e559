"""Tests for the foreachBatch serving materializer (S6/A7/T6/T7): the
Spark-first replacement for the visualizer's pandas upsert store."""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile

import pytest

from bigdatapipeline_steamreviews_spark.operators.aggregations import daily_summary
from bigdatapipeline_steamreviews_spark.operators.serving import with_date_parts
from bigdatapipeline_steamreviews_spark.sources.tables import load_table
from bigdatapipeline_steamreviews_spark.streaming.serving_sink import (
    materialize_stream_to_serving,
    upsert_batch_writer,
)
from bigdatapipeline_steamreviews_spark.streaming.summarizer import (
    events_file_stream,
    stage_events_for_replay,
    streaming_daily_summary,
)
from tests.conftest import SF_DIR

KEYS = ["event_type", "time"]
SHUFFLE_PARTITIONS_CONF = "spark.sql.shuffle.partitions"
AQE_CONF = "spark.sql.adaptive.enabled"


def _offsets_conf(checkpoint: str) -> dict:
    """The session conf Spark froze into the checkpoint's latest offset
    log entry (line 1 is the version, line 2 the batch metadata)."""
    offsets = os.path.join(checkpoint, "offsets")
    latest = max((f for f in os.listdir(offsets) if f.isdigit()), key=int)
    with open(os.path.join(offsets, latest)) as f:
        return json.loads(f.read().splitlines()[1])["conf"]


@pytest.fixture(scope="module")
def replayed(spark):
    """One multi-trigger replay (one chunk per trigger) through the sink,
    on the test session's batch defaults (8 shuffle partitions, AQE on)."""
    stage = stage_events_for_replay(spark, SF_DIR, tempfile.mkdtemp(prefix="stage_"))
    table_dir = tempfile.mkdtemp(prefix="serving_") + "/table"
    checkpoint = tempfile.mkdtemp(prefix="ckpt_")
    conf = {k: spark.conf.get(k) for k in (SHUFFLE_PARTITIONS_CONF, AQE_CONF)}
    query = materialize_stream_to_serving(
        streaming_daily_summary(events_file_stream(spark, stage, max_files_per_trigger=1)),
        table_dir,
        KEYS,
        checkpoint,
    )
    return {"table_dir": table_dir, "checkpoint": checkpoint, "conf": conf, "query": query}


def test_stream_materializes_to_batch_equivalent_serving_table(spark, replayed):
    """Replay the stream through update-mode foreachBatch merges; the final
    parquet serving table must equal the batch daily summary."""
    got = spark.read.parquet(replayed["table_dir"]).orderBy(*KEYS)
    want = daily_summary(load_table(spark, SF_DIR, "events")).orderBy(*KEYS)
    assert got.collect() == want.collect()


def test_upsert_writer_is_idempotent_per_key(spark):
    """T7 — at-least-once delivery: re-applying the same batch converges
    (replace-else-append per key, like visualizer.py:67-77)."""
    table_dir = tempfile.mkdtemp(prefix="serving_") + "/table"
    writer = upsert_batch_writer(table_dir, keys=["k"])
    b1 = spark.createDataFrame([("a", 1.0), ("b", 2.0)], ["k", "v"])
    writer(b1, 0)
    writer(b1, 0)  # duplicate delivery
    got = {r.k: r.v for r in spark.read.parquet(table_dir).collect()}
    assert got == {"a": 1.0, "b": 2.0}
    # a later batch replaces existing keys and appends new ones
    b2 = spark.createDataFrame([("b", 20.0), ("c", 3.0)], ["k", "v"])
    writer(b2, 1)
    got = {r.k: r.v for r in spark.read.parquet(table_dir).collect()}
    assert got == {"a": 1.0, "b": 20.0, "c": 3.0}
    # within one batch, the later row wins (arrival order = seq order)
    b3 = spark.createDataFrame([("d", 1.0), ("d", 9.0)], ["k", "v"]).coalesce(1)
    writer(b3, 2)
    got = {r.k: r.v for r in spark.read.parquet(table_dir).collect()}
    assert got["d"] == 9.0


def test_serving_table_supports_reference_queries(spark):
    """The materialized table answers the visualizer's query shapes
    (rollup A5/A6 over date parts) straight from parquet."""
    stage = stage_events_for_replay(spark, SF_DIR, tempfile.mkdtemp(prefix="stage_"))
    table_dir = tempfile.mkdtemp(prefix="serving_") + "/table"
    stream = events_file_stream(spark, stage, max_files_per_trigger=2)
    materialize_stream_to_serving(
        streaming_daily_summary(stream),
        table_dir,
        KEYS,
        tempfile.mkdtemp(prefix="ckpt_"),
    )
    serving = with_date_parts(spark.read.parquet(table_dir))
    from bigdatapipeline_steamreviews_spark.operators.aggregations import monthly_rollup

    rolled = monthly_rollup(
        serving, ["A_value", "T_events"], ["event_type", "time_year", "time_month"]
    )
    assert rolled.count() > 0


def test_replay_writes_serving_table_sized_to_its_data(spark, replayed):
    """The adaptive merge coalesces its shuffle: after several triggers the
    table holds at most one file per core, not one per shuffle partition."""
    assert len(replayed["query"].recentProgress) > 1
    files = glob.glob(os.path.join(replayed["table_dir"], "*.parquet"))
    assert 1 <= len(files) <= spark.sparkContext.defaultParallelism


def test_replay_freezes_one_wave_of_state_partitions(spark, replayed):
    conf = _offsets_conf(replayed["checkpoint"])
    assert conf[SHUFFLE_PARTITIONS_CONF] == str(spark.sparkContext.defaultParallelism)


def test_sink_leaves_caller_conf_unchanged(spark, replayed):
    """materialize_stream_to_serving and a direct writer call restore the
    shuffle-partition count and the AQE switch they change."""
    assert replayed["conf"][SHUFFLE_PARTITIONS_CONF] != str(
        spark.sparkContext.defaultParallelism
    )
    for key, value in replayed["conf"].items():
        assert spark.conf.get(key) == value
    prev = spark.conf.get(AQE_CONF)
    spark.conf.set(AQE_CONF, "false")
    try:
        table_dir = tempfile.mkdtemp(prefix="serving_") + "/table"
        writer = upsert_batch_writer(table_dir, keys=["k"])
        writer(spark.createDataFrame([("a", 1.0), ("b", 2.0)], ["k", "v"]), 0)
        writer(spark.createDataFrame([("b", 3.0)], ["k", "v"]), 1)
        assert spark.conf.get(AQE_CONF) == "false"
        # the merge still ran adaptively: one file for three rows
        assert len(glob.glob(os.path.join(table_dir, "*.parquet"))) == 1
        got = {r.k: r.v for r in spark.read.parquet(table_dir).collect()}
        assert got == {"a": 1.0, "b": 3.0}
    finally:
        spark.conf.set(AQE_CONF, prev)


def test_checkpoint_with_32_state_partitions_still_refreshes(spark):
    """A checkpoint created with 32 state partitions (a query started on
    the batch default) keeps that count, and later refreshes still merge
    into a table equal to the batch daily summary."""
    stage = stage_events_for_replay(spark, SF_DIR, tempfile.mkdtemp(prefix="stage_"))
    chunks = sorted(
        (f for f in os.listdir(stage) if f.endswith(".parquet")),
        key=lambda f: os.path.getmtime(os.path.join(stage, f)),
    )
    landing = tempfile.mkdtemp(prefix="landing_")
    table_dir = tempfile.mkdtemp(prefix="serving_") + "/table"
    checkpoint = tempfile.mkdtemp(prefix="ckpt_")
    result = streaming_daily_summary(events_file_stream(spark, landing))

    def land(names):
        for name in names:
            shutil.move(os.path.join(stage, name), os.path.join(landing, name))

    land(chunks[:2])
    prev = spark.conf.get(SHUFFLE_PARTITIONS_CONF)
    spark.conf.set(SHUFFLE_PARTITIONS_CONF, "32")
    try:
        (
            result.writeStream.outputMode("update")
            .foreachBatch(upsert_batch_writer(table_dir, KEYS))
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        spark.conf.set(SHUFFLE_PARTITIONS_CONF, prev)
    land(chunks[2:])
    materialize_stream_to_serving(result, table_dir, KEYS, checkpoint)
    assert _offsets_conf(checkpoint)[SHUFFLE_PARTITIONS_CONF] == "32"
    got = spark.read.parquet(table_dir).orderBy(*KEYS)
    want = daily_summary(load_table(spark, SF_DIR, "events")).orderBy(*KEYS)
    assert got.collect() == want.collect()


def test_stream_serving_materialization_removes_its_checkpoint(spark):
    """One registered call leaves no checkpoint dir behind; the returned
    frame still reads the serving table."""
    from bigdatapipeline_steamreviews_spark.queries_streaming import (
        stream_serving_materialization,
    )

    pattern = os.path.join(tempfile.gettempdir(), "spark_graft_ckpt_*")
    before = set(glob.glob(pattern))
    df = stream_serving_materialization(spark, SF_DIR)
    assert set(glob.glob(pattern)) - before == set()
    assert df.count() > 0
