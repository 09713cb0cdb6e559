"""Spark 4 state data source (observability) + the transformWithState API.

``stream_state_inspection`` is oracle-gated; here we pin the metadata
surface (operator listing) that the oracle can't see.

``transformWithStateInPandas`` — Spark 4's successor to
applyInPandasWithState (typed ValueState/ListState/MapState handles,
timers, TTL) — requires the ``protobuf`` Python package for its
driver-worker handshake, which this container does not ship.  The test
below runs the real API end-to-end the moment protobuf appears and
skips cleanly until then (same posture as the Kafka broker e2e test).
The three shipped stateful operators (sessionizer, Markov transitions,
EWMA) all use applyInPandasWithState, which is fully supported here.
"""

from __future__ import annotations

import importlib.util
import tempfile

import pytest

from pyspark.sql import functions as F

# find_spec("google.protobuf") raises if the "google" namespace package
# itself is absent — probe the parent first.
HAS_PROTOBUF = (
    importlib.util.find_spec("google") is not None
    and importlib.util.find_spec("google.protobuf") is not None
)


def test_state_metadata_lists_the_aggregation_operator(spark):
    events = spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(100)],
        "event_id long, user_id long, value double",
    )
    src = tempfile.mkdtemp(prefix="state_meta_src_")
    events.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    ckpt = tempfile.mkdtemp(prefix="state_meta_ckpt_")

    from bigdatapipeline_steamreviews_spark.streaming.summarizer import (
        run_to_memory_table,
    )

    run_to_memory_table(agg, "state_meta_q", ckpt, "complete", shuffle_partitions=4)

    meta = spark.read.format("state-metadata").load(ckpt).collect()
    assert len(meta) == 1
    row = meta[0]
    assert row.operatorName == "stateStoreSave"
    assert row.numPartitions == 4  # frozen from shuffle_partitions at start

    # and the state itself equals the batch aggregate
    # state exposes the BUFFER field name (`count`), not the output alias
    state = spark.read.format("statestore").load(ckpt)
    got = {
        (r["user_id"], r["count"]) for r in state.select("key.*", "value.*").collect()
    }
    want = {
        (r["user_id"], r["n"])
        for r in events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


@pytest.mark.skipif(not HAS_PROTOBUF, reason="transformWithState needs protobuf")
def test_transform_with_state_running_topk(spark):
    """Per-key running top-3 via typed ValueState + ListState on the new
    transformWithStateInPandas API; final emission must equal the batch
    top-3 regardless of micro-batch splits (bounded commutative merge)."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    OUT = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("top1", T.DoubleType()),
        ]
    )

    class TopKProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle):
            self.counts = handle.getValueState("counts", "n BIGINT")
            self.top = handle.getListState("top", "v DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            n = self.counts.get()[0] if self.counts.exists() else 0
            vals = [v[0] for v in self.top.get()]
            for pdf in rows:
                n += len(pdf)
                vals.extend(pdf["value"].tolist())
            vals = sorted(vals, reverse=True)[:3]
            self.counts.update((n,))
            self.top.put([(v,) for v in vals])
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "top1": [vals[0]]}
            )

        def close(self):
            pass

    from bigdatapipeline_steamreviews_spark.streaming.summarizer import (
        run_to_memory_table,
    )

    events = spark.createDataFrame(
        [(i, i % 3, float(i * 7 % 11)) for i in range(30)],
        "event_id long, user_id long, value double",
    )
    src = tempfile.mkdtemp(prefix="tws_src_")
    events.write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    res = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=TopKProcessor(),
        outputStructType=OUT,
        outputMode="Update",
        timeMode="None",
    )
    tbl = run_to_memory_table(
        res,
        "tws_topk",
        tempfile.mkdtemp(prefix="tws_ckpt_"),
        "append",
        shuffle_partitions=4,
        state_store="rocksdb",
    )
    from pyspark.sql import Window as W

    last = tbl.withColumn(
        "__rn",
        F.row_number().over(
            W.partitionBy("user_id").orderBy(F.col("n_events").desc())
        ),
    ).filter(F.col("__rn") == 1)
    batch = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.max("value").alias("top1")
    )
    got = {(r.user_id, r.n_events, r.top1) for r in last.collect()}
    want = {(r.user_id, r.n_events, r.top1) for r in batch.collect()}
    assert got == want


def test_observe_metrics_match_computed_aggregate(spark):
    """df.observe(): in-flight metrics collected as a side effect of the
    action — the 100 TB way to count rows/nulls/sums WITHOUT a second
    scan over the input.  The observed values must equal a dedicated
    aggregation exactly (exact DECIMAL sum both ways)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from bigdatapipeline_steamreviews_spark.sources.tables import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    obs = Observation("ingest_metrics")
    observed = events.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value").alias("n_values"),
        F.sum(F.col("value").cast("decimal(28,10)")).alias("total_value"),
    )
    sunk = observed.filter(F.col("event_type") == "purchase").count()

    row = events.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value").alias("n_values"),
        F.sum(F.col("value").cast("decimal(28,10)")).alias("total_value"),
    ).collect()[0]
    assert obs.get["n_rows"] == row.n_rows
    assert obs.get["n_values"] == row.n_values
    assert obs.get["total_value"] == row.total_value
    assert 0 < sunk < row.n_rows
