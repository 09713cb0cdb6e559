#!/usr/bin/env python
"""Per-trigger cost profile for the streaming replays (r17 verdict ask #1).

Runs a streaming pipeline (a registered ``stream_*`` query, or a bare
sessionizer / daily summary with its knobs exposed) through the engine's
own runner and captures each micro-batch's ``StreamingQueryProgress``: durationMs breakdown (addBatch / getBatch / latestOffset /
queryPlanning / walCommit / commitOffsets / triggerExecution) and
stateOperators commit times — the instrument the wall-clock bench cannot
provide (run_to_memory_table returns only the final table); a
``StreamMetricsListener`` collects the progress events.

Variants (A/B'd back-to-back in ONE session per the host-steal protocol —
memory/host-steal-bench-protocol.md):

* provider: hdfs (default) | rocksdb | rocksdb_changelog
* state partitions: --parts N
* trigger sizing: --files-per-trigger N

Usage:
  python scripts/stream_profile.py sessionization --reps 3 \
      --variants hdfs,rocksdb,rocksdb_changelog
  python scripts/stream_profile.py sessionization --files-per-trigger 4 \
      --variants hdfs,rocksdb,rocksdb_changelog   # provider x trigger grid
  python scripts/stream_profile.py stream_sessionization --reps 3
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdatapipeline_steamreviews_spark import get_spark  # noqa: E402
from bigdatapipeline_steamreviews_spark.queries_streaming import (  # noqa: E402
    _stage_events_chunks,
)
from bigdatapipeline_steamreviews_spark.streaming.sessions import (  # noqa: E402
    streaming_sessionize,
    streaming_sessionize_disordered,
)
from bigdatapipeline_steamreviews_spark.streaming.metrics import (  # noqa: E402
    StreamMetricsListener,
)
from bigdatapipeline_steamreviews_spark.streaming.summarizer import (  # noqa: E402
    events_file_stream,
    run_to_memory_table,
    streaming_daily_summary,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _steal_ticks():
    parts = open("/proc/stat").readline().split()
    v = [int(x) for x in parts[1:]]
    return sum(v) - v[3] - v[4], v[7]


def build(spark, which: str, files_per_trigger: int):
    stage = _stage_events_chunks(spark, SF_DIR)
    stream = events_file_stream(
        spark, stage, max_files_per_trigger=files_per_trigger
    )
    if which == "sessionization":
        return streaming_sessionize(stream, 1800, "30 minutes"), "append"
    if which == "disordered":
        return (
            streaming_sessionize_disordered(stream, 1800, "30 minutes"),
            "append",
        )
    if which == "daily_summary":
        return streaming_daily_summary(stream, watermark=None), "complete"
    raise SystemExit(f"unknown target {which}")


def profile(spark, run) -> dict:
    """Time ``run()`` and keep the per-trigger progress of every streaming
    query it starts; a DataFrame that ``run()`` returns is counted after
    the clock stops."""
    listener = StreamMetricsListener()
    spark.streams.addListener(listener)
    try:
        b0, s0 = _steal_ticks()
        t0 = time.time()
        out = run()
        wall = time.time() - t0
        b1, s1 = _steal_ticks()
        listener.wait_terminated()
        n_rows = out.count() if out is not None else None
    finally:
        spark.streams.removeListener(listener)
    batches = []
    for p in listener.progresses:
        so = p.get("stateOperators", [])
        batches.append(
            {
                "batchId": p.get("batchId"),
                "numInputRows": p.get("numInputRows"),
                "durationMs": p.get("durationMs", {}),
                "stateCommitMs": [s.get("commitTimeMs") for s in so],
                "stateRowsUpdated": [s.get("numRowsUpdated") for s in so],
            }
        )
    return {
        "wall_s": round(wall, 3),
        "steal_pct": round(100.0 * (s1 - s0) / max(b1 - b0, 1), 1),
        "n_out_rows": n_rows,
        "n_batches": len(batches),
        "batches": batches,
    }


def run_one(spark, which, variant, parts, files_per_trigger):
    result, mode = build(spark, which, files_per_trigger)
    return profile(
        spark,
        lambda: run_to_memory_table(
            result, output_mode=mode, shuffle_partitions=parts, state_store=variant
        ),
    )


def run_registered(spark, qname: str):
    """Run ANY registered stream_* query exactly as the bench does (the
    engine's runner, the deployment's state store) with its per-trigger
    progress captured."""
    from bigdatapipeline_steamreviews_spark.registry import REGISTRY

    def run():
        REGISTRY[qname].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()

    return profile(spark, run)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("target")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--variants", default="hdfs")
    ap.add_argument("--parts", type=int, default=None)
    ap.add_argument("--files-per-trigger", type=int, default=2)
    args = ap.parse_args()
    default_parts = {"sessionization": 16, "disordered": 16, "daily_summary": 2}
    spark = get_spark("stream_profile")
    if args.target.startswith("stream_"):
        # Registered-query mode: run the exact bench path N times and dump
        # per-trigger progress (no variants — the query picks its own).
        out = {"target": args.target, "runs": []}
        for rep in range(args.reps):
            spark.catalog.clearCache()
            r = run_registered(spark, args.target)
            r["rep"] = rep
            out["runs"].append(r)
            print(
                json.dumps(
                    {
                        "rep": rep,
                        "wall_s": r["wall_s"],
                        "steal": r["steal_pct"],
                        "batches": [
                            (
                                b["numInputRows"],
                                b["durationMs"].get("addBatch"),
                                b["durationMs"].get("queryPlanning"),
                            )
                            for b in r["batches"]
                        ],
                    }
                ),
                flush=True,
            )
        path = os.environ.get("STREAM_PROFILE_OUT", "/tmp/stream_profile.json")
        with open(path, "w") as f:
            json.dump(out, f, indent=1)
        print("wrote", path)
        return
    parts = args.parts or default_parts[args.target]
    variants = args.variants.split(",")
    out = {"target": args.target, "parts": parts, "fpt": args.files_per_trigger, "runs": []}
    # warmup (untimed): spin executors/codegen
    run_one(spark, args.target, "hdfs", parts, args.files_per_trigger)
    for rep in range(args.reps):
        for v in variants:  # alternate variants within each rep (steal protocol)
            spark.catalog.clearCache()
            r = run_one(spark, args.target, v, parts, args.files_per_trigger)
            r["variant"] = v
            r["rep"] = rep
            out["runs"].append(r)
            print(
                json.dumps(
                    {
                        "variant": v,
                        "rep": rep,
                        "wall_s": r["wall_s"],
                        "steal": r["steal_pct"],
                        "rows": r["n_out_rows"],
                        "addBatch": [
                            b["durationMs"].get("addBatch") for b in r["batches"]
                        ],
                        "commit": r["batches"][0]["stateCommitMs"] if r["batches"] else None,
                    }
                ),
                flush=True,
            )
    path = os.environ.get("STREAM_PROFILE_OUT", "/tmp/stream_profile.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print("wrote", path)


if __name__ == "__main__":
    main()
