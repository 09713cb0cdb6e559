"""Tests for the benchmark's pure parts: seeded generation, the percentile
rule, the py4j call counter, progress summing and the event-log parser.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
from tracing import (  # noqa: E402
    PHASE_PROPERTY,
    SPAN_PROPERTY,
    Py4jCallCounter,
    Tracer,
    parse_event_log,
    percentile,
    summarize_progress,
)


@pytest.mark.parametrize(
    "make",
    [
        lambda seed: gen.events(seed, n=2_000, users=50),
        lambda seed: gen.documents(seed, n=200),
        lambda seed: gen.embeddings(seed, n=100),
    ],
)
def test_generators_repeat_for_a_seed_and_differ_across_seeds(make):
    assert make(7).equals(make(7))
    assert not make(7).equals(make(8))


def test_events_are_time_ordered():
    ts = gen.events(1, n=20_000, users=500).column("ts").to_numpy()
    assert (ts[1:] >= ts[:-1]).all()


def test_documents_carry_the_stated_exact_duplicate_share():
    docs = gen.documents(3, n=1_000, exact_share=0.05, near_share=0.10)
    share = gen.stats({"documents": docs})["documents.exact_dup_share"]
    # Near copies or random bases can collide only by accident; copies of
    # copies never happen, so the share is at most the stated one.
    assert 0.04 <= share <= 0.05


def test_documents_and_embeddings_have_the_reference_shape():
    st = gen.stats({"documents": gen.documents(5, n=5_000)})
    assert st["documents.near_dup_share"] == 0.05
    assert st["documents.exact_dup_share"] == 0.0016
    assert st["documents.vocab"] == len(gen.VOCAB) + 1  # plus the "dup" marker
    assert 50 <= st["documents.words_median"] <= 60
    np = pytest.importorskip("numpy")
    emb = gen.embeddings(5, n=500)
    vec = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
    assert vec.shape == (500, 64)
    assert np.allclose(np.linalg.norm(vec, axis=1), 1.0, atol=1e-6)


def test_write_sf_dir_writes_every_table(tmp_path):
    gen.write_sf_dir(str(tmp_path), {"events": gen.events(1, n=10)}, ("region", "events"))
    assert sorted(os.listdir(tmp_path)) == ["events.parquet", "region.parquet"]


def test_percentile_interpolates_between_nearest_ranks():
    values = list(range(1, 101))
    assert percentile(values, 95) == pytest.approx(95.05)
    assert percentile(values, 0) == 1
    assert percentile(values, 100) == 100
    assert percentile([4, 1, 3, 2], 50) == 2.5
    assert percentile([4, 1, 3, 2], 75) == pytest.approx(3.25)
    assert percentile([9.0], 95) == 9.0
    with pytest.raises(ValueError):
        percentile([], 50)
    np = pytest.importorskip("numpy")
    sample = [3.0, 1.5, 8.25, 4.0, 2.0, 9.5, 7.0, 0.5, 6.0, 5.5, 11.0]
    for p in (25, 50, 75, 90, 95):
        assert percentile(sample, p) == pytest.approx(np.percentile(sample, p))


def test_py4j_counter_counts_only_call_commands():
    class FakeConnection:
        def __init__(self):
            self.sent = []

        def send_command(self, command, retry=True):
            self.sent.append(command)
            return "yes"

    counter = Py4jCallCounter(FakeConnection)
    conn = FakeConnection()
    for cmd in ("c\no0\nfoo\ne\n", "m\nd\no1\ne\n", "c\nt\nbar\ne\n", "r\nu\nx\ne\n"):
        assert conn.send_command(cmd) == "yes"
    assert counter.calls == 2
    assert len(conn.sent) == 4
    counter.close()
    conn.send_command("c\no0\nfoo\ne\n")
    assert counter.calls == 2


def test_tracer_self_time_subtracts_children():
    tr = Tracer(True, "run")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"]
    st = tr.self_times()
    assert st["outer"] == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"])
    )
    off = Tracer(False, "run")
    with off.span("x") as sp:
        assert sp is None
    assert off.spans == []


def test_summarize_progress_sums_triggers_and_state():
    recs = [
        {
            "numInputRows": 10,
            "durationMs": {"triggerExecution": 100, "addBatch": 80, "latestOffset": 3,
                           "getBatch": 2, "walCommit": 4, "commitOffsets": 5,
                           "queryPlanning": 6},
            "stateOperators": [{"numRowsTotal": 7, "commitTimeMs": 9, "allUpdatesTimeMs": 11,
                                "allRemovalsTimeMs": 1, "memoryUsedBytes": 500}],
        },
        {
            "numInputRows": 0,
            "durationMs": {"triggerExecution": 50, "addBatch": 40},
            "stateOperators": [{"numRowsTotal": 5, "commitTimeMs": 1, "memoryUsedBytes": 400}],
        },
    ]
    out = summarize_progress(recs)
    assert out["streaming.triggers"] == 2
    assert out["streaming.no_data_triggers"] == 1
    assert out["streaming.input_rows"] == 10
    assert out["streaming.trigger_ms_sum"] == 150
    assert out["streaming.offset_ms_sum"] == 5
    assert out["streaming.log_commit_ms_sum"] == 9
    assert out["streaming.no_data_trigger_ms_sum"] == 50
    assert out["state.commit_ms_sum"] == 10
    assert out["state.rows_max"] == 7
    assert out["state.memory_bytes_max"] == 500


def _job(job_id, stages, phase, span):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages,
            "Properties": {PHASE_PROPERTY: phase, SPAN_PROPERTY: span}}


def _task(stage, run_ms, accums=()):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": [{"Name": n, "Update": u} for n, u in accums]},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": 2_000_000,
            "JVM GC Time": 1,
            "Memory Bytes Spilled": 3,
            "Disk Bytes Spilled": 4,
            "Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 6},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
        },
    }


def test_event_log_parser_sums_only_the_tagged_phase():
    events = [
        {"Event": "SparkListenerApplicationStart"},
        _job(0, [0], "setup", "stage"),
        _job(1, [1, 2], "measure", "build"),
        _job(2, [3], "measure", "read"),
        _task(0, 1000),
        _task(1, 10, [("data sent to Python workers", "100"),
                      ("time to start Python workers", "20")]),
        _task(1, 10),
        _task(1, 40),
        _task(3, 0, [("data returned from Python workers", "50")]),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3}},
    ]
    out = parse_event_log(json.dumps(e) for e in events)
    assert out["exec.jobs"] == 2
    assert out["exec.stages"] == 2
    assert out["exec.tasks"] == 4
    assert out["exec.task_run_ms_sum"] == 60
    assert out["exec.task_cpu_ms_sum"] == 8.0
    assert out["exec.gc_ms_sum"] == 4
    assert out["exec.shuffle_read_bytes"] == 44
    assert out["exec.shuffle_write_bytes"] == 28
    assert out["exec.spill_bytes"] == 28
    assert out["exec.task_skew_max"] == 4.0  # stage 1: max 40 over median 10
    assert out["python.bytes_sent"] == 100
    assert out["python.bytes_received"] == 50
    assert out["python.worker_start_ms_sum"] == 20
    assert out["driver.eager_jobs"] == 1
    assert out["jobs_by_span"] == {"build": 1, "read": 1}
