#!/usr/bin/env python3
"""Pipeline benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload live_dashboard --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  The run generates its inputs from
``--seed``, sets up (session start, input generation and staging repeated
``PREP_REPS`` times, a warm-up operation), then runs closed-loop
operations, about ``--seconds`` worth of them, and checks every output
against a DuckDB oracle.  Everything it writes lives under
``.perfbench_run/`` (deleted at exit) and ``.perfbench_out/`` (the run
record, and the spans of a traced run).

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` instead runs a
fixed number of operation pairs, one untraced and one traced in each, with
Spark's event log on; it prints the per-layer metrics, and the traced
operations' wall against the untraced ones' as ``trace.overhead_pct``.
The last stdout line is always the JSON result; the report goes to stderr.
"""

from __future__ import annotations

import argparse
import glob
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "bigdatapipeline_steamreviews_spark"
VERIFY_LOCAL = os.path.join(ROOT, "scripts", "verify_local.py")
BENCH = os.path.join(ROOT, "bench.py")
PREP_REPS = 3


def declared_units(kind: str) -> dict[str, str]:
    """Metric name -> unit as ``BENCHMARK.json`` declares them (``kind`` is
    ``end_to_end`` or ``per_layer``): the file is the one list of metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def load_module(name: str, path: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _proc_status_mb(pid, field: str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    raise LookupError(f"no {field} for pid {pid}")


def vm_hwm_mb(pid) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    return _proc_status_mb(pid, "VmHWM")


def vm_rss_mb(pid) -> float:
    """Current resident set (VmRSS) of a process, in MB."""
    return _proc_status_mb(pid, "VmRSS")


def jvm_retained_mb(jvm) -> float:
    """Heap the driver JVM still holds after a full collection, plus its
    non-heap (code cache, metaspace), in MB.  Unlike the resident peak this
    does not depend on when the collector chose to grow the heap."""
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return used / 2**20


class Context:
    """What a workload needs from the harness: the session, the tracer, the
    oracle helpers and the phase the current operation belongs to."""

    def __init__(self, spark, tracer, seed, verify_local, table_names, event_log, collector):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.compare = verify_local.compare
        self.duck_connect = verify_local.duck_connect
        self.table_names = table_names
        self.event_log = event_log
        self.collector = collector
        self.phase = "setup"
        self.stream_records: list[dict] = []
        self.runner_overhead_ms = 0.0

    @staticmethod
    def parquet_rows(path: str) -> int:
        import pyarrow.parquet as pq

        return pq.ParquetFile(path).metadata.num_rows

    @staticmethod
    def read_parquet_dir(path: str):
        import pyarrow.parquet as pq

        return pq.read_table(path).to_pandas()

    @staticmethod
    def catalyst_ms(df, force: bool = False) -> float:
        """Analysis + optimization + planning ms from the DataFrame's own
        ``QueryPlanningTracker``; ``force`` plans it first."""
        qe = df._jdf.queryExecution()
        if force:
            qe.executedPlan()
        phases = qe.tracker().phases()
        total = 0.0
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            if opt.isDefined():
                total += opt.get().durationMs()
        return total

    def record_stream(self, wall_s: float, run_id: str) -> None:
        """Keep a finished query's progress records (traced operations).
        Untraced operations of a traced run wait for the listener too, so
        its callbacks never overlap a later traced span's py4j count."""
        if self.collector is None:
            return
        with self.tracer.span("trace.listener_wait"):
            recs = self.collector.finished(run_id)
        if self.phase != "measure":
            return
        self.stream_records.extend(recs)
        trig = sum(r.get("durationMs", {}).get("triggerExecution", 0) for r in recs)
        self.runner_overhead_ms += wall_s * 1e3 - trig


def stop_jvm(spark) -> None:
    """Stop the session, then end the driver JVM this process launched (it
    exits when its stdin closes) and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def leaked_tmp_dirs(tmp: str) -> int:
    """Checkpoint and stage directories the engine left under ``tmp``:
    each ``spark_graft_*`` entry, and each entry inside a stage root."""
    n = 0
    for entry in glob.glob(os.path.join(tmp, "spark_graft_*")):
        n += len(os.listdir(entry)) if "stage" in os.path.basename(entry) else 1
    return n


def run(args, run_dir: str) -> tuple[dict, dict]:
    """Run one workload; returns (result line, full run record)."""
    from tracing import (
        Py4jCallCounter,
        Tracer,
        make_progress_collector,
        parse_event_log,
        percentile,
        summarize_progress,
    )
    from workloads import WORKLOADS

    bench = load_module("bench", BENCH)
    verify_local = load_module("verify_local", VERIFY_LOCAL)
    from bigdatapipeline_steamreviews_spark import get_spark
    from bigdatapipeline_steamreviews_spark.sources.tables import TABLE_NAMES

    traced = bool(args.trace)
    ticks0 = bench._cpu_ticks()
    counter = Py4jCallCounter.for_py4j() if traced else None
    tracer = Tracer(False, f"{args.workload}-{args.seed}-{os.getpid()}", counter)
    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    log_dir = os.path.join(run_dir, "eventlog")
    if traced:
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    session_s = time.perf_counter() - t0
    collector = None
    if traced:
        collector = make_progress_collector()
        spark.streams.addListener(collector)
    ctx = Context(spark, tracer, args.seed, verify_local, TABLE_NAMES, traced, collector)
    wl = WORKLOADS[args.workload](ctx)

    if traced:
        import bigdatapipeline_steamreviews_spark.streaming.serving_sink as sink

        make_writer = sink.upsert_batch_writer

        def timed_upsert_batch_writer(table_dir, keys):
            write = make_writer(table_dir, keys)

            def write_batch(batch, batch_id):
                # Runs on py4j's callback thread while the main thread
                # waits inside the refresh span, so it nests under it.
                with tracer.span("streaming.serving_sink.upsert"):
                    write(batch, batch_id)

            return write_batch

        sink.upsert_batch_writer = timed_upsert_batch_writer

    # -- set-up: input generation + staging repeated, then one warm-up op --
    preps = []
    for k in range(PREP_REPS):
        rep_dir = os.path.join(run_dir, f"rep{k}")
        if preps:
            shutil.rmtree(os.path.join(run_dir, f"rep{k - 1}"))
        preps.append(wl.prepare(rep_dir))
    prep_s = statistics.median(p["gen_s"] + p["stage_s"] for p in preps)
    t0 = time.perf_counter()
    wl.warm_up()
    warm_s = time.perf_counter() - t0 - wl.oracle_s
    setup_s = session_s + prep_s + warm_s

    # -- measured operations --
    # Per phase: each operation's wall, and the part of it spent checking.
    op_wall: dict[str, list[float]] = {"measure": [], "baseline": []}
    op_oracle: dict[str, list[float]] = {"measure": [], "baseline": []}

    def timed_op(i: int, phase: str) -> bool:
        ctx.phase = phase
        tracer.enabled = traced and phase == "measure"
        oracle0 = wl.oracle_s
        t = time.perf_counter()
        more = wl.op(i)
        op_wall[phase].append(time.perf_counter() - t)
        op_oracle[phase].append(wl.oracle_s - oracle0)
        tracer.enabled = False
        return more

    if traced:
        # The first operation after the warm-up is still the slowest; in
        # either half of a pair it would bias trace.overhead_pct, so it runs
        # untimed.
        ctx.phase = "settle"
        wl.op(0)
    t_measure = time.perf_counter()
    if traced:
        for pair in range(wl.TRACED_PAIRS):
            order = ("baseline", "measure") if pair % 2 == 0 else ("measure", "baseline")
            for j, phase in enumerate(order):
                timed_op(1 + 2 * pair + j, phase)
    else:
        # A fixed number of operations per --seconds, not a deadline: every
        # run then does the same work, whatever the host's speed.
        for i in range(1, max(1, round(args.seconds / wl.OP_SECONDS)) + 1):
            if not timed_op(i, "measure"):
                break
    measure_s = time.perf_counter() - t_measure

    # -- run end: memory, leaks, steal, then stop and read the event log --
    jvm = spark.sparkContext._jvm
    rss_peak_mb = vm_hwm_mb("self") + vm_hwm_mb(jvm.java.lang.ProcessHandle.current().pid())
    retained_mb = vm_rss_mb("self") + jvm_retained_mb(jvm)
    leak_tables = sum(1 for t in spark.catalog.listTables() if t.isTemporary)
    if collector is not None:
        spark.streams.removeListener(collector)
    stop_jvm(spark)
    leak_dirs = leaked_tmp_dirs(tmp)
    steal = bench._steal_pct(ticks0, bench._cpu_ticks())
    if counter is not None:
        counter.close()

    samples = wl.samples.get("measure", {})
    failed = len(wl.failures)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "inputs": preps[-1]["stats"],
        "prep_reps_s": [round(p["gen_s"] + p["stage_s"], 4) for p in preps],
        "session_start_s": round(session_s, 4),
        "warm_up_s": round(warm_s, 4),
        "measure_s": round(measure_s, 3),
        "ops": {k: len(v) for k, v in op_wall.items()},
        "samples": {k: len(v) for k, v in samples.items()},
        "freshness_ms": [round(v, 3) for v in samples.get("freshness_ms", [])],
        "query_ms": [round(v, 3) for v in wl.query_ms("measure")],
        "failures": wl.failures,
        "host.steal_pct": steal,
    }
    if not traced:
        q = wl.query_ms("measure")
        fr = samples.get("freshness_ms", [])
        metrics = {
            "setup_s": setup_s,
            "freshness_p50_ms": statistics.median(fr) if fr else None,
            "query_p50_ms": statistics.median(q) if q else None,
            "query_p75_ms": percentile(q, 75) if q else None,
            "events_per_s": wl.events_per_s("measure"),
            "mem_retained_mb": retained_mb,
        }
    else:
        with open(glob.glob(os.path.join(log_dir, "*"))[0]) as f:
            exec_metrics = parse_event_log(f)
        layers = tracer.self_times()
        spans = tracer.spans
        top = sum(s["end"] - s["start"] for s in spans if s["parent"] is None)
        coverage = 100.0 * top / sum(op_wall["measure"]) if op_wall["measure"] else None
        base = sum(op_wall["baseline"]) - sum(op_oracle["baseline"])
        meas = sum(op_wall["measure"]) - sum(op_oracle["measure"])
        builds = [s for s in spans if s.get("build")]
        reads = samples.get("read_build_ms", [])
        upserts = tracer.durations("streaming.serving_sink.upsert")
        metrics = {
            **summarize_progress(ctx.stream_records),
            "streaming.runner_overhead_ms_sum": ctx.runner_overhead_ms,
            "serving_sink.upserts": len(upserts),
            "serving_sink.upsert_ms_sum": 1e3 * sum(upserts),
            "serving.reads": len(reads),
            "serving.read_build_ms_p50": statistics.median(reads) if reads else 0.0,
            "serving.read_plan_ms_p50": (
                statistics.median(samples["plan_ms"]) if reads else 0.0
            ),
            "serving.read_exec_ms_p50": (
                statistics.median(samples["read_exec_ms"]) if reads else 0.0
            ),
            "serving.read_py4j_calls_per_query": (
                statistics.mean(samples["read_py4j"]) if reads else 0.0
            ),
            "serving.read_jobs_per_query": (
                exec_metrics["jobs_by_span"].get("read", 0) / len(reads) if reads else 0.0
            ),
            "driver.build_s_sum": sum(s["end"] - s["start"] for s in builds),
            "driver.py4j_calls": sum(s["py4j_calls"] for s in builds),
            "catalyst.plan_ms_sum": sum(samples.get("plan_ms", [])),
            **{
                f"curation.{g}_s": sum(samples.get(f"query_s.{g}", []))
                for g in ("dedup", "similarity", "text")
            },
            **{
                f"curation.{g}_py4j_calls": sum(samples.get(f"build_py4j.{g}", []))
                for g in ("dedup", "similarity", "text")
            },
            **{k: v for k, v in exec_metrics.items() if k != "jobs_by_span"},
            "session.start_s": session_s,
            "sources.stage_s": statistics.median(p["stage_s"] for p in preps),
            "gen.input_s": statistics.median(p["gen_s"] for p in preps),
            "mem.rss_peak_mb": rss_peak_mb,
            "leak.memory_tables": leak_tables,
            "leak.tmp_dirs": leak_dirs,
            "host.steal_pct": steal if steal is not None else 0.0,
            "trace.overhead_pct": 100.0 * (meas / base - 1.0) if base else 0.0,
            "trace.coverage_pct": coverage if coverage is not None else 0.0,
            "failed_ops_pct": 100.0 * failed / max(wl.attempted, 1),
        }
        notes = {
            k: f"not exercised by {args.workload}"
            for k, v in metrics.items()
            if v == 0 and not k.startswith(("failed_ops", "host.", "trace.", "leak."))
        }
        if metrics["python.bytes_received"] and not metrics["python.rows_received"]:
            notes["python.rows_received"] = (
                "unavailable: Spark logs no Python output-row metric for these operators"
            )
        if coverage is not None and not 90.0 <= coverage <= 110.0:
            notes["trace.coverage_pct"] = "top-level layers are not within 10% of the wall"
        record["notes"] = notes
        record["layer_self_s"] = {k: round(v, 4) for k, v in sorted(layers.items())}
        record["spans"] = len(spans)
        tracer.dump(os.path.join(out_dir(), f"{args.workload}-{args.seed}-spans.jsonl"))
    record["metrics"] = metrics
    units = declared_units("per_layer" if traced else "end_to_end")
    if set(units) != set(metrics):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {set(units) ^ set(metrics)}")
    missing = sorted(k for k, v in metrics.items() if v is None)
    if missing:
        raise RuntimeError(f"no samples for {missing}: the run measured nothing")
    result = {
        "correct": failed == 0,
        "attempted": wl.attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    return result, record


def out_dir() -> str:
    path = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(path, exist_ok=True)
    return path


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [
        p for p in (os.path.join(ROOT, PACKAGE), VERIFY_LOCAL, BENCH) if not os.path.exists(p)
    ]
    if missing:
        print(f"perfbench: cannot run, missing {missing}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # Set before pyspark or the engine is imported: the engine's stage roots
    # and checkpoints follow TMPDIR, Spark's scratch follows SPARK_LOCAL_DIRS,
    # and Python workers find the engine package through PYTHONPATH.
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # spark-submit's launcher JVM: keep its perf data and temp files out of /tmp.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")])
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # pandas deprecation notices from pyspark's own serializers, printed by
    # every Python worker, would bury the report.
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    sys.path.insert(0, ROOT)
    try:
        result, record = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    with open(os.path.join(out_dir(), f"{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    report(result, record)
    print(json.dumps(result))
    return 0


def report(result: dict, record: dict) -> None:
    err = sys.stderr
    print(
        f"perfbench {record['workload']} seed={record['seed']} trace={record['trace']}"
        f" cpus={record['cpus']} steal={record['host.steal_pct']}%",
        file=err,
    )
    print(f"  ops={record['ops']} samples={record['samples']}", file=err)
    for k, m in result["metrics"].items():
        print(f"  {k:40s} {m['value']:>14.4f} {m['unit']}", file=err)
    print(f"  attempted={result['attempted']} failed={result['failed']}", file=err)
    for f in record["failures"]:
        print(f"  FAILED {f}", file=err)
    for k, note in record.get("notes", {}).items():
        print(f"  note {k}: {note}", file=err)
    for k, v in record.get("layer_self_s", {}).items():
        print(f"  self time {k:52s} {v:10.4f} s", file=err)


if __name__ == "__main__":
    sys.exit(main())
