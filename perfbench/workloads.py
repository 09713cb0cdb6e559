"""The workloads, each driving the engine through its public functions
from one closed-loop client.

* ``live_dashboard`` — the reference's three stages: a chunk of events
  lands, an incremental ``materialize_stream_to_serving`` replay on one
  persistent checkpoint upserts the 1-day window aggregate into the parquet
  serving table, then the dashboard reads it through ``operators.serving``.
* ``curation_batch`` — the LLM-data curation queries as batch jobs.

A workload is a class with ``prepare`` (input generation and staging,
repeated to time set-up), ``warm_up`` (the first operation, its outputs
checked) and ``op`` (one timed operation).  ``OP_SECONDS`` is an
operation's nominal wall on a 4-core host: a run of ``--seconds`` performs
``round(seconds / OP_SECONDS)`` operations, so every run of a workload does
the same work.  Every output is checked against a DuckDB oracle outside the
timed spans; a mismatch is recorded with its query name and counted as a
failed operation.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd

import gen
from tracing import PHASE_PROPERTY, SPAN_PROPERTY


class Workload:
    """Shared plumbing: operation accounting, oracle checks and the
    local properties that tag Spark jobs in the event log."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: dict[str, dict[str, list]] = {}
        self.oracle_s = 0.0

    def sample(self, key: str, value) -> None:
        """Record a sample under the current phase (setup, baseline or
        measure), so traced and untraced operations never mix."""
        self.samples.setdefault(self.ctx.phase, {}).setdefault(key, []).append(value)

    def events_per_s(self, phase: str) -> float | None:
        """Input rows over the wall of the calls that ingested them."""
        ingest = self.samples.get(phase, {}).get("ingest", [])
        wall = sum(w for _, w in ingest)
        return sum(r for r, _ in ingest) / wall if wall else None

    def query_ms(self, phase: str) -> list[float]:
        """The samples the query percentiles are taken over."""
        return self.samples.get(phase, {}).get("query_ms", [])

    def tag(self, span_kind: str) -> None:
        """Tag the Spark jobs started from here on (traced runs only)."""
        if self.ctx.event_log:
            self.spark.sparkContext.setLocalProperty(PHASE_PROPERTY, self.ctx.phase)
            self.spark.sparkContext.setLocalProperty(SPAN_PROPERTY, span_kind)

    def attempt(self, name: str, fn):
        """Run one operation; a raise is a failed operation, not a crash."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - recorded and reported per op
            self.failures.append(f"{name}: raised {type(e).__name__}: {str(e)[:200]}")
            return None

    def check(self, name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> None:
        """Compare one output with its oracle twin (``verify_local.compare``);
        a mismatch turns the last attempted operation into a failure."""
        problems = self.oracle(lambda: self.ctx.compare(name, spark_pdf, duck_pdf))
        if problems:
            self.failures.append(f"{name}: " + "; ".join(problems)[:300])

    def oracle(self, fn):
        """Run checking work: spanned, and kept out of set-up time."""
        t0 = time.perf_counter()
        with self.tracer.span("oracle"):
            out = fn()
        self.oracle_s += time.perf_counter() - t0
        return out

    def duck(self, sql: str, con=None) -> pd.DataFrame:
        return self.oracle(lambda: (con or self.con).execute(sql).fetchdf())

    def read(self, name: str, build, oracle_sql: str) -> None:
        """One read: build the DataFrame, collect it to pandas (as a Dash
        callback does), then check it against its DuckDB twin."""
        ctx = self.ctx

        def run():
            self.tag("read")
            t0 = time.perf_counter()
            with self.tracer.span("operators.serving.read") as sp:
                with self.tracer.span("operators.serving.build", build=True):
                    df = build()
                t1 = time.perf_counter()
                with self.tracer.span("spark.plan_exec_collect"):
                    pdf = df.toPandas()
            t2 = time.perf_counter()
            self.sample("query_ms", (t2 - t0) * 1e3)
            if sp is not None:
                self.sample("read_build_ms", (t1 - t0) * 1e3)
                self.sample("read_exec_ms", (t2 - t1) * 1e3)
                self.sample("read_py4j", sp["py4j_calls"])
                with self.tracer.span("trace.catalyst_probe"):
                    self.sample("plan_ms", ctx.catalyst_ms(df))
            return pdf

        pdf = self.attempt(name, run)
        if pdf is not None:
            self.check(name, pdf, self.duck(oracle_sql))


# ---------------------------------------------------------------------------
# live_dashboard
# ---------------------------------------------------------------------------


class LiveDashboard(Workload):
    """Thirty days of events staged as ``CHUNKS`` time-ordered chunks.  Each
    operation is one dashboard cycle: a chunk lands, the serving table is
    refreshed, then ``READS`` seeded reads."""

    DAYS = 30
    CHUNKS = 6
    READS = 8  # two of each read kind per cycle, in seeded order
    OP_SECONDS = 4.0
    TRACED_PAIRS = 2
    KEYS = ["event_type", "time"]

    def prepare(self, rep_dir: str) -> dict:
        from bigdatapipeline_steamreviews_spark.streaming.summarizer import (
            stage_events_for_replay,
        )

        t0 = time.perf_counter()
        tables = {"events": gen.events(self.ctx.seed, n=100_000, days=self.DAYS, users=1_500)}
        sf_dir = os.path.join(rep_dir, "sf")
        gen.write_sf_dir(sf_dir, tables, self.ctx.table_names)
        t1 = time.perf_counter()
        staged = os.path.join(rep_dir, "staged")
        self.tag("stage")
        with self.tracer.span("sources.stage_events_for_replay"):
            stage_events_for_replay(self.spark, sf_dir, staged, chunks=self.CHUNKS)
        t2 = time.perf_counter()
        self.sf_dir, self.staged_dir, self.rep_dir = sf_dir, staged, rep_dir
        return {"gen_s": t1 - t0, "stage_s": t2 - t1, "stats": gen.stats(tables)}

    def warm_up(self) -> None:
        from bigdatapipeline_steamreviews_spark.streaming.summarizer import (
            events_file_stream,
            streaming_daily_summary,
        )

        self.chunks = sorted(
            (f for f in os.listdir(self.staged_dir) if f.endswith(".parquet")),
            key=lambda f: os.path.getmtime(os.path.join(self.staged_dir, f)),
        )
        self.src_dir = os.path.join(self.rep_dir, "landing")
        self.serving_dir = os.path.join(self.rep_dir, "serving", "daily")
        self.ckpt = os.path.join(self.rep_dir, "ckpt_serving")
        os.makedirs(self.src_dir)
        self.landed: list[str] = []
        self.rng = np.random.default_rng(self.ctx.seed + 1)
        self.con = self.ctx.duck_connect(self.sf_dir)
        stream = events_file_stream(self.spark, self.src_dir)
        self.result = streaming_daily_summary(stream)
        self.op(0)

    def op(self, i: int) -> bool:
        from bigdatapipeline_steamreviews_spark.streaming.serving_sink import (
            materialize_stream_to_serving,
        )

        if len(self.landed) == len(self.chunks):
            return False
        name = self.chunks[len(self.landed)]
        os.rename(os.path.join(self.staged_dir, name), os.path.join(self.src_dir, name))
        self.landed.append(os.path.join(self.src_dir, name))
        rows = self.ctx.parquet_rows(self.landed[-1])

        def refresh():
            self.tag("refresh")
            t0 = time.perf_counter()
            with self.tracer.span("streaming.serving_sink.materialize_stream_to_serving"):
                query = materialize_stream_to_serving(
                    self.result, self.serving_dir, self.KEYS, self.ckpt
                )
            wall = time.perf_counter() - t0
            self.sample("freshness_ms", wall * 1e3)
            self.sample("ingest", (rows, wall))
            self.ctx.record_stream(wall, str(query.runId))
            return query

        if self.attempt("serving_refresh", refresh) is not None:
            self.check_serving()
        # Chunks split the time range at row quantiles of uniform timestamps,
        # so about this many days have landed.
        days = self.DAYS * len(self.landed) // self.CHUNKS
        for kind in self.rng.permutation(np.arange(self.READS) % 4):
            self.dashboard_read(int(kind), days)
        return True

    def check_serving(self) -> None:
        """The serving table equals ``FLAGSHIP_ORACLE`` over the landed days."""
        from bigdatapipeline_steamreviews_spark.registry import FLAGSHIP_ORACLE

        files = ", ".join(f"'{p}'" for p in self.landed)
        self.con.execute(
            "CREATE OR REPLACE TEMP VIEW events AS SELECT event_id, make_timestamp(ts) AS ts,"
            f" user_id, event_type, value, props FROM read_parquet([{files}])"
        )
        expected = self.duck(FLAGSHIP_ORACLE)
        served = self.oracle(lambda: self.ctx.read_parquet_dir(self.serving_dir))
        self.check("serving_table", served, expected)

    def dashboard_read(self, kind: int, days: int) -> None:
        """One read of ``kind`` (global rollup, monthly rollup, top-N or the
        event-type dropdown) at a seeded drill-down level and a seeded day
        among the first ``days``."""
        from pyspark.sql import functions as F

        from bigdatapipeline_steamreviews_spark.operators.aggregations import (
            global_rollup,
            monthly_rollup,
        )
        from bigdatapipeline_steamreviews_spark.operators.serving import (
            distinct_values,
            hierarchical_time_filter,
            top_n,
            with_date_parts,
        )
        from bigdatapipeline_steamreviews_spark.registry import _avg_exact_sql

        level = int(self.rng.integers(0, 4))
        day = int(self.rng.integers(1, days + 1))
        year, month, dd = (2024 if level > 0 else None), (1 if level > 1 else None), (
            day if level > 2 else None
        )
        conds = [c for c, v in (("time_year = 2024", year), ("time_month = 1", month),
                                (f"time_day = {day}", dd)) if v is not None]
        where = ("WHERE " + " AND ".join(conds)) if conds else ""
        src = (
            "(SELECT *, year(time) AS time_year, month(time) AS time_month,"
            f" day(time) AS time_day FROM read_parquet('{self.serving_dir}/*.parquet'))"
        )
        spark, path = self.spark, self.serving_dir

        def served():
            return with_date_parts(spark.read.parquet(path))

        if kind == 0:
            metrics = ["A_value", "A_k", "T_events", "T_conversions"]
            build = lambda: global_rollup(  # noqa: E731
                hierarchical_time_filter(served(), year, month, dd), metrics
            )
            sql = (
                f"SELECT event_type, {_avg_exact_sql('A_value')} AS A_value,"
                f" {_avg_exact_sql('A_k')} AS A_k,"
                " CAST(sum(T_events) AS BIGINT) AS T_events,"
                f" CAST(sum(T_conversions) AS BIGINT) AS T_conversions FROM {src} {where}"
                " GROUP BY event_type"
            )
            name = "read_global_rollup"
        elif kind == 1:
            keys = ["event_type", "time_year", "time_month"]
            build = lambda: monthly_rollup(served(), ["A_value", "T_events", "T_high"], keys)  # noqa: E731
            sql = (
                f"SELECT event_type, time_year, time_month, {_avg_exact_sql('A_value')} AS A_value,"
                " CAST(sum(T_events) AS BIGINT) AS T_events,"
                f" CAST(sum(T_high) AS BIGINT) AS T_high FROM {src}"
                " GROUP BY event_type, time_year, time_month"
            )
            name = "read_monthly_rollup"
        elif kind == 2:
            order = [F.col("T_events").desc(), F.col("event_type"), F.col("time")]
            build = lambda: top_n(  # noqa: E731
                hierarchical_time_filter(served(), year, month, dd), order, 5
            ).select("event_type", "time", "T_events", "A_value")
            sql = (
                f"SELECT event_type, time, T_events, A_value FROM {src} {where}"
                " ORDER BY T_events DESC, event_type, time LIMIT 5"
            )
            name = "read_top_n"
        else:
            build = lambda: distinct_values(spark.read.parquet(path), "event_type")  # noqa: E731
            sql = f"SELECT DISTINCT event_type FROM {src}"
            name = "read_distinct_types"
        self.read(name, build, sql)


# ---------------------------------------------------------------------------
# curation_batch
# ---------------------------------------------------------------------------

CURATION = {
    "dedup": [
        "x1_exact_dedup",
        "x1_paragraph_dedup",
        "x2_minhash_lsh",
        "x2_simhash",
        "x2_ngram_jaccard",
    ],
    "similarity": [
        "x3_cosine_topk_blas",
        "x3_pq_adc_topk",
        "x3_ivf_pq_residual",
        "x3_ivf_pq_rerank",
    ],
    "text": ["x4_tfidf_top_terms", "x4_quality_score"],
}


class CurationBatch(Workload):
    """Each operation is one pass over the curation queries through a noop
    sink.  The warm-up pass collects every query instead and checks it
    against its own ``oracle_sql()`` entry, once per run.  The corpus is
    shaped like the reference's (``gen.VOCAB``) at a fifth of its
    scale-factor-0.1 row counts, so that a run holds two passes."""

    DOCS = 1_000
    VECTORS = 400
    OP_SECONDS = 6.0
    TRACED_PAIRS = 1

    def prepare(self, rep_dir: str) -> dict:
        t0 = time.perf_counter()
        tables = {
            "documents": gen.documents(self.ctx.seed, n=self.DOCS),
            "embeddings": gen.embeddings(self.ctx.seed, n=self.VECTORS),
        }
        sf_dir = os.path.join(rep_dir, "sf")
        gen.write_sf_dir(sf_dir, tables, self.ctx.table_names)
        self.sf_dir = sf_dir
        return {"gen_s": time.perf_counter() - t0, "stage_s": 0.0, "stats": gen.stats(tables)}

    def warm_up(self) -> None:
        from bigdatapipeline_steamreviews_spark.registry import REGISTRY

        con = self.ctx.duck_connect(self.sf_dir)
        for group, names in CURATION.items():
            for q in names:
                self.spark.catalog.clearCache()
                pdf = self.attempt(q, lambda q=q: REGISTRY[q].fn(self.spark, self.sf_dir).toPandas())
                if pdf is not None:
                    self.check(q, pdf, self.duck(REGISTRY[q].oracle, con))

    def op(self, i: int) -> bool:
        from bigdatapipeline_steamreviews_spark.registry import REGISTRY

        t_pass = time.perf_counter()
        for group, names in CURATION.items():
            for q in names:
                self.spark.catalog.clearCache()

                def run(q=q, group=group):
                    self.tag("build")
                    t0 = time.perf_counter()
                    with self.tracer.span("registry.build", build=True, group=group, query=q) as sp:
                        df = REGISTRY[q].fn(self.spark, self.sf_dir)
                    t1 = time.perf_counter()
                    if sp is not None:
                        self.sample(f"build_s.{group}", t1 - t0)
                        self.sample(f"build_py4j.{group}", sp["py4j_calls"])
                        with self.tracer.span("catalyst.plan"):
                            self.sample("plan_ms", self.ctx.catalyst_ms(df, force=True))
                    self.tag("exec")
                    with self.tracer.span("spark.execute", group=group):
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                    self.sample(f"query_ms.{q}", (t2 - t0) * 1e3)
                    if sp is not None:
                        self.sample(f"query_s.{group}", t2 - t0)

                self.attempt(q, run)
        wall = time.perf_counter() - t_pass
        self.sample("freshness_ms", wall * 1e3)
        self.sample("ingest", (self.DOCS + self.VECTORS, wall))
        return True

    def query_ms(self, phase: str) -> list[float]:
        """Each query's median over the passes: the eleven queries differ
        tenfold in cost, so a percentile over them describes the query mix
        only when each query counts once."""
        return [
            statistics.median(v)
            for k, v in self.samples.get(phase, {}).items()
            if k.startswith("query_ms.")
        ]


WORKLOADS = {
    "live_dashboard": LiveDashboard,
    "curation_batch": CurationBatch,
}
