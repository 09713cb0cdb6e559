#!/usr/bin/env python
"""Per-query physical-plan snapshots — plan-drift detection across rounds.

The plan lint (`plans/lint.py`) checks invariants (no cartesian products,
no row-Python, broadcasts where asserted) but not DRIFT: a lost broadcast
or a new exchange that the lint rules don't name slips through silently,
visible only as a bench regression with no artifact to diff.  This script
records, for EVERY batch query in the registry (round 12 — previously
the 34-query bench headline set; the round-11 uniform-noise diagnosis
leaned on plan identity, which then covered 15% of the registry), the
normalized physical-plan operator skeleton and its hash into
``PLANS.json`` at the repo root.  Commit the file each round: `git diff PLANS.json` then shows
exactly which query's plan changed shape and how (the `ops` list), before
any timing number moves.

Streaming queries are skipped — invoking them executes the replay and the
returned memory-table scan carries no plan worth diffing.

Usage: python scripts/plan_snapshot.py [sf_dir]   (default sf0.1 testdata)
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdatapipeline_steamreviews_spark import get_spark, queries  # noqa: E402
from bigdatapipeline_steamreviews_spark.plans.lint import plan_text  # noqa: E402

# Volatile tokens that differ run-to-run without the plan changing shape:
# expression ids, codegen/plan ids, staged-file paths, stats, object hashes.
_VOLATILE = [
    (re.compile(r"#\d+L?"), "#x"),
    (re.compile(r"plan_id=\d+"), "plan_id=x"),
    (re.compile(r"\[id=#?x?\d*\]"), "[id=x]"),
    (re.compile(r"file:[^\],\s]+"), "file:x"),
    (re.compile(r"@[0-9a-f]{6,}"), "@x"),
    (re.compile(r"Statistics\([^)]*\)"), "Statistics(x)"),
    (re.compile(r"\d+ paths"), "N paths"),
    # Higher-order-function lambda variables are numbered by a SESSION-global
    # counter (lambda x_2 / lambda x_35 for the same plan), so any query
    # planned earlier in the process shifts them — normalize the ordinal.
    (re.compile(r"lambda ([A-Za-z]+)_\d+"), r"lambda \1_n"),
]

def normalize(plan: str) -> str:
    for pat, repl in _VOLATILE:
        plan = pat.sub(repl, plan)
    return plan


def op_skeleton(plan: str) -> list[str]:
    """The tree's operator names, top-down, indentation preserved via
    depth prefixes — the human-diffable shape of the plan."""
    ops = []
    for line in plan.splitlines():
        stripped = line.lstrip(" :+-*(")
        m = re.match(r"(\d+\) )?([A-Z][A-Za-z0-9]+)", stripped)
        if m and not stripped.startswith(("Output", "Input", "Arguments",
                                          "Functions", "Keys", "Results",
                                          "Condition", "Join", "Location",
                                          "ReadSchema", "PushedFilters",
                                          "Batched")):
            depth = (len(line) - len(line.lstrip(" :+-*"))) // 3
            ops.append("  " * depth + m.group(2))
    return ops


# The EXPLICIT exclusion list (round-13 verdict ask: every registry
# entry is either in PLANS.json or named here with a reason).  All of
# them are Structured Streaming queries: invoking the registry fn RUNS the
# replay to completion and returns a scan of the results memory table —
# a LocalTableScan/memory-scan leaf that carries none of the streaming
# plan (micro-batch plans are per-trigger and embed checkpoint paths,
# batch ids, and state-store instances; they are not stable artifacts).
# Their plan-adjacent invariants are gated elsewhere: state-operator
# presence and watermark wiring in tests/test_streaming*.py, twin
# equivalence (stream result == batch oracle) per query in the driver
# compare, and the batch HALF of each twin (the shared transformation)
# IS snapshotted via its batch registry sibling.
# ``tests/test_plans.py::test_plan_snapshot_covers_entire_registry``
# asserts registry == PLANS.json + this list, with no stale names.
PLAN_SNAPSHOT_EXCLUDED: dict[str, str] = {
    name: reason
    for names, reason in (
        (
            (
                "stream_daily_summary",
                "stream_daily_summary_watermarked",
                "stream_dedup_daily_summary",
                "stream_enriched_summary",
                "stream_sliding_summary",
                "stream_weekly_from_daily",
                "stream_multi_source_union",
                "stream_pyds_review_summary",
                "stream_pyds_serving_store",
                "stream_table_checksum",
                "stream_topn_users",
                "stream_hll_distinct_users",
                "stream_serving_materialization",
            ),
            "file-replay twin: fn executes the micro-batch replay and "
            "returns the results memory-table scan (no stable plan); the "
            "shared batch transformation is snapshotted via its batch "
            "sibling and the twin is driver-oracled end-to-end",
        ),
        (
            (
                "stream_sessionization",
                "stream_sessionization_disordered",
                "stream_session_window_builtin",
                "stream_session_window_dynamic_gap",
                "stream_user_ewma",
                "stream_user_ewma_disordered",
                "stream_event_transitions",
                "stream_transitions_disordered",
                "stream_state_inspection",
                "stream_dedup_bounded_state",
                "stream_document_ingest_dedup",
                "stream_quantile_sketch",
                "stream_curation_pipeline",
                "stream_curation_semantic",
            ),
            "stateful replay (applyInPandasWithState / dropDuplicates "
            "state): per-trigger plans embed state-store instances and "
            "batch ids — not a stable snapshot artifact; state wiring is "
            "pytest-gated and the emitted set is driver-oracled",
        ),
        (
            (
                "stream_stream_click_purchase",
                "stream_click_purchase_full_outer",
                "stream_click_abandonment",
                "stream_orphan_events",
            ),
            "stream-stream join replay: per-trigger plans embed join "
            "state-store instances; watermark-bounded state growth is "
            "probed at 30x and the closed set is driver-oracled",
        ),
    )
    for name in names
}


def snapshot_names() -> list[str]:
    """Every registry query the snapshot covers: all batch entries.
    Everything not here must appear in PLAN_SNAPSHOT_EXCLUDED with a
    reason (asserted by tests/test_plans.py); the staged/incremental
    ANN paths, whose builds are one-time and fingerprint-cached, ARE
    gated."""
    return sorted(n for n in queries() if n not in PLAN_SNAPSHOT_EXCLUDED)


def compute_plan_texts(
    spark, sf_dir: str, names: list[str] | None = None
) -> dict[str, str]:
    """{query: RAW executed-plan text} — ONE registry invocation per
    batch query, shared by every plan gate (drift snapshot + lint) so
    the suite compiles each plan once, not once per gate (round-14
    suite wall-time fix: the two registry-wide tests each re-derived
    all ~213 plans, 234 s of the 18-minute suite)."""
    # Untruncated scan metadata: the default 100-char cut moves with the
    # (session-global) lambda-variable ordinal width, so a truncated
    # DataFilters string is order-sensitive even after normalization.
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    regs = queries()
    return {
        name: plan_text(regs[name](spark, sf_dir))
        for name in (names if names is not None else snapshot_names())
    }


def snapshots_from_texts(texts: dict[str, str]) -> dict[str, dict]:
    """{query: {hash, ops}} from already-derived raw plan texts."""
    out: dict[str, dict] = {}
    for name, raw in texts.items():
        norm = normalize(raw)
        out[name] = {
            "hash": hashlib.md5(norm.encode()).hexdigest()[:12],
            "ops": op_skeleton(norm),
        }
    return out


def compute_snapshots(
    spark, sf_dir: str, names: list[str] | None = None
) -> dict[str, dict]:
    """{query: {hash, ops}} for every batch query in the registry (or
    the given subset).  Importable so ``tests/test_plans.py`` can
    re-derive the shapes and diff them against the committed PLANS.json
    (the drift GATE; this script is the re-bless step)."""
    return snapshots_from_texts(compute_plan_texts(spark, sf_dir, names))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark("plan-snapshot")
    out = compute_snapshots(spark, sf_dir)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "PLANS.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {path}: {len(out)} plans")
    spark.stop()


if __name__ == "__main__":
    main()
