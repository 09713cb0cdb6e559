#!/usr/bin/env python
"""Compose a min-over-sessions bench artifact from whole-run sessions
(r15/r16 close protocol, r17 verdict ask #2: the credible stamp on a
hypervisor-stolen box).

Usage: python scripts/bench_compose.py SESSIONS.jsonl [OUT.json]

Each input line is a full bench.py artifact (the sidecar shape: queries +
samples + steal).  Output: the same schema with per-query min across
sessions, per-query steal of the winning session, n_sessions, and the
session steal range, ``min_over_sessions: true`` and ``kept_over_gate``
(the queries whose winning session ran over the steal gate) — it passes
scripts/bench_close.py --gate when that list is empty.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import build_output, compact_output  # noqa: E402
from bench_close import kept_over_gate  # noqa: E402


def main() -> None:
    src = sys.argv[1]
    out_path = sys.argv[2] if len(sys.argv) > 2 else "BENCH_r17_composite.json"
    sessions = []
    with open(src) as f:
        for line in f:
            line = line.strip()
            if line:
                sessions.append(json.loads(line))
    if not sessions:
        sys.exit("no sessions")
    per_query: dict[str, float] = {}
    samples: dict[str, list] = {}
    steal: dict[str, float] = {}
    # The universe is every query any session timed: a query that failed
    # in the last session keeps its best time from the earlier ones.
    names = list(dict.fromkeys(n for s in sessions for n in s.get("queries", {})))
    for name in names:
        best = None
        for s in sessions:
            v = s.get("queries", {}).get(name)
            if v is None:
                continue
            if best is None or v < best[0]:
                best = (
                    v,
                    s.get("samples", {}).get(name, [v]),
                    s.get("steal_pct", {}).get(name),
                )
        if best is not None:
            per_query[name] = best[0]
            samples[name] = best[1]
            if best[2] is not None:
                steal[name] = best[2]
    out = build_output(
        per_query, {}, len(names), sessions[-1].get("sf_dir", "/root/testdata/sf0.1")
        if isinstance(sessions[-1].get("sf_dir"), str)
        else "/root/testdata/sf" + str(sessions[-1].get("sf", 0.1)),
        samples,
    )
    if steal:
        out["steal_pct"] = steal
    out["n_sessions"] = len(sessions)
    out["min_over_sessions"] = True
    out["kept_over_gate"] = kept_over_gate({n: steal.get(n) for n in per_query})
    run_steals = [
        s.get("run_steal_pct") for s in sessions if s.get("run_steal_pct") is not None
    ]
    if run_steals:
        out["session_run_steal_range"] = [min(run_steals), max(run_steals)]
    out["protocol"] = (
        f"per-query min over {len(sessions)} whole-run sessions "
        "(scripts/bench_compose.py; host-steal close protocol)"
    )
    with open(out_path, "w") as f:
        json.dump(out, f)
        f.write("\n")
    print(json.dumps(compact_output(out)))


if __name__ == "__main__":
    main()
