"""Standing recompute gate (r12 VERDICT item #3): every iterative /
multi-consumer declared query's total stage input records must stay within
its declared budget in tools/scan_budget.py — the generalization of the
ReusedExchange plan gate that catches the silent-re-execution class the
round-12 audit fixed (corpus re-scans per propagation round / per
consumer).

Runs as ONE subprocess: the gate needs a UI-enabled session for the REST
stage metrics, and the engine session keeps the UI off outside
SPARK_GRAFT_PROFILE_UI=1.  The subprocess runs with a 1g driver heap
(measured: the gate passes with ~2.1 GB peak RSS for the whole process
tree at sf0.001), not the engine's 8g default: with -Xms = -Xmx, a second
8g JVM next to the test session's own exhausts a 16 GB host and kills
the session JVM the rest of the suite runs on."""

import json
import os
import subprocess
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_iterative_queries_within_scan_budget():
    proc = subprocess.run(
        [sys.executable, os.path.join(_ROOT, "tools", "scan_budget.py"),
         "--check"],
        capture_output=True, text=True, timeout=900, cwd=_ROOT,
        env={**os.environ, "SPARK_DRIVER_MEMORY": "1g"})
    lines = [json.loads(l) for l in proc.stdout.splitlines()
             if l.startswith("{")]
    assert proc.returncode == 0, (
        f"scan budget breached: "
        f"{[l for l in lines if not l.get('ok')] or proc.stderr[-2000:]}")
    from tools.scan_budget import BUDGETS
    assert {l["query"] for l in lines} == set(BUDGETS)
    assert all(l["input_records"] > 0 for l in lines), (
        "zero input records — the REST metric source is broken, the gate "
        "would pass vacuously")


def test_compare_discover_drift_report(tmp_path):
    """The standing full-set drift audit (r14 VERDICT item #4): the
    comparer must flag >25% movers and one-sided names, and pass stable
    and mildly-jittering queries."""
    from tools.scan_budget import compare_discover

    base = tmp_path / "base.jsonl"
    base.write_text("\n".join([
        '{"query": "stable", "input_records": 1000}',
        '{"query": "jitter", "input_records": 1000}',
        '{"query": "regressed", "input_records": 1000}',
        '{"query": "removed", "input_records": 500}',
    ]))
    rows = [(1000, "stable"), (1200, "jitter"), (2100, "regressed"),
            (300, "added")]
    drifted = compare_discover(rows, str(base))
    names = {d[0] for d in drifted}
    assert names == {"regressed", "removed", "added"}
    reg = next(d for d in drifted if d[0] == "regressed")
    assert reg[1] == 1000 and reg[2] == 2100 and reg[3] == 2.1
