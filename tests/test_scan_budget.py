"""Standing recompute gate (r12 VERDICT item #3): every iterative /
multi-consumer declared query's total stage input records must stay within
its declared budget in tools/scan_budget.py — the generalization of the
ReusedExchange plan gate that catches the silent-re-execution class the
round-12 audit fixed (corpus re-scans per propagation round / per
consumer).

Runs in the test session: the gate reads stage input records from Spark's
status store, which the session keeps with the UI off.  Each entry clears
the cache first, so no earlier test's persist() is substituted into its
plan."""

import os


def test_iterative_queries_within_scan_budget(spark, sf_dir):
    from tools.scan_budget import BUDGETS, run_gate

    records = run_gate(spark, sf_dir)
    assert [r for r in records if not r["ok"]] == [], "scan budget breached"
    assert {r["query"] for r in records} == set(BUDGETS)
    assert all(r["input_records"] > 0 for r in records), (
        "zero input records — the status-store metric source is broken, the "
        "gate would pass vacuously")


def test_scan_budget_reader_counts_scanned_rows(spark, sf_dir):
    """The reader itself, independent of any budget entry: a parquet read
    inputs exactly its rows (also when its job group is reused in the
    session), and the delta around a call that runs no Spark job is 0."""
    from tools.scan_budget import delta_input_records, gated_input_records

    path = os.path.join(sf_dir, "nation.parquet")
    rows = spark.read.parquet(path).count()
    assert rows > 0
    for _ in range(2):
        got = gated_input_records(spark, lambda s, _d: s.read.parquet(path),
                                  sf_dir, "scan-budget-reader")
        assert got == rows
    # an inline VALUES table collects on the driver: no job, no stage
    assert delta_input_records(
        spark, lambda s, _d: s.sql("VALUES (1)"), sf_dir) == 0


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
