"""Standing recompute gate: iterative / multi-consumer queries must not
re-execute their upstream pipelines (r12 VERDICT item #3).

The round-12 audit found five silent-re-execution instances by manual
profiling — connected-components re-scanning the corpus once per
propagation round (10-17 scans per query), the dedup funnel re-running its
survivor stage per consumer, k-means re-sampling per Lloyd iteration.  The
class recurs whenever a new iterative query is added, so this tool pins
each one's TOTAL STAGE INPUT RECORDS (file-scan rows + re-read
cache/checkpoint rows, read per completed stage attempt from Spark's
status store, sc.statusStore(), which the session keeps with the UI off)
against a declared budget at sf0.001.

A corpus re-scan per round multiplies the dominant term by the round
count, so budgets sit ~2x above the measured healthy value: a regression
back into the 10x class trips the gate with huge margin, while ordinary
row-count jitter (AQE re-plans, convergence-round variance on tiny data)
stays inside.

Usage:  python tools/scan_budget.py [--check] [query ...]
  default: measure and print one line per gated query
  --check: exit 1 if any measured total exceeds its budget
  --discover [--compare PATH]: audit ALL declared queries (input records
    per query, descending).  With --compare, also print every query
    whose input records drifted >25% against a prior discover output
    (the committed per-round baseline tools/discover_baseline.jsonl) —
    the standing full-set fan-out drift audit (r14 VERDICT item #4),
    so NEW recompute regressions surface even outside the budgeted
    names.  Always exit 0 in discover mode: drift is adjudicated in
    tools/REHEARSALS.md (one line per round), not auto-failed —
    legitimate plan rewrites move these numbers.
tests/test_scan_budget.py runs the same gate (run_gate) in the test
session.  Every gate entry first clears the cache, so an earlier query's
persist() is not substituted into its plan.  Discover mode does not: its
committed baseline was taken without clearing.

Scoping: batch queries are job-group scoped (setJobGroup + statusTracker).
Structured-Streaming micro-batch jobs run on the stream's OWN thread under
the stream's runId job group, so the ``streaming_*`` entries are
DELTA-scoped instead: new completed stage attempts between a before/after
read of the status store (sound because the gate runs queries serially
in one session and asserts that no streaming query is active).  A
streaming regression that re-executes the static side per micro-batch —
the class the r13 verdict named — shows up directly in the delta.

Watch note (r13 VERDICT item #5) — six queries were A/B'd and
DELIBERATELY left redundant (every sharing mechanism measured slower
locally; see tools/REHEARSALS.md): lineitem_robust_stats,
lineitem_cramers_v, part_basket_lift, brand_assoc_rules,
alsobought_ndcg_eval, order_interval_overlap.  Their EXPECTED
input-record ratios are ~2x their one-pass cost (two consumers of one
upstream frame).  Since r14 the watch is ENFORCED: their BUDGETS
entries pin the documented two-consumer level at ~1.3x margin, so a
THIRD consumer appearing (~+50% records) trips the gate as new fan-out
to adjudicate instead of hiding behind the known redundancy.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# budget ~= measured-healthy x 1.5.  Input records are DETERMINISTIC row
# counts for fixed data and code (not timings), so a tight margin is
# safe — and necessary: re-introducing the exact r12 bug (dropping only
# connected_components' edge-list materialization) at sf0.001 raises
# dedup_components from the healthy 1200 to 2372, i.e. only ~2x at this
# tiny scale (few propagation rounds, 500-row corpus); a 2.5x budget
# would wave it through.  Measured healthy values, r13 at sf0.001:
# dedup_components 1200, dedup_keep 1138, doc_dedup_pipeline 3138,
# spatial_knn 43, spatial_knn_grid 1059, spatial_kmeans 600,
# ivfpq_ann_recall 2500, brand_pagerank 24225, part_bfs_distance 32722,
# part_label_propagation 20144, part_kcore 19944.
BUDGETS = {
    # near-dup funnel (fixed r12: edge list + survivors materialized once)
    "dedup_components": 1_800,
    "dedup_keep": 1_700,
    "doc_dedup_pipeline": 4_700,
    # adaptive-KNN radius rounds (fixed r12: per-round checkpoints)
    "spatial_knn": 100,
    "spatial_knn_grid": 1_600,
    # Lloyd iterations over a materialized sample (fixed r12)
    "spatial_kmeans": 900,
    "ivfpq_ann_recall": 3_800,
    # fixed-round graph iterations (label tables re-read per round)
    "brand_pagerank": 36_000,
    "part_bfs_distance": 49_000,
    "part_label_propagation": 30_000,
    "part_kcore": 30_000,
    # r13 one-pass rewrites (sweep events via inline(); year/group/side
    # splits via conditional aggregation; scalar branches folded into
    # the main aggregate) — measured post-rewrite values in comments;
    # the old two-branch shapes sat at ~2x
    "order_backlog_sweepline": 11_500,      # 7500 (was 15000)
    "lineitem_price_index": 11_500,         # 7500 (was 15000)
    "brand_price_volume_mix": 11_500,       # 7700 (was 15200)
    "ship_survival_km": 11_500,             # 7500 (was 13500)
    "orders_littles_law": 11_500,           # 7500 (was 13500)
    "lineitem_effect_size": 9_000,          # 6000 (was 12000)
    "lineitem_discount_rdd": 9_000,         # 6000 (was 12000)
    # streaming tier (r14, r13 VERDICT item #3) — DELTA-scoped (see
    # module docstring): availableNow micro-batch jobs escape the job
    # group.  Measured healthy values, r14 at sf0.001 (events = 1000
    # rows): one events pass for the single-stream shapes; enrich adds
    # the 150-row broadcast dim once (1150 — a regression re-reading the
    # dim per micro-batch would scale with batch count); click_view_join
    # reads events twice (two stream sides, 2000); outer_join 3000
    # (two sides + the outer null-extension finalization pass);
    # cdc_upsert 3218 (events + foreachBatch MERGE re-reading the
    # snapshot layer per batch — the budget pins the batch count).
    "streaming_user_totals": 1_500,         # 1000
    "streaming_sessionize": 1_500,          # 1000
    "streaming_dedup": 1_500,               # 1000
    "streaming_enrich": 1_800,              # 1150
    "streaming_click_view_join": 3_000,     # 2000
    "streaming_ingest_gate": 1_500,         # 1000
    "streaming_window_top_event": 1_500,    # 1000
    "streaming_burst_detect": 1_500,        # 1000
    "streaming_cms_cells": 1_500,           # 1000
    "streaming_cdc_upsert": 4_800,          # 3218
    "streaming_outer_join_watermark": 4_500,  # 3000
    # deliberately-redundant watch (r14, r13 VERDICT item #5): these six
    # were A/B'd and LEFT redundant (two consumers re-execute one small
    # upstream frame — every sharing mechanism measured slower locally;
    # tools/REHEARSALS.md r13).  Their budgets pin the DOCUMENTED
    # two-consumer level, not a one-pass value: a third consumer adds
    # ~50% input records (one more upstream re-execution), so ~1.3x
    # margins catch it while row-count jitter stays inside.  Measured
    # r14 at sf0.001 in comments.
    "lineitem_robust_stats": 39_000,        # 30000 (2-consumer)
    "lineitem_cramers_v": 31_000,           # 24000 (2-consumer)
    "part_basket_lift": 24_000,             # 18600 (2-consumer)
    "brand_assoc_rules": 24_000,            # 18400 (2-consumer)
    "alsobought_ndcg_eval": 19_500,         # 15000 (2-consumer)
    "order_interval_overlap": 21_500,       # 16500 (2-consumer)
}


def _completed_stages(spark):
    """{(stageId, attemptId): inputRecords} over every completed stage
    attempt in the status store.  Waits for the listener bus to deliver
    every event posted so far first: the store is fed asynchronously, so
    a read right after collect() could miss a just-completed stage.  Keyed
    per attempt: a retried attempt pays its own input records."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    jvm = sc._jvm
    stages = jsc.statusStore().stageList(
        [jvm.org.apache.spark.status.api.v1.StageStatus.COMPLETE],
        False, False, sc._gateway.new_array(jvm.double, 0), [])
    return {(st.stageId(), st.attemptId()): st.inputRecords()
            for st in jvm.scala.jdk.javaapi.CollectionConverters.asJava(
                stages)}


def delta_input_records(spark, fn, sf_dir: str) -> int:
    """Total inputRecords of stage attempts that COMPLETED while the
    callable ran.

    Used for the streaming_* entries: availableNow micro-batch jobs run on
    the stream's own thread under the stream's runId job group, so the
    job-group scoper below cannot see them.  Sound because entries run
    serially and no streaming query is active before this one starts:
    every new completed stage between the reads belongs to this query
    (its batch setup jobs AND every micro-batch job, including
    foreachBatch work)."""
    if spark.streams.active:
        raise RuntimeError("a streaming query is active: its stages would "
                           "land in the delta")
    before = _completed_stages(spark)
    fn(spark, sf_dir).collect()
    after = _completed_stages(spark)
    return sum(v for key, v in after.items() if key not in before)


def gated_input_records(spark, fn, sf_dir: str, group: str) -> int:
    """Total inputRecords over every stage of every job the callable ran,
    scoped by job group via statusTracker + the status store.  Jobs the
    group already held (a re-run in the same session) are left out."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    earlier = set(tracker.getJobIdsForGroup(group))
    sc.setJobGroup(group, group)
    try:
        fn(spark, sf_dir).collect()
    finally:
        sc._jsc.clearJobGroup()
    stages = _completed_stages(spark)
    stage_ids = set()
    for j in set(tracker.getJobIdsForGroup(group)) - earlier:
        ji = tracker.getJobInfo(j)
        if ji:
            stage_ids.update(ji.stageIds)
    return sum(v for (sid, _att), v in stages.items() if sid in stage_ids)


def input_records(spark, name: str, sf_dir: str) -> int:
    """One declared query's input records: delta-scoped for streaming_*
    names, job-group ``scan-budget-<name>`` scoped otherwise."""
    from sedona_iceberg_extension_spark.plans.queries import QUERIES

    if name.startswith("streaming_"):
        return delta_input_records(spark, QUERIES[name].fn, sf_dir)
    return gated_input_records(spark, QUERIES[name].fn, sf_dir,
                               f"scan-budget-{name}")


def run_gate(spark, sf_dir: str, names=None) -> list:
    """One {"query", "input_records", "budget", "ok"} record per gated
    query (every BUDGETS entry unless ``names`` is given).  Each entry
    clears the cache first: in a shared session an earlier caller's
    persist() would otherwise be substituted into its plan."""
    out = []
    for name in (names or list(BUDGETS)):
        spark.catalog.clearCache()
        got = input_records(spark, name, sf_dir)
        out.append({"query": name, "input_records": got,
                    "budget": BUDGETS[name], "ok": got <= BUDGETS[name]})
    return out


def compare_discover(rows, baseline_path, tol=0.25):
    """Drift report for discover mode: [(name, old, new, ratio)] for every
    query whose input records moved >tol vs the baseline file, plus
    queries only on one side.  Pure function (unit-tested without Spark)."""
    base = {}
    with open(baseline_path) as fh:
        for ln in fh:
            ln = ln.strip()
            if ln:
                rec = json.loads(ln)
                base[rec["query"]] = rec["input_records"]
    cur = {name: got for got, name in rows}
    drifted = []
    for name in sorted(set(base) | set(cur)):
        o, n = base.get(name), cur.get(name)
        if o is None or n is None:
            drifted.append((name, o, n, None))
        elif o == 0 or n == 0:
            if o != n:
                drifted.append((name, o, n, None))
        elif not (1 - tol) <= n / o <= (1 + tol):
            drifted.append((name, o, n, round(n / o, 2)))
    return drifted


def main() -> int:
    check = "--check" in sys.argv
    discover = "--discover" in sys.argv
    compare_path = None
    if "--compare" in sys.argv:
        compare_path = sys.argv[sys.argv.index("--compare") + 1]
    names = [a for a in sys.argv[1:] if not a.startswith("--")
             and a != compare_path]
    sf_dir = os.environ.get("SPARK_GRAFT_SCAN_BUDGET_SF_DIR",
                            "/root/testdata/sf0.001")

    from py4j.protocol import Py4JError
    from pyspark.errors import PySparkException

    from sedona_iceberg_extension_spark.plans.queries import QUERIES
    from sedona_iceberg_extension_spark.session import get_session

    spark = get_session(master="local[4]", shuffle_partitions=8)

    if discover:
        # Audit mode (not a gate): measure EVERY declared query and print
        # descending — a one-pass query near the whole-corpus row count
        # (9,890 rows at sf0.001) several times over is a recompute
        # suspect worth profiling.  Iterative queries legitimately re-read
        # their |V|/|E|-row state per round; the gate above budgets those.
        rows = []
        for name in (names or QUERIES):
            try:
                rows.append((input_records(spark, name, sf_dir), name))
            except (PySparkException, Py4JError) as e:
                print(f"# {name} failed: {e}", file=sys.stderr)
        for got, name in sorted(rows, reverse=True):
            print(json.dumps({"query": name, "input_records": got}))
        if compare_path:
            drifted = compare_discover(rows, compare_path)
            for name, o, n, ratio in drifted:
                print(f"# DRIFT {name}: {o} -> {n}"
                      f" ({'x' + str(ratio) if ratio else 'one-sided'})",
                      file=sys.stderr)
            print(f"# drift summary: {len(drifted)}/{len(rows)} queries"
                  f" beyond 25% vs {compare_path}", file=sys.stderr)
        spark.stop()
        return 0

    records = run_gate(spark, sf_dir, names)
    for rec in records:
        print(json.dumps(rec))
    spark.stop()
    return 1 if (check and not all(r["ok"] for r in records)) else 0


if __name__ == "__main__":
    sys.exit(main())
