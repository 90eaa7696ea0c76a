"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Two honestly-labeled protocols per run:

- ``true_cold`` — ONE fresh-JVM run with no page-cache prime and no
  steady-state primer: only the basic engine machinery warmup (schema
  reads, shuffle/codegen framework, Python worker fork).  This is the
  round-4-and-earlier "cold" definition, kept for cross-round continuity.
- ``steady_cold`` (the headline ``value``) — median of N fresh-JVM runs
  (default 5, env SPARK_GRAFT_BENCH_RUNS) that each first replay the
  suite at sf0.001 and then SPARK_GRAFT_PRIME_ROUNDS (default 3) times
  at sf0.01 so Spark's generated-class cache and the JVM C2 compiler
  reach the state a long-running cluster's executors live in (one
  sf0.001 replay loads the classes but leaves the hot loops un-tiered —
  see _warmup); the timed pass still does all its real I/O, shuffles
  and compute on the full-SF data, which the prime never touches.  The
  parent also primes the OS page cache first (a resident cluster's data
  is buffer-cached).
- ``warm`` — a second same-JVM pass in every steady run, per-query
  medianed across runs: pure steady-state latency.

``value`` is the steady_cold median.  Round-over-round comparisons must
compare like with like: true_cold vs true_cold, warm vs warm.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _warmup(spark, sf_dir, headline, prime_steady):
    """Pre-initialize engine machinery outside timing: file listing path,
    shuffle + codegen framework, Python worker fork + Arrow serialization.
    A long-running cluster pays these once, not per query.

    ``prime_steady`` additionally replays the headline suite once at the
    smallest scale factor (sf0.001, ~1k rows/table): the plans are
    structurally identical to the measured sf run, so codegen'd classes
    and JIT state match a resident engine's (see module docstring).  The
    true_cold protocol passes False here."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType

    from sedona_iceberg_extension_spark.sources import tables as T

    # schema/footer reads for every table (a cluster's catalog pays these
    # once at table creation, not per query) — also primes the per-session
    # plan cache load_table serves queries from
    for t in T.TABLES:
        T.load_table(spark, sf_dir, t)
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    spark.range(10_000).groupBy((F.col("id") % 8).alias("k")) \
        .count().collect()

    @F.pandas_udf(DoubleType())
    def _pdu(s):
        return s * 1.0

    spark.range(100).select(_pdu(F.col("id").cast("double"))).collect()
    spark.range(100).select(
        F.udf(lambda x: x, "long")(F.col("id"))).collect()

    if not prime_steady:
        return 0, 0
    # JIT steady state needs ITERATIONS, not just class loading: stage
    # metrics on the exact-Jaccard query's first sf0.1 pass showed its
    # shingle map stage burning 70 s of summed CPU pre-C2 vs ~2 s once
    # compiled (35x) — the sf0.001 replay loads every generated class but
    # feeds each hot loop only ~50 rows/task, far below HotSpot's tier-up
    # thresholds, so the timed pass raced the C2 compiler and the outcome
    # varied 2-12 s run to run (the driver-vs-builder irreproducibility
    # this round was chartered to explain).  Replaying the suite a few
    # times at sf0.01 (different files, 10x smaller than the measured SF)
    # accumulates enough backedges that compilation completes INSIDE the
    # prime; the timed pass then measures the engine, not the JIT race.
    # Measured, local[32]: suite first-sf0.1-pass 16.4-17.9 s with the
    # sf0.001-only prime -> 11.9 s with +3 sf0.01 rounds (round 2 and 3
    # of the prime collapse 19.9 -> 4.6 -> 4.5 s as C2 lands).
    try:
        sf01_reps = int(os.environ.get("SPARK_GRAFT_PRIME_ROUNDS", "3"))
    except ValueError:                 # malformed env must not kill the child
        print("# SPARK_GRAFT_PRIME_ROUNDS malformed; using 3", file=sys.stderr)
        sf01_reps = 3
    rounds = [("sf0.001", 1), ("sf0.01", sf01_reps)]
    base = os.path.dirname(sf_dir.rstrip("/"))
    done, failures = 0, 0
    for sf_name, reps in rounds:
        d = os.path.join(base, sf_name)
        if not os.path.isdir(d) or os.path.abspath(d) == os.path.abspath(sf_dir):
            # a skipped prime silently reproduces the pre-r10 JIT-race
            # regime under the steady label — shout, and let the caller
            # record how many rounds actually ran
            print(f"# PRIME SKIPPED: {d} missing — steady figures will be"
                  " un-primed (JIT race)", file=sys.stderr)
            continue
        for _ in range(max(0, reps)):
            ran = 0
            for name, qd in headline:
                try:
                    qd.fn(spark, d).count()
                    ran += 1
                except Exception as e:
                    failures += 1
                    print(f"# warmup {name} failed: {e}", file=sys.stderr)
            # a round where EVERY query threw primed nothing — don't let
            # primed_rounds certify it (r11 ADVICE: exceptions were
            # swallowed, so primed_rounds=4 could mask a dead warmup)
            if ran:
                done += 1
            else:
                print(f"# PRIME ROUND VOID: all {len(headline)} warmup"
                      f" queries failed at {d}", file=sys.stderr)
    return done, failures


def _timed_pass(spark, sf_dir, headline, label=""):
    times = {}
    for name, qd in headline:
        t0 = time.time()
        df = qd.fn(spark, sf_dir)
        n = df.count()  # materialize the full result
        times[name] = round(time.time() - t0, 3)
        print(f"# {label}{name}: {times[name]}s ({n} rows)", file=sys.stderr)
    return times


def _run_once(sf_dir, cpus, with_warm, prime_steady):
    from sedona_iceberg_extension_spark.plans.queries import QUERIES
    from sedona_iceberg_extension_spark.session import get_session

    spark = get_session(master=f"local[{cpus}]")
    headline = [(n, qd) for n, qd in QUERIES.items() if qd.headline]
    primed, warm_fails = _warmup(spark, sf_dir, headline, prime_steady)
    times = _timed_pass(spark, sf_dir, headline)
    warm = None
    if with_warm:
        warm = _timed_pass(spark, sf_dir, headline, label="warm ")
    spark.stop()
    return times, warm, primed, warm_fails


def _prime_page_cache(sf_dir):
    """Read the testdata once so steady runs measure compute, not cold-disk
    I/O (a long-running cluster's working set is buffer-cached).  The
    true_cold run happens BEFORE this."""
    try:
        for name in os.listdir(sf_dir):
            if name.endswith(".parquet"):
                with open(os.path.join(sf_dir, name), "rb") as fh:
                    while fh.read(1 << 22):
                        pass
    except Exception:
        pass


def _spawn_child(extra_argv):
    argv = [sys.executable, os.path.abspath(__file__), "--child"] + extra_argv
    try:
        out = subprocess.run(argv, capture_output=True, text=True,
                             timeout=600, env=dict(os.environ), check=False)
        sys.stderr.write(out.stderr[-2000:])
        for line in out.stdout.splitlines():
            if line.startswith("CHILD_JSON:"):
                return json.loads(line[len("CHILD_JSON:"):])
    except Exception as e:       # a lost child degrades n, never the bench
        print(f"# child run failed: {e}", file=sys.stderr)
    return None


# --- host telemetry (round-10: make the bench record self-diagnosing) ----
# BENCH_r09 regressed 8-21% on all protocols while builder-local runs of the
# same tree improved; the movement was near-uniform across UNTOUCHED native
# queries — the signature of host contention (CPU steal on a shared
# hypervisor, or a co-tenant pytest run), but the record couldn't show it.
# Every child run now carries /proc/stat steal+iowait deltas and the load
# average at launch, so a contended run is visible in the JSON itself.

def _proc_stat():
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        # cpu user nice system idle iowait irq softirq steal ...
        vals = [int(x) for x in parts[1:11]]
        vals += [0] * (10 - len(vals))
        return {"total": sum(vals), "idle": vals[3], "iowait": vals[4],
                "steal": vals[7]}
    except Exception:
        return None


def _loadavg():
    try:
        return round(os.getloadavg()[0], 2)
    except Exception:
        return None


def _psi_totals():
    """Monotonic PSI stall totals (µs).  Catches contention /proc/stat
    can't attribute — cgroup throttling, runqueue waits behind a co-tenant
    — as time THIS workload spent stalled rather than as host-wide tick
    shares."""
    out = {}
    for res in ("cpu", "io", "memory"):
        try:
            with open(f"/proc/pressure/{res}") as fh:
                line = fh.readline()          # "some avg10=... total=N"
            out[res] = int(line.rsplit("total=", 1)[1])
        except Exception:
            pass
    return out or None


def _cpu_probe():
    """Wall seconds for a FIXED single-thread workload (sha256 over 32 MiB
    + an int loop).  Kernel-accounting-independent: a host that is slow for
    any reason (thermal recovery after a heavy job, hypervisor descheduling
    that never shows as steal) is slow HERE too.  The r10 finding that
    motivated it: five steady runs decayed 41.7→12.4 s right after a
    14-minute full-CPU pytest run, at steal ≤0.35% — the tick counters were
    blind to the slowdown, a fixed probe is not."""
    import hashlib
    t0 = time.perf_counter()
    h = hashlib.sha256()
    block = b"\x00" * (1 << 20)
    for _ in range(32):
        h.update(block)
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return round(time.perf_counter() - t0, 4)


# Contention guard thresholds (r12 VERDICT item #1: BENCH_r12 ran under
# steal to 5.56% and its medians were unadjudicable — a breached record
# must FLAG itself, the same way primed_rounds/warmup_failures already
# guard priming).  Calibration from the committed per-run telemetry:
# every r11 (clean, walls 61-64 s) steady run had steal <=0.64%; every
# contaminated r12 run that blew its wall had steal >=1.2% with the two
# worst at 5.37/5.56%.  The threshold sits BETWEEN the two measured
# populations (clean max 0.64, contaminated min 1.2), so the per-run
# signal alone separates them with margin on both sides (r13 ADVICE:
# the earlier 2.0 left a 1.2-2.0% band that was contaminated per the
# calibration yet passed per-run, leaving only the wall-spread backstop
# to catch it).  load1_at_start is recorded but NOT a breach
# condition — it is dominated by the bench's OWN preceding child (the
# r11 CLEAN record started its steady runs at load1 3.39-6.6), so it
# cannot discriminate co-tenant load from self-residue.  The per-run
# signal is steal; the record-level signal is wall dispersion
# (max/min wall across the five steady runs: r11 1.05, r12 1.72 — a
# co-tenant burst hits some runs and not others).
CONTENTION_STEAL_PCT = 1.0
CONTENTION_WALL_SPREAD = 1.25

# Suite-total dispersion gate (r15 ADVICE, medium): wall_sec includes ~55 s
# of fixed priming per child, which DILUTES suite-level dispersion — the
# r15 certified attempt read wall_spread 1.16 while its TIMED suite totals
# spread 2.40 (8.3–20.0 s).  This gate measures the dispersion of the
# steady suite totals themselves (max/min of steady_cold_totals).
# Calibration against every committed record that carries totals:
# clean-epoch records r06-r09 1.07-1.10, r11 1.11, r13 1.18, r14 1.19;
# contaminated records r10 1.45, r12 1.52, r15 8.77, r15 8-core 1.54,
# r15 attempt t 2.40.  The threshold sits between the populations
# (clean max 1.19, contaminated min 1.45) with margin on both sides.
CONTENTION_SUITE_SPREAD = 1.30

# Busy-regime ADVISORY thresholds (r15, VERDICT r14 item #3) — annotate,
# never breach.  Calibration from the committed steady telemetry (r12
# driver bench_detail @9b3bf0d, r13 driver @7acbfb6, r13 builder
# @7a921c3, r14 driver @95fa291):
#
# - busy_pct (host-wide non-idle tick share): every committed steady run
#   — clean AND steal-contaminated — sits in 11.24-12.90%, i.e. the
#   bench's OWN footprint on this 32-cpu host; hypervisor co-tenants add
#   steal, not guest-busy.  An IN-GUEST co-tenant (the r10 full-CPU
#   pytest class) must add its ticks ON TOP of that footprint, so the
#   advisory sits just above the whole observed envelope: > 14.0%.
# - psi_stall_sec.cpu: committed clean runs 0.37-0.47 s; the
#   wall-blown contaminated runs 0.58-0.72 s (r12's two worst + r14's
#   flagged run).  Advisory > 0.50 s sits between the populations.
#   (One mildly-contaminated r12 run sat at 0.45 s — inside the clean
#   band — but carried steal 1.23%, which the BREACH guard owns.)
#
# Honest limitation, written down so nobody over-reads a quiet advisory:
# the r13 driver-vs-builder 22%-apart clean records — the finding that
# motivated these fields — were INVISIBLE to both counters (driver busy
# 11.38-12.22 / psi 0.39-0.47 vs builder 12.13-12.24 / 0.37-0.46); that
# regime stalls nothing inside the guest.  The advisory catches the
# in-guest-busy and severe-stall classes; the invisible class is exactly
# why cross-record certification uses per-query MINS (README "Series
# basis"), not why this threshold can be trusted as an all-clear.
BUSY_ADVISORY_PCT = 14.0
PSI_CPU_ADVISORY_SEC = 0.50


def _contended(tel):
    """Whether one steady run's telemetry breaches the per-run contention
    threshold — marked per-run in bench_detail.json and summed into the
    record line's telemetry.contended_runs (0 == certifiable record)."""
    return bool((tel.get("steal_pct") or 0) > CONTENTION_STEAL_PCT)


def _busy_advisory(tel):
    """Whether one steady run's telemetry trips the busy-regime ADVISORY
    (never a breach): in-guest busy load above the bench's own committed
    footprint envelope, or a CPU PSI stall above the clean band.  Marked
    per-run in bench_detail.json and summed into the record line's
    telemetry.busy_advisory_runs; a record with advisories but zero
    breaches stays certifiable — on the min basis, with eyes open."""
    busy = tel.get("busy_pct")
    psi = (tel.get("psi_stall_sec") or {}).get("cpu")
    return bool((busy is not None and busy > BUSY_ADVISORY_PCT)
                or (psi is not None and psi > PSI_CPU_ADVISORY_SEC))


def _max_present(steady_tel, key_fn):
    """max over runs that CARRY the field, else None (r14 ADVICE: a 0 for
    'not measured' — e.g. the in-process fallback path, whose telemetry
    has no /proc deltas — was indistinguishable from a genuinely idle
    host in the record line; mirror wall_spread's None convention)."""
    vals = [v for v in (key_fn(t) for t in steady_tel) if v is not None]
    return max(vals) if vals else None


def _min_present(steady_tel, key_fn):
    vals = [v for v in (key_fn(t) for t in steady_tel) if v is not None]
    return min(vals) if vals else None


def _wall_spread(steady_tel):
    """max/min wall across the steady runs — the record-level dispersion
    signal (None with fewer than 2 walls)."""
    walls = [t.get("wall_sec") for t in steady_tel if t.get("wall_sec")]
    if len(walls) < 2:
        return None
    return round(max(walls) / min(walls), 2)


def _suite_spread(totals):
    """max/min of the TIMED steady suite totals — the dispersion gate over
    the measured quantity itself (see CONTENTION_SUITE_SPREAD: child wall
    includes fixed priming, which dilutes suite-level dispersion)."""
    vals = [t for t in totals if t is not None]
    if len(vals) < 2:
        return None
    if min(vals) == 0:
        # a zero total beside a nonzero one is unbounded dispersion: the
        # gate must trip, not divide by zero
        return 1.0 if max(vals) == 0 else float("inf")
    return round(max(vals) / min(vals), 2)


def _detail_path():
    """Where this run writes its detail record.  Explicit env wins; the
    DEFAULT is a per-run suffixed name in the cwd (r15 ADVICE/VERDICT item
    #2: the old cwd default `bench_detail.json` silently clobbered the
    committed certified artifact whenever a run was launched from the repo
    root — attempts d/e lost provenance mid-round and a later r15 run
    overwrote attempt t's detail post-certification).  The committed copy
    is refreshed deliberately by copying a chosen run's file in."""
    path = os.environ.get("SPARK_GRAFT_BENCH_DETAIL")
    if path:
        return path
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    return os.path.join(os.getcwd(),
                        f"bench_detail.{stamp}-{os.getpid()}.json")


def _spawn_with_telemetry(extra_argv):
    s0, load1, p0 = _proc_stat(), _loadavg(), _psi_totals()
    probe0 = _cpu_probe()
    t0 = time.time()
    payload = _spawn_child(extra_argv)
    wall = round(time.time() - t0, 1)
    tel = {"load1_at_start": load1, "wall_sec": wall,
           "cpu_probe_sec": probe0, "cpu_probe_sec_after": _cpu_probe()}
    s1, p1 = _proc_stat(), _psi_totals()
    if s0 and s1 and s1["total"] > s0["total"]:
        dt = s1["total"] - s0["total"]
        tel["steal_pct"] = round(100.0 * (s1["steal"] - s0["steal"]) / dt, 2)
        tel["iowait_pct"] = round(100.0 * (s1["iowait"] - s0["iowait"]) / dt, 2)
        tel["busy_pct"] = round(100.0 * (dt - (s1["idle"] - s0["idle"])
                                         - (s1["iowait"] - s0["iowait"])) / dt, 2)
    if p0 and p1:
        tel["psi_stall_sec"] = {k: round((p1[k] - p0[k]) / 1e6, 2)
                                for k in p1 if k in p0}
    return payload, tel


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    if "--child" in sys.argv:
        times, warm, primed, wf = _run_once(
            sf_dir, cpus, with_warm="--warm" in sys.argv,
            prime_steady="--no-prime" not in sys.argv)
        print("CHILD_JSON:" + json.dumps({"cold": times, "warm": warm,
                                          "primed_rounds": primed,
                                          "warmup_failures": wf}))
        return

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # 5 runs (was 3): this host sees intermittent co-tenant bursts (the
    # telemetry regularly records steal 3-7% for 1-2 minutes at a time);
    # with 3 runs one burst poisons the median, with 5 the median holds
    # unless MOST of the window is contended — and the per-run telemetry
    # shows which case occurred either way.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))

    # true_cold: one unprimed fresh JVM, before the page-cache prime
    tc, tc_tel = _spawn_with_telemetry(["--no-prime"])
    true_cold = tc["cold"] if tc else None

    _prime_page_cache(sf_dir)

    # steady_cold: every run a fresh, symmetric subprocess JVM — the parent
    # never builds a SparkSession, so no idle JVM skews the later runs
    # every child also times a warm (second same-JVM) pass and the warm
    # figures are medianed like the steady ones — the first steady child
    # is reproducibly the slowest on this host, and a warm taken only
    # there overstated warm latency by ~30%
    steady_runs, warm_runs, steady_tel = [], [], []
    for i in range(n_runs):
        payload, tel = _spawn_with_telemetry(["--warm"])
        if payload:
            steady_runs.append(payload["cold"])
            # primed_rounds: how many steady-prime replays actually ran in
            # the child with at least one query succeeding (expected 1x
            # sf0.001 + SPARK_GRAFT_PRIME_ROUNDS x sf0.01 = 4); 0 means the
            # record is secretly un-primed.  warmup_failures counts the
            # per-query warmup exceptions (r11 ADVICE — a nonzero value
            # with full primed_rounds means a partially-dead warmup)
            tel["primed_rounds"] = payload.get("primed_rounds")
            tel["warmup_failures"] = payload.get("warmup_failures")
            steady_tel.append(tel)
            if payload.get("warm"):
                warm_runs.append(payload["warm"])
    if not steady_runs:            # no subprocesses possible — run in-process
        times, w, primed, wf = _run_once(sf_dir, cpus, with_warm=True,
                                         prime_steady=True)
        steady_runs, warm_runs = [times], [w] if w else []
        steady_tel = [{"primed_rounds": primed, "warmup_failures": wf}]
    warm = None
    if warm_runs:
        warm = {name: round(statistics.median(r[name] for r in warm_runs
                                              if name in r), 3)
                for name in warm_runs[0]}

    med_queries = {name: round(statistics.median(r[name] for r in steady_runs
                                                 if name in r), 3)
                   for name in steady_runs[0]}
    # per-query min across steady runs: the contention-resistant floor —
    # when medians move but mins don't, the delta is host noise, not code
    min_queries = {name: round(min(r[name] for r in steady_runs
                                   if name in r), 3)
                   for name in steady_runs[0]}
    totals = [round(sum(r.values()), 3) for r in steady_runs]

    # The record consumer captures a bounded tail of this process's output
    # (observed: 2000 chars; the r9 JSON line fit with 199 to spare), so
    # the stdout line must stay WELL under that or the record silently
    # loses its front.  Everything per-query-secondary and per-run goes to
    # bench_detail.json next to this file; the one printed line keeps the
    # contract fields plus compact totals and a telemetry summary.
    for t in steady_tel:
        t["contended"] = _contended(t)
        t["busy_advisory"] = _busy_advisory(t)
    n_contended = sum(1 for t in steady_tel if t["contended"])
    n_advisory = sum(1 for t in steady_tel if t["busy_advisory"])
    spread = _wall_spread(steady_tel)
    suite_spread = _suite_spread([round(sum(r.values()), 3)
                                  for r in steady_runs])
    if (n_contended or (spread or 0) > CONTENTION_WALL_SPREAD
            or (suite_spread or 0) > CONTENTION_SUITE_SPREAD):
        print(f"# CONTENTION GUARD: {n_contended}/{len(steady_tel)} steady "
              f"runs over steal>{CONTENTION_STEAL_PCT}%, wall spread "
              f"{spread} (threshold {CONTENTION_WALL_SPREAD}), suite spread "
              f"{suite_spread} (threshold {CONTENTION_SUITE_SPREAD}) — "
              "medians are not certifiable against prior records; re-run "
              "on a quiet host", file=sys.stderr)
    if n_advisory:
        print(f"# BUSY ADVISORY (not a breach): {n_advisory}/"
              f"{len(steady_tel)} steady runs over busy>"
              f"{BUSY_ADVISORY_PCT}% or psi_cpu>{PSI_CPU_ADVISORY_SEC}s — "
              "in-guest busy regime; read this record on the per-query-min "
              "basis (README 'Series basis')", file=sys.stderr)

    detail_path = _detail_path()
    tracked = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "bench_detail.json")
    if os.path.abspath(detail_path) == tracked:
        print("# WARNING: detail path is the git-tracked committed record "
              f"({tracked}) — overwriting a certified artifact; point "
              "SPARK_GRAFT_BENCH_DETAIL elsewhere unless this is "
              "deliberate", file=sys.stderr)

    line = {
        "metric": "headline_suite_seconds",
        "value": round(statistics.median(totals), 3),
        "unit": "sec",
        "queries": med_queries,
        "steady_min_total": round(sum(min_queries.values()), 3),
        "steady_cold_totals": totals,
        "true_cold_total": (round(sum(true_cold.values()), 3)
                            if true_cold else None),
        "warm_total": round(sum(warm.values()), 3) if warm else None,
        # every *_max/_min below is over runs that CARRY the field, None
        # when none does (r14 ADVICE — the in-process fallback path has no
        # /proc deltas, and 'not measured' must not read as 'idle host')
        "telemetry": {
            "steal_pct_max": _max_present(steady_tel,
                                          lambda t: t.get("steal_pct")),
            "cpu_probe_sec_max": _max_present(
                steady_tel, lambda t: t.get("cpu_probe_sec")),
            "wall_secs": [t.get("wall_sec") for t in steady_tel],
            "load1_at_start_max": _max_present(
                steady_tel, lambda t: t.get("load1_at_start")),
            # busy%/PSI-cpu in the record line (r13 VERDICT item #1): a
            # busy-but-no-steal regime passes the guard while inflating
            # walls ~20% (the r13 dual-clean-record finding) — these two
            # make that regime visible WITHOUT re-opening bench_detail.
            "busy_pct_max": _max_present(steady_tel,
                                         lambda t: t.get("busy_pct")),
            "psi_cpu_stall_sec_max": _max_present(
                steady_tel,
                lambda t: (t.get("psi_stall_sec") or {}).get("cpu")),
            "wall_spread": spread,
            "suite_spread": suite_spread,
            "contended_runs": n_contended,
            "busy_advisory_runs": n_advisory,
            "primed_rounds_min": _min_present(
                steady_tel, lambda t: t.get("primed_rounds")),
            "warmup_failures_max": _max_present(
                steady_tel, lambda t: t.get("warmup_failures")),
        },
        "detail": os.path.abspath(detail_path),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    detail = dict(line)
    detail.update({
        "queries_min": min_queries,
        "true_cold_queries": true_cold,
        "warm_queries": warm,
        # machine-readable certification basis (r15 ADVICE, low): the
        # headline `value` is a median and can be epoch-inflated with
        # every per-run flag clean (the "invisible" busy class README
        # documents); cross-record certification reads per-query MINS.
        # A consumer of this file gets the basis without the prose.
        "certification_basis": "queries_min",
        "certified_value": round(sum(min_queries.values()), 3),
        "telemetry": {"host_cpus": os.cpu_count(),
                      "true_cold": tc_tel, "steady": steady_tel},
    })
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1)
    except Exception as e:        # detail is best-effort, the line is the record
        print(f"# bench detail write failed: {e}", file=sys.stderr)
    out = json.dumps(line)
    # never let the record outgrow the capture window: drop optional
    # fields in increasing order of value until the line fits (the
    # queries map grows with every added headline query, so a single
    # fixed pop is not a durable guard — r10 ADVICE)
    for expendable in ("telemetry", "steady_cold_totals", "queries"):
        if len(out) <= 1800:
            break
        print(f"# record line {len(out)} chars > 1800 — dropping"
              f" '{expendable}' (full copy in {detail_path})", file=sys.stderr)
        line.pop(expendable, None)
        out = json.dumps(line)
    print(out)


if __name__ == "__main__":
    main()
