"""Host-telemetry helpers in bench.py — the self-diagnosing parts of the
bench record (VERDICT r9 item #1).  These run without a SparkSession."""

import bench


def test_cpu_probe_is_fixed_and_bounded():
    # a fixed workload: strictly positive, and sane even on a loaded host
    t = bench._cpu_probe()
    assert 0.0 < t < 10.0


def test_psi_totals_shape():
    psi = bench._psi_totals()
    # kernels without PSI return None; with PSI, totals are monotonic ints
    if psi is not None:
        assert set(psi) <= {"cpu", "io", "memory"}
        assert all(isinstance(v, int) and v >= 0 for v in psi.values())
        later = bench._psi_totals()
        assert all(later[k] >= psi[k] for k in psi)


def test_proc_stat_counters():
    s = bench._proc_stat()
    if s is not None:
        assert s["total"] >= s["idle"] + s["iowait"] + s["steal"]


def test_contention_guard_thresholds():
    """r12 VERDICT item #1: the per-run guard must flag the contaminated
    r12 steal profile (to 5.56%) and pass the clean r11 envelope (steal
    <=0.64%).  load1_at_start must NOT breach — the committed r11 CLEAN
    record started its steady runs at load1 3.39-6.6 (self-residue from
    the bench's own prior child), so it cannot discriminate."""
    import bench

    assert bench._contended({"steal_pct": 5.56, "load1_at_start": 0.5})
    assert not bench._contended({"steal_pct": 0.1, "load1_at_start": 6.6})
    assert not bench._contended({"steal_pct": 0.64, "load1_at_start": 1.0})
    # r13 ADVICE recalibration: the threshold sits BETWEEN the measured
    # populations, so the contaminated minimum (1.2%) must breach per-run
    # — under the old 2.0 threshold it passed and only the wall-spread
    # backstop could catch it
    assert bench._contended({"steal_pct": 1.2})
    assert bench.CONTENTION_STEAL_PCT > 0.64
    assert bench.CONTENTION_STEAL_PCT < 1.2
    assert not bench._contended({})          # missing telemetry != breach
    assert not bench._contended({"steal_pct": None, "load1_at_start": None})


def test_busy_advisory_calibration():
    """r14 VERDICT item #3: the busy-regime ADVISORY thresholds are pinned
    between the committed telemetry populations.

    busy_pct: EVERY committed steady run — clean and steal-contaminated
    alike (r12 @9b3bf0d 11.24-12.81, r13 driver @7acbfb6 11.38-12.22,
    r13 builder @7a921c3 12.13-12.24, r14 driver @95fa291 12.21-12.90) —
    sits inside the bench's own ~11-13% footprint, so the threshold sits
    just ABOVE the whole envelope: an in-guest co-tenant must add its
    ticks on top of that footprint.

    psi cpu stall: committed clean runs 0.37-0.47 s; wall-blown
    contaminated runs 0.58-0.72 s — the threshold sits between."""
    import bench

    assert 12.90 < bench.BUSY_ADVISORY_PCT          # above the envelope max
    assert bench.BUSY_ADVISORY_PCT < 18.0           # but within reach of a
    # real in-guest co-tenant (r10's full-CPU pytest class pushed busy far
    # past 20%; true_cold's own-footprint 18.8 must stay out of scope —
    # the advisory applies to STEADY runs only)
    assert 0.47 < bench.PSI_CPU_ADVISORY_SEC < 0.58

    # committed r14 steady run 3 (clean): no advisory
    assert not bench._busy_advisory(
        {"busy_pct": 12.28, "psi_stall_sec": {"cpu": 0.39}})
    # committed r14 flagged run: psi 0.58 trips the advisory too
    assert bench._busy_advisory(
        {"busy_pct": 12.73, "psi_stall_sec": {"cpu": 0.58}})
    # hypothetical in-guest co-tenant: busy above the envelope
    assert bench._busy_advisory({"busy_pct": 25.0})
    # not-measured is NOT an advisory (mirror the guard's convention)
    assert not bench._busy_advisory({})
    assert not bench._busy_advisory({"busy_pct": None,
                                     "psi_stall_sec": None})


def test_telemetry_max_none_when_unmeasured():
    """r14 ADVICE: 'not measured' must be None in the record line, never a
    0 that reads as a genuinely idle host (the in-process fallback path
    carries no /proc deltas)."""
    import bench

    unmeasured = [{"primed_rounds": 4, "warmup_failures": 0}]
    assert bench._max_present(unmeasured, lambda t: t.get("busy_pct")) is None
    assert bench._max_present(
        unmeasured,
        lambda t: (t.get("psi_stall_sec") or {}).get("cpu")) is None
    mixed = unmeasured + [{"busy_pct": 12.3}, {"busy_pct": 0.0}]
    assert bench._max_present(mixed, lambda t: t.get("busy_pct")) == 12.3
    # a measured zero stays a zero, distinguishable from absent
    assert bench._max_present([{"busy_pct": 0.0}],
                              lambda t: t.get("busy_pct")) == 0.0
    assert bench._min_present(mixed, lambda t: t.get("busy_pct")) == 0.0
    assert bench._min_present([], lambda t: t.get("primed_rounds")) is None


def test_wall_spread_dispersion_signal():
    """Record-level signal: the clean r11 walls (61-64 s) spread 1.05;
    the contaminated r12 walls (72.6-125.2) spread 1.72 — the threshold
    1.25 separates them with margin on both sides."""
    import bench

    r11 = [{"wall_sec": w} for w in (62.9, 61.0, 63.0, 62.8, 64.0)]
    r12 = [{"wall_sec": w} for w in (72.6, 118.8, 76.6, 86.2, 125.2)]
    assert bench._wall_spread(r11) <= bench.CONTENTION_WALL_SPREAD
    assert bench._wall_spread(r12) > bench.CONTENTION_WALL_SPREAD
    assert bench._wall_spread([{"wall_sec": 60}]) is None
    assert bench._wall_spread([]) is None


def test_suite_spread_gate_calibration():
    """r15 ADVICE (medium): the wall-spread gate's denominator includes
    ~55 s of fixed priming, which diluted suite-level dispersion — the
    r15 certified attempt read wall_spread 1.16 while its timed suite
    totals spread 2.40.  The suite-spread gate measures the timed totals
    themselves; threshold 1.30 sits between the committed populations
    (clean records r06-r14: 1.07-1.19; contaminated r10/r12/r15(+t):
    1.45-8.77)."""
    import bench

    clean_r11 = [7.3, 7.789, 7.6, 8.1, 7.5]                # spread 1.11
    attempt_t = [8.332, 19.97, 15.037, 15.409, 11.297]     # spread 2.40
    assert bench._suite_spread(clean_r11) <= bench.CONTENTION_SUITE_SPREAD
    assert bench._suite_spread(attempt_t) > bench.CONTENTION_SUITE_SPREAD
    assert 1.19 < bench.CONTENTION_SUITE_SPREAD < 1.45
    assert bench._suite_spread([6.0]) is None
    assert bench._suite_spread([]) is None


def test_suite_spread_counts_zero_total():
    """A 0.0 suite total is a measured total, not a missing one: it counts
    toward the two-total minimum, and beside a nonzero total it trips the
    gate instead of dividing by zero."""
    import bench

    assert bench._suite_spread([0.0, 6.0]) > bench.CONTENTION_SUITE_SPREAD
    assert bench._suite_spread([0.0, 0.0]) == 1.0
    assert bench._suite_spread([0.0]) is None
    assert bench._suite_spread([None, 6.0]) is None


def test_detail_default_path_is_collision_safe(monkeypatch, tmp_path):
    """r15 VERDICT item #2: the default detail path must never equal the
    git-tracked bench_detail.json (a bench run launched from the repo
    root silently clobbered the committed certified artifact twice in
    r15).  The default is per-run suffixed; the env override is honored
    verbatim."""
    import os

    import bench

    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("SPARK_GRAFT_BENCH_DETAIL", raising=False)
    default = bench._detail_path()
    tracked = os.path.join(
        os.path.dirname(os.path.abspath(bench.__file__)),
        "bench_detail.json")
    assert os.path.abspath(default) != tracked
    assert os.path.basename(default) != "bench_detail.json"
    assert os.path.dirname(default) == os.getcwd()
    explicit = str(tmp_path / "elsewhere" / "detail.json")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DETAIL", explicit)
    assert bench._detail_path() == explicit
