"""Benchmark of the engine's spatial-SQL-over-lakehouse surface.

Usage (from the repository root):

    python3 perfbench/run.py --workload spatial_serve --seed 1 --seconds 12 --trace 0

One process per run: it starts a fresh Spark session on ``local[nproc]``
and a fresh snapshot warehouse, both under ``.perfbench/`` in the
repository, and drives the engine only through its public entry points
(``session.get_session``, which runs ``register_all``, and ``session.sql``)
with a single client in a closed loop: the next op starts only after the
previous one completed.  Reads are materialised in full through a ``noop``
write.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (a separate run that
records spans around each call into a layer and reads Spark's status store
and executed-plan metrics).  The line before it holds the run's workload
properties and detail.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from typing import Dict, List, Optional, Tuple

PROCESS_T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")

SETUPS = 2                  # fresh sessions per run; setup_s is their median
# warm-up: one cold unit, then a fixed number of units -- spatial_serve: a
# rotation (each class once), then rounds as the timed phase runs them;
# lakehouse_dml: light cycles (one range read each).  A fixed length, so
# every run starts its timed phase after the same work: a stop rule ("until
# a unit stops getting faster") ended warm-up at a point that moved with
# run-to-run noise.
WARM_UNITS = {"spatial_serve": 3, "lakehouse_dml": 2}
WARM_FASTER = 0.95          # the last unit still "got faster" below this
                            # share of the best warm unit before it
WARM_SEED_OFFSET = 1_000_003
HARNESS_GROUP = "perfbench-harness"  # jobs run between ops (gate)


def _engine_present() -> bool:
    return all(os.path.isfile(os.path.join(ROOT, p)) for p in (
        "sedona_iceberg_extension_spark/session.py", "tools/diff_oracle.py"))


def _environment(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside run_dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_FORCE_EMULATION": "1",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS":
            "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TMPDIR": tmp,
    })
    os.environ.pop("SPARK_GRAFT_SHUFFLE", None)
    os.environ.pop("SPARK_LOCAL_DIRS", None)


def _data_dir() -> str:
    """The generated tables, cached across runs under .perfbench/data-<hash
    of datagen.py>."""
    import datagen

    with open(datagen.__file__, "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()[:12]
    path = os.path.join(OUT, f"data-{digest}")
    if not os.path.isfile(os.path.join(path, "DONE")):
        tmp = f"{path}.{os.getpid()}"
        datagen.write_tables(tmp)
        with open(os.path.join(tmp, "DONE"), "w") as fh:
            fh.write("ok\n")
        try:
            os.rename(tmp, path)
        except OSError:          # another run finished first
            shutil.rmtree(tmp, ignore_errors=True)
    return path


def _dir_files(path: str) -> Dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        import ops
        from spans import Tracer

        self.ops_mod = ops
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(trace)
        self.traced = trace
        self.run_dir = os.path.join(OUT, f"run-{os.getpid()}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        _environment(self.run_dir)
        self.data_dir = _data_dir()
        self.spark = None
        self.capture = None
        self.warehouse = ""
        self.op_counter = 0
        self._register_s = 0.0

    # -- session and seeding ----------------------------------------------
    def _views(self) -> None:
        from pyspark.sql import functions as F
        from sedona_iceberg_extension_spark.functions import api as ST

        spark, d = self.spark, self.data_dir
        cust = spark.read.parquet(f"{d}/customer.parquet")
        sup = spark.read.parquet(f"{d}/supplier.parquet")
        nat = spark.read.parquet(f"{d}/nation.parquet")
        ST.with_point_geometry(
            cust, (F.col("c_custkey") % 360 - 180).cast("double"),
            ((F.col("c_custkey") * 7) % 180 - 90).cast("double"),
        ).createOrReplaceTempView("cust")
        ST.with_point_geometry(
            sup, (F.col("s_suppkey") % 360 - 180).cast("double"),
            ((F.col("s_suppkey") * 11) % 180 - 90).cast("double"),
        ).createOrReplaceTempView("supp")
        ST.with_box_geometry(
            nat, (F.col("n_nationkey") * 14 - 180).cast("double"), F.lit(-90.0),
            (F.col("n_nationkey") * 14 - 166).cast("double"), F.lit(90.0),
        ).createOrReplaceTempView("boxes")

    def _seed_tables(self, table: str) -> None:
        from sedona_iceberg_extension_spark import session

        for stmt in self.ops_mod.lakehouse_seed_ops(table)[0]:
            with self.tracer.span("session.sql"):
                session.sql(self.spark, stmt)

    def _setup_once(self, k: int) -> Dict[str, float]:
        """Fresh session (``get_session``, which runs ``register_all``),
        views and warehouse; returns the timings of its parts."""
        from sedona_iceberg_extension_spark import session

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        self.warehouse = os.path.join(self.run_dir, f"warehouse-{k}")
        os.environ["SPARK_GRAFT_WAREHOUSE"] = self.warehouse
        t = {}
        t0 = time.perf_counter()
        with self.tracer.span("session.get_session") as sp:
            spark = session.get_session(app_name="perfbench")
        # get_session runs register_all itself; the traced run wraps it
        t["register_s"] = self._register_s
        t["start_s"] = time.perf_counter() - t0 - self._register_s
        self.spark = spark
        t2 = time.perf_counter()
        with self.tracer.span("seed"):
            self._views()
            if self.workload == "lakehouse_dml":
                self._seed_tables(self.ops_mod.LAKE_TABLE)
        t["seed_s"] = time.perf_counter() - t2
        t["total_s"] = time.perf_counter() - t0
        if sp is not None:
            sp.counters.update(t)
        return t

    # -- ops --------------------------------------------------------------
    def run_op(self, op) -> Tuple[float, object]:
        """Run one op in the closed loop; returns its wall seconds and the
        statement's result (a DataFrame, or a DDL/DML result dict), or
        raises.  Reads are materialised in full with a noop write."""
        from sedona_iceberg_extension_spark import session

        sc = self.spark.sparkContext
        i = self.op_counter
        self.op_counter += 1
        self.tracer.op = i
        group = f"pb{i}"
        t0 = time.perf_counter()
        with self.tracer.span("op") as sp:
            sc.setJobGroup(group + "-side" if op.kind == "read" else group,
                           f"perfbench {op.cls}", False)
            with self.tracer.span("session.sql"):
                for stmt in op.sql[:-1]:
                    session.sql(self.spark, stmt)
                res = session.sql(self.spark, op.sql[-1])
            if op.kind == "read":
                sc.setJobGroup(group, f"perfbench {op.cls}", False)
                with self.tracer.span("materialize"):
                    res.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        sc.setJobGroup(HARNESS_GROUP, "perfbench harness", False)
        if sp is not None:
            sp.counters["cls"] = op.cls
        self.tracer.op = None
        return dt, res

    # -- phases -----------------------------------------------------------
    def warm_units(self):
        """The cold unit and then the warm units."""
        m, ws = self.ops_mod, self.seed + WARM_SEED_OFFSET
        n = WARM_UNITS[self.workload]
        if self.workload == "spatial_serve":
            flat = m.spatial_serve_ops(ws, n)
            k = m.SERVE_ROUND_OPS
            return m.serve_rotations(ws, 1) + [flat[j:j + k] for j in
                                               range(0, len(flat), k)]
        return m.lakehouse_ops(ws, 1 + n, m.WARM_TABLE, light=1 + n)

    def warm_up(self) -> Dict[str, object]:
        """Replay the workload's own rotation (separate seed): a cold unit,
        then the warm units.  Records whether the last unit was still
        getting faster than the best before it."""
        from sedona_iceberg_extension_spark import session

        t0 = time.perf_counter()
        times = []
        with self.tracer.span("warmup"):
            if self.workload == "lakehouse_dml":
                self._seed_tables(self.ops_mod.WARM_TABLE)
            for unit in self.warm_units():
                u0 = time.perf_counter()
                for op in unit:
                    self.run_op(op)
                times.append(time.perf_counter() - u0)
            if self.workload == "lakehouse_dml":
                session.sql(self.spark, f"DROP TABLE {self.ops_mod.WARM_TABLE}")
                shutil.rmtree(os.path.join(
                    self.warehouse, self.ops_mod.WARM_TABLE.replace(".", "_")),
                    ignore_errors=True)
        warm = times[1:]
        return {"warmup_s": time.perf_counter() - t0, "units": times,
                "still_faster": len(warm) > 1
                and warm[-1] < WARM_FASTER * min(warm[:-1])}

    def timed_ops(self) -> List[List]:
        """The fixed op sequence of the timed phase: round(seconds / UNIT_S)
        whole units (rounds or cycles), at least one."""
        m = self.ops_mod
        n = max(1, round(self.seconds / UNIT_S[self.workload]))
        if self.workload == "spatial_serve":
            flat = m.spatial_serve_ops(self.seed, n)
            k = m.SERVE_ROUND_OPS
            return [flat[j:j + k] for j in range(0, len(flat), k)]
        return m.lakehouse_ops(self.seed, n)

    def _lake_state(self) -> Dict[str, int]:
        from sedona_iceberg_extension_spark.operators import ddl

        tbl = ddl.table(self.ops_mod.LAKE_TABLE, self.spark)
        live = tbl.files()
        return {"live_files": len(live),
                "retained_snapshots": len(tbl.versions()),
                "live_bytes": sum(os.path.getsize(f) for f in live)}

    # -- traced bookkeeping ------------------------------------------------
    def _op_counters(self, i: int, res, before: Optional[Dict[str, int]]
                     ) -> Dict[str, float]:
        from sparkstats import job_stats, plan_summary

        c: Dict[str, float] = {}
        qes = self.capture.drain()
        c.update(plan_summary(self.capture, qes))
        run = job_stats(self.spark, f"pb{i}")
        c.update(run)
        side = job_stats(self.spark, f"pb{i}-side")
        c["side_jobs"] = side["jobs"]
        c["side_job_ms"] = side["job_wall_ms"]
        for k in ("jobs", "tasks", "executor_run_ms", "executor_cpu_ms",
                  "jvm_gc_ms", "shuffle_write_bytes", "shuffle_read_bytes",
                  "shuffle_fetch_wait_ms", "spill_bytes"):
            c[k] += side[k]
        if isinstance(res, dict):      # DDL / DML / procedure result
            c["files_rewritten"] = (int(res.get("files_rewritten") or 0)
                                    + int(res.get("files_compacted") or 0))
        if before is not None:
            after = _dir_files(self.warehouse)
            added = [p for p in after if p not in before
                     and p.endswith(".parquet")]
            c["files_added"] = len(added)
            c["bytes_added"] = sum(after[p] for p in added)
        return c

    # -- main ---------------------------------------------------------------
    def run(self) -> Dict[str, object]:
        import gate
        import stats
        from sparkstats import QueryCapture, peak_rss_mb
        from sedona_iceberg_extension_spark import session

        t_setups = []
        if self.traced:
            inner = session.register_all

            def traced_register(spark):
                r0 = time.perf_counter()
                with self.tracer.span("register_all"):
                    out = inner(spark)
                self._register_s = time.perf_counter() - r0
                return out
            session.register_all = traced_register
        # the workload runs on the process's first session; the repeat
        # set-ups that feed the setup_s median run after the gate, since a
        # restarted SparkContext leaves PySpark's cached UDF handles bound
        # to the stopped one
        t_setups.append(self._setup_once(0))
        if self.traced:
            self.capture = QueryCapture(self.spark)
        warm = self.warm_up()
        if self.capture is not None:
            self.capture.drain()

        units = self.timed_ops()
        all_ops = [op for u in units for op in u]
        latencies: List[float] = []
        walls: List[float] = []     # as measured, failed ops too
        failed_idx = set()
        counters: List[Dict[str, float]] = []
        cycle_state: List[Dict[str, int]] = []
        unit_walls: List[float] = []
        cpu0, psi0 = _cpu_ticks(), _psi()
        timed_t0 = time.perf_counter()
        bookkeeping = 0.0
        j = 0
        for unit in units:
            u0 = len(latencies)
            for op in unit:
                before = (_dir_files(self.warehouse)
                          if self.traced and op.kind == "write" else None)
                w0 = time.perf_counter()
                try:
                    dt, res = self.run_op(op)
                except Exception as exc:  # a failed op is counted, not fatal
                    print(f"op {j} {op.cls} failed: {type(exc).__name__}: "
                          f"{str(exc)[:300]}", file=sys.stderr)
                    failed_idx.add(j)
                    dt, res = math.inf, None
                    self.spark.sparkContext.setJobGroup(
                        HARNESS_GROUP, "perfbench harness", False)
                latencies.append(dt)
                walls.append(time.perf_counter() - w0 if math.isinf(dt) else dt)
                if self.traced:
                    b0 = time.perf_counter()
                    with self.tracer.span("trace.bookkeeping"):
                        counters.append(self._op_counters(
                            self.op_counter - 1, res, before))
                    bookkeeping += time.perf_counter() - b0
                j += 1
            unit_walls.append(sum(walls[u0:]))
            if self.workload == "lakehouse_dml":
                b0 = time.perf_counter()
                cycle_state.append(self._lake_state())
                bookkeeping += time.perf_counter() - b0
        timed_wall = time.perf_counter() - timed_t0
        cpu1, psi1 = _cpu_ticks(), _psi()
        op_wall = sum(walls)

        # -- correctness gate (outside the timed region) -------------------
        gate_t0 = time.perf_counter()
        oracle = gate.Oracle(self.data_dir)
        gate_notes: List[str] = []
        try:
            self._gate(oracle, units, all_ops, failed_idx, gate_notes)
        finally:
            oracle.close()
        gate_s = time.perf_counter() - gate_t0
        rss = peak_rss_mb(self.spark)
        if self.workload == "lakehouse_dml":
            stored_ratio = self._stored_ratio()
        # (the traced run reports its single set-up: restarting the
        # SparkContext under a live py4j callback server hangs)
        for k in range(1, 1 if self.traced else SETUPS):
            t_setups.append(self._setup_once(k))
        setup_core = statistics.median(t["total_s"] for t in t_setups)
        setup_s = setup_core + warm["warmup_s"]

        lat = [math.inf if i in failed_idx else x
               for i, x in enumerate(latencies)]
        reads = [x for x, op in zip(lat, all_ops) if op.kind == "read"]
        writes = [x for x, op in zip(lat, all_ops) if op.kind == "write"]
        read_tail = stats.tail(reads)
        # ops completed per second: the median over the units (rounds or
        # cycles, each with the same class counts) of completed ops / wall
        unit_rates, first = [], 0
        for unit, wall in zip(units, unit_walls):
            done = sum(1 for i in range(first, first + len(unit))
                       if i not in failed_idx)
            unit_rates.append(done / wall if wall else 0.0)
            first += len(unit)
        ops_per_s = statistics.median(unit_rates)
        detail: Dict[str, object] = {
            "workload": self.workload, "seed": self.seed,
            "seconds": self.seconds, "traced": self.traced,
            "ops": len(all_ops), "units": len(units),
            "class_counts": self.ops_mod.class_counts(all_ops),
            "reads": len(reads), "writes": len(writes),
            "read_tail_percentile": read_tail[1] if read_tail else None,
            "rank_classes": stats.rank_classes(
                [(op.cls, x) for x, op in zip(lat, all_ops)
                 if op.kind == "read"]),
            "class_median_s": {
                c: statistics.median(x for x, o in zip(lat, all_ops)
                                     if o.cls == c)
                for c in sorted({o.cls for o in all_ops})},
            "setups": t_setups, "setup_core_s": setup_core,
            "warmup": warm, "timed_wall_s": timed_wall,
            "op_wall_s": op_wall, "unit_walls_s": unit_walls,
            "unit_ops_per_s": unit_rates,
            "op_latencies": [[o.cls, x] for o, x in zip(all_ops, lat)],
            "steal_share": _steal_share(cpu0, cpu1),
            "stall_s": {k: psi1[k] - v for k, v in psi0.items() if k in psi1},
            "bookkeeping_s": bookkeeping,
            "gate": gate_notes, "gate_s": gate_s,
            "process_s": time.perf_counter() - PROCESS_T0,
        }
        if self.workload == "spatial_serve":
            detail["repeat_share"] = sum(not o.fresh for o in all_ops) / len(all_ops)
            detail["missed_spelling_share"] = (
                sum(o.detector_miss for o in all_ops) / len(all_ops))
        else:
            detail["cycle_state"] = cycle_state
            w_tail = stats.tail(writes)
            detail["write_p50_s"] = stats.median(writes)
            detail["write_tail_s"] = w_tail[0] if w_tail else None
            detail["write_tail_percentile"] = w_tail[1] if w_tail else None
            detail["stored_bytes_per_live_byte"] = stored_ratio

        e2e = {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (ops_per_s, "1/s"),
            "read_p50_s": (stats.median(reads), "s"),
            "read_tail_s": (read_tail[0] if read_tail else math.inf, "s"),
            "peak_rss_mb": (rss, "MiB"),
        }
        if self.traced:
            metrics = self._layer_metrics(t_setups, warm, all_ops, counters,
                                          lat, detail)
            metrics["trace.ops_per_s"] = (ops_per_s, "1/s")
            detail["untraced_shape_e2e"] = {k: _finite(v[0])
                                            for k, v in e2e.items()}
            self.tracer.dump(os.path.join(
                OUT, f"trace-{self.workload}-{self.seed}.jsonl"))
        else:
            metrics = e2e
        attempted = len(all_ops)
        failed = len(failed_idx)
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": _finite(v), "unit": u}
                        for k, (v, u) in metrics.items()},
        }
        return {"detail": detail, "result": result}

    def _stored_ratio(self) -> float:
        """Bytes of all files under the warehouse over the bytes of the
        files live in the current snapshot."""
        stored = sum(_dir_files(self.warehouse).values())
        live = self._lake_state()["live_bytes"]
        return stored / live if live else 0.0

    # -- correctness --------------------------------------------------------
    def _gate(self, oracle, units, all_ops, failed_idx, notes) -> None:
        import gate
        from sedona_iceberg_extension_spark import session

        def fail_key(key: str, why: str) -> None:
            notes.append(why)
            for i, op in enumerate(all_ops):
                if op.key == key:
                    failed_idx.add(i)

        if self.workload == "lakehouse_dml":
            seed_replay = self.ops_mod.lakehouse_seed_ops()[1]
            for stmt in seed_replay:
                oracle.execute(stmt)
            for op in all_ops:
                for stmt in op.replay:
                    oracle.execute(stmt)
            t = self.ops_mod.LAKE_TABLE
            try:
                eng = gate.spark_rows(session.sql(
                    self.spark, f"SELECT k, x, y, bal, ST_X(geo) AS gx, "
                    f"ST_Y(geo) AS gy FROM {t}"))
                why = gate.compare(eng, oracle.rows(
                    "SELECT k, x, y, bal, x AS gx, y AS gy FROM pts"))
            except Exception as exc:  # counted as a failed gate
                why = f"{type(exc).__name__}: {str(exc)[:200]}"
            if why:
                notes.append(f"final table: {why}")
                for i, op in enumerate(all_ops):
                    if op.kind == "write":
                        failed_idx.add(i)
        # one statement of each read class from the last unit (a repeat
        # re-issues a fresh statement verbatim, so shares its result)
        checks, seen = [], set()
        for op in units[-1]:
            if op.kind == "read" and op.fresh and op.cls not in seen:
                seen.add(op.cls)
                checks.append(op)
        for op in checks:
            try:
                eng = gate.spark_rows(session.sql(self.spark, op.sql[-1]))
                why = gate.compare(eng, oracle.rows(op.mirror))
            except Exception as exc:  # counted as a failed op
                why = f"{type(exc).__name__}: {str(exc)[:200]}"
            if why:
                fail_key(op.key, f"{op.cls}: {why}")

    # -- per-layer metrics --------------------------------------------------
    def _layer_metrics(self, t_setups, warm, all_ops, counters, lat,
                       detail) -> Dict[str, tuple]:
        import stats

        n = len(all_ops)

        def tot(key, pick=lambda op: True):
            return sum(c.get(key, 0) for c, op in zip(counters, all_ops)
                       if pick(op))

        def per(key, pick=lambda op: True):
            k = sum(1 for op in all_ops if pick(op))
            return tot(key, pick) / k if k else 0.0

        is_read = lambda op: op.kind == "read"            # noqa: E731
        is_write = lambda op: op.kind == "write"          # noqa: E731
        is_join = lambda op: op.spatial_join              # noqa: E731
        spans_by_op: Dict[int, Dict[str, float]] = {}
        for s in self.tracer.spans:
            if s.op is None or s.name not in ("session.sql", "materialize",
                                              "op"):
                continue
            d = spans_by_op.setdefault(s.op, {})
            d[s.name] = d.get(s.name, 0.0) + s.duration
        timed_ids = sorted(spans_by_op)[-n:]
        sql_ms = [spans_by_op[i].get("session.sql", 0.0) * 1e3
                  for i in timed_ids]
        op_s = [spans_by_op[i].get("op", 0.0) for i in timed_ids]
        covered = sum(spans_by_op[i].get("session.sql", 0.0)
                      + spans_by_op[i].get("materialize", 0.0)
                      for i in timed_ids)
        timed_wall = detail["timed_wall_s"] - detail["bookkeeping_s"]
        reads = [k for k, op in enumerate(all_ops) if op.kind == "read"]
        build = [sql_ms[k] - counters[k].get("side_job_ms", 0.0)
                 for k in reads]
        grid = [c.get("nested_loop_joins", 0) == 0
                for c, op in zip(counters, all_ops) if op.spatial_join]
        cand = tot("join_rows", is_join)
        refined = tot("refined_rows", is_join)
        scan_rows = tot("scan_rows", is_read)
        result_rows = tot("result_rows", is_read)
        writes = [x for x, op in zip(lat, all_ops) if op.kind == "write"]
        write_wall = [op_s[k] * 1e3 for k, op in enumerate(all_ops)
                      if op.kind == "write"]
        write_jobs = [counters[k].get("job_wall_ms", 0.0)
                      for k, op in enumerate(all_ops) if op.kind == "write"]
        state = detail.get("cycle_state") or []
        m = {
            "session.start_s": (statistics.median(t["start_s"] for t in t_setups), "s"),
            "session.register_s": (statistics.median(t["register_s"] for t in t_setups), "s"),
            "session.warmup_s": (warm["warmup_s"], "s"),
            "plans.build_ms": (statistics.mean(build) if build else 0.0, "ms"),
            "plans.side_jobs": (per("side_jobs", is_read), "count"),
            "plans.side_job_ms": (per("side_job_ms", is_read), "ms"),
            "catalyst.analysis_ms": (per("analysis_ms"), "ms"),
            "catalyst.optimization_ms": (per("optimization_ms"), "ms"),
            "catalyst.planning_ms": (per("planning_ms"), "ms"),
            "sql_join.grid_planned_ratio": (
                sum(grid) / len(grid) if grid else 0.0, "ratio"),
            "spatial_join.sizing_jobs_fresh": (
                per("side_jobs", lambda op: op.spatial_join and op.fresh), "count"),
            "spatial_join.sizing_jobs_repeat": (
                per("side_jobs", lambda op: op.spatial_join and not op.fresh), "count"),
            "spatial_join.candidate_pairs": (per("join_rows", is_join), "count"),
            "spatial_join.refine_ratio": (refined / cand if cand else 0.0, "ratio"),
            "functions.python_rows": (per("python_rows"), "count"),
            "functions.python_ms": (per("python_ms"), "ms"),
            "functions.python_boot_ms": (per("python_boot_ms"), "ms"),
            "functions.python_bytes_sent": (per("python_bytes_sent"), "bytes"),
            "sources.files_read": (per("files_read", is_read), "count"),
            "sources.scan_rows_per_result_row": (
                scan_rows / result_rows if result_rows else 0.0, "ratio"),
            "sources.scan_ms": (per("scan_ms", is_read), "ms"),
            "snapshots.files_added": (per("files_added", is_write), "count"),
            "snapshots.files_rewritten": (per("files_rewritten", is_write), "count"),
            "snapshots.bytes_added": (per("bytes_added", is_write), "bytes"),
            "snapshots.live_files": (
                statistics.mean(s["live_files"] for s in state) if state else 0.0,
                "count"),
            "snapshots.retained_snapshots": (
                statistics.mean(s["retained_snapshots"] for s in state)
                if state else 0.0, "count"),
            "snapshots.stage_write_ms": (
                statistics.mean(write_jobs) if write_jobs else 0.0, "ms"),
            "snapshots.commit_overhead_ms": (
                statistics.mean(w - j for w, j in zip(write_wall, write_jobs))
                if write_wall else 0.0, "ms"),
            "snapshots.stored_bytes_per_live_byte": (
                detail.get("stored_bytes_per_live_byte") or 0.0, "ratio"),
            "dml.write_p50_s": (stats.median(writes) if writes else 0.0, "s"),
        }
        for k, unit in (("jobs", "count"), ("tasks", "count"),
                        ("executor_run_ms", "ms"), ("executor_cpu_ms", "ms"),
                        ("jvm_gc_ms", "ms"), ("shuffle_write_bytes", "bytes"),
                        ("shuffle_read_bytes", "bytes"),
                        ("shuffle_fetch_wait_ms", "ms"), ("spill_bytes", "bytes")):
            m[f"exec.{k}"] = (per(k), unit)
        m["trace.coverage"] = (covered / timed_wall if timed_wall else 0.0, "ratio")
        m["trace.unattributed_s"] = (max(0.0, timed_wall - covered), "s")
        m["trace.bookkeeping_s"] = (detail["bookkeeping_s"], "s")
        detail["self_time_s"] = self.tracer.self_time_by_name()
        return m

    def close(self) -> None:
        """Stop Spark and the JVM (closing the gateway's stdin ends it),
        wait for the JVM's Python workers to exit, and remove the run's
        scratch files."""
        from sparkstats import descendants

        spark, self.spark = self.spark, None
        try:
            if spark is not None:
                proc = getattr(spark.sparkContext._gateway, "proc", None)
                workers = [(p, _stat(p)[1]) for p in descendants(proc.pid)
                           ] if proc is not None else []
                try:
                    spark.stop()
                except Exception as exc:  # e.g. a py4j call cut by SIGTERM
                    print(f"spark.stop failed: {exc}", file=sys.stderr)
                if proc is not None:
                    if proc.stdin:
                        proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait(timeout=30)
                _wait_gone(workers)
        finally:
            shutil.rmtree(self.run_dir, ignore_errors=True)


def _stat(pid: int) -> Tuple[str, str]:
    """(state, start time) of a process, ("", "") once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return fields[0], fields[19]
    except (OSError, IndexError):
        return "", ""


def _wait_gone(procs: List[Tuple[int, str]], timeout: float = 20.0) -> None:
    """Wait until each (pid, start time) process has exited (a zombie
    counts as exited); SIGKILL what is left at the end.  The start time
    guards against a reused pid."""
    def running(pid, start):
        state, now = _stat(pid)
        return now == start and state not in ("", "Z")

    deadline = time.monotonic() + timeout
    alive = list(procs)
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if running(*p)]
    for pid, start in alive:
        if running(pid, start):
            os.kill(pid, signal.SIGKILL)


def _psi() -> Dict[str, float]:
    """Cumulative pressure-stall seconds (cpu/io/memory, some/full) of this
    machine, from /proc/pressure; empty where the kernel has none."""
    out = {}
    for res in ("cpu", "io", "memory"):
        try:
            with open(f"/proc/pressure/{res}") as fh:
                for line in fh:
                    kind, *fields = line.split()
                    total = dict(f.split("=") for f in fields)["total"]
                    out[f"{res}_{kind}"] = int(total) / 1e6
        except (OSError, KeyError, ValueError):
            pass
    return out


def _cpu_ticks() -> List[int]:
    """The host-wide CPU tick counters of /proc/stat (empty if absent)."""
    try:
        with open("/proc/stat") as fh:
            return [int(v) for v in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def _steal_share(a: List[int], b: List[int]) -> Optional[float]:
    """Share of the ticks between two _cpu_ticks readings that were steal:
    time the hypervisor gave this machine's CPUs to someone else."""
    if len(a) < 8 or len(b) < 8:
        return None
    total = sum(b) - sum(a)
    return (b[7] - a[7]) / total if total > 0 else None


def _finite(v: float) -> float:
    """A failed op misses every latency limit; its +inf latency is printed
    as 1e9 s so the line stays plain JSON."""
    return v if math.isfinite(v) else 1e9


# seconds per timed unit: the timed phase is round(seconds / UNIT_S) whole
# units, so --seconds 18 gives 3 spatial_serve rounds (48 reads, about 17 s
# on a 4-CPU host) and 2 lakehouse_dml cycles (18 reads, about 17 s)
UNIT_S = {"spatial_serve": 6.0, "lakehouse_dml": 9.0}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("spatial_serve", "lakehouse_dml"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _engine_present():
        print("perfbench: the engine package and tools/diff_oracle.py must "
              "sit beside perfbench/ (run from a full checkout)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    os.makedirs(OUT, exist_ok=True)
    # a SIGTERM still runs bench.close(), which stops Spark and its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        out = bench.run()
    finally:
        bench.close()
    print(json.dumps(out["detail"], default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
