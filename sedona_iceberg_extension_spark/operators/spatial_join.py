"""Distributed spatial join — the engine's ``JoinQueryDetector`` equivalent.

The reference injects a Sedona planner strategy that plans
``Join ... ON ST_pred(l.geo, r.geo)`` as ``BroadcastIndexJoin`` or
``RangeJoin`` (``SedonaIcebergExtensions.scala:47``,
``TestSedonaIcebergExtension.scala:122,137``).  This engine plans at the API
level instead (SURVEY.md §4.2): every join is ONE ``spark.sql`` statement
over the two input DataFrames (passed as named args), which Catalyst and AQE
keep optimizing:

- **broadcast strategy** (small side): a ``BROADCAST``-hinted theta join on
  envelope conjuncts plus exact refinement — Spark plans a
  BroadcastNestedLoopJoin; the analogue of Sedona's BroadcastIndexJoin.
- **grid strategy** (both sides large): each row is assigned the grid cells
  its envelope overlaps (native ``sequence``+``explode`` — no Python), the
  join becomes a cell-id **equi-join** (sort-merge/shuffled-hash + AQE skew
  splitting), refined by the exact predicate.  Duplicate pair elimination is
  algebraic — a pair is emitted only in the *reference cell* containing the
  min-corner of the two envelopes' intersection — so no ``dropDuplicates``
  shuffle is needed (SURVEY.md §7.4 hard-part 4).

At 100 TB the grid path shuffles each side once on a well-distributed key,
supports AQE skew-join splitting, and never builds driver-side state; the
broadcast path moves only the small side.
"""

from __future__ import annotations

from typing import Optional, Tuple

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, functions as F

from ..functions import udfs
from ..functions.api import add_geometry

# exact refinement per predicate: the registered SQL name the statement
# calls, and the UDF registered under that name if the session lacks it
_PRED_FUNCS = {
    "intersects": ("ST_Intersects", udfs.st_intersects),
    "contains": ("ST_Contains", udfs.st_contains),
    "within": ("ST_Within", udfs.st_within),
    "covers": ("ST_Covers", udfs.st_covers),
    "covered_by": ("ST_CoveredBy", udfs.st_coveredby),
    "touches": ("ST_Touches", udfs.st_touches),
    "crosses": ("ST_Crosses", udfs.st_crosses),
    "overlaps": ("ST_Overlaps", udfs.st_overlaps),
    "equals": ("ST_Equals", udfs.st_equals),
    "dwithin": ("ST_Distance", udfs.st_distance),
}

_HOW_SQL = {"inner": "JOIN", "left": "LEFT OUTER JOIN",
            "left_semi": "LEFT SEMI JOIN", "left_anti": "LEFT ANTI JOIN"}


def _resolve_auto_strategy(right: DataFrame,
                           broadcast_threshold_rows: int) -> str:
    """broadcast-vs-grid resolution for ``strategy="auto"``, probed on the
    RAW right side: Project nodes RESCALE Catalyst's sizeInBytes by row
    width, so probing the env-attached or renamed projection could flip a
    borderline join.

    Catalyst plan statistics (file-size-derived for parquet scans,
    filter-estimated, computed WITHOUT running a job) decide; the
    limit/count probe is the fallback only when stats are unavailable.
    ~64 MB estimated right side ≈ Spark's own autoBroadcastJoinThreshold
    territory once the grid-cell explosion is priced in."""
    try:
        size = int(right._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
        return "broadcast" if size <= 64 * 1024 * 1024 else "grid"
    except Py4JJavaError:
        # a plan whose statistics cannot be computed: fall to the probe
        pass
    try:
        r_small = (right.limit(broadcast_threshold_rows).count()
                   < broadcast_threshold_rows)
    except Py4JJavaError:
        # the probe job failed; grid is correct for any size, and the join
        # itself surfaces the input's failure when it runs
        r_small = False
    return "broadcast" if r_small else "grid"


def _shape_hint(df: DataFrame, col: str) -> Optional[str]:
    """The ``geom_shape`` column metadata stamped by the geometry builders
    (with_point_geometry/with_box_geometry) — it travels through selects,
    views, and parquet, so SQL-text joins get the Python-free
    exact-envelope plan without the caller passing flags."""
    try:
        md = df.schema[col].metadata or {}
    except KeyError:
        return None          # no such column: the statement reports it
    return md.get("geom_shape")


def _with_env(df: DataFrame, geom_col: str, tmp: str) -> Tuple[DataFrame, str]:
    """(frame, envelope struct column): the persisted ``<geom>_env`` struct
    when present, else one attached under ``tmp`` by the envelope UDF."""
    env = f"{geom_col}_env"
    if env in df.columns:
        return df, env
    return add_geometry(df, geom_col, tmp), tmp


def spatial_join(
    left: DataFrame,
    right: DataFrame,
    predicate: str = "intersects",
    on: Tuple[str, str] = ("geo", "geo"),
    how: str = "inner",
    d: float = 0.0,
    strategy: str = "auto",
    grid_size: Optional[float] = None,
    broadcast_threshold_rows: int = 1_000_000,
    left_is_points: bool = False,
    right_is_points: bool = False,
    left_is_rects: bool = False,
    right_is_rects: bool = False,
) -> DataFrame:
    """Join two DataFrames on a spatial predicate between WKB columns.

    ``how``: inner | left (outer, right side null-extended) | left_semi |
    left_anti.  Columns of both inputs are kept (right's prefixed with
    ``r_`` on collision) for inner/left joins; semi/anti keep the left's.

    ``left_is_points`` / ``right_is_points`` / ``left_is_rects`` /
    ``right_is_rects`` are optional exactness hints: when a side is known to
    be all points (or all axis-aligned rectangles), the envelope algebra is
    already the exact predicate and the refinement UDF is dropped from the
    plan.  Without them the envelope prefilter is refined by the registered
    ``ST_*`` function.

    Every shape — both strategies, every ``how``, hint-exact or
    UDF-refined, with or without persisted ``<geom>_env`` structs — is
    built as ONE ``spark.sql`` statement over the inputs passed as
    DataFrame named args (no temp views): one parse, one analysis, where
    a chain of eager Dataset ops re-analyzes its growing subtree at every
    step.  An input without a ``<geom>_env`` struct gets one from the
    envelope UDF; it stays out of the output columns.
    """
    if predicate not in _PRED_FUNCS:
        raise ValueError(f"unsupported predicate {predicate!r}")
    if how not in _HOW_SQL:
        raise ValueError(f"unsupported join type {how!r}")
    lg, rg = on
    if not (left_is_points or left_is_rects):
        h = _shape_hint(left, lg)
        left_is_points, left_is_rects = h == "points", h == "rects"
    if not (right_is_points or right_is_rects):
        h = _shape_hint(right, rg)
        right_is_points, right_is_rects = h == "points", h == "rects"
    if strategy == "auto":
        strategy = _resolve_auto_strategy(right, broadcast_threshold_rows)
    if strategy not in ("grid", "broadcast"):
        raise ValueError(f"unsupported strategy {strategy!r}")

    cond, reads_geom = _cond_sql(predicate, d, left_is_points, left_is_rects,
                                 right_is_points, right_is_rects)
    spark = left.sparkSession
    if reads_geom:
        name, fn = _PRED_FUNCS[predicate]
        if not spark.catalog.functionExists(name):
            spark.udf.register(name, fn)

    left_in, lenv = _with_env(left, lg, "_l_env")
    right_in, renv = _with_env(right, rg, "_r_env")
    # the r_ collision rename plan_spatial_join_sql reads back
    common = set(left.columns) & set(right.columns)
    rname = {c: (f"r_{c}" if c in common else c) for c in right_in.columns}
    cond = cond.format(
        lx0=f"l.`{lenv}`.`xmin`", ly0=f"l.`{lenv}`.`ymin`",
        lx1=f"l.`{lenv}`.`xmax`", ly1=f"l.`{lenv}`.`ymax`",
        rx0=f"r.`{rname[renv]}`.`xmin`", ry0=f"r.`{rname[renv]}`.`ymin`",
        rx1=f"r.`{rname[renv]}`.`xmax`", ry1=f"r.`{rname[renv]}`.`ymax`",
        lg=f"l.`{lg}`", rg=f"r.`{rname[rg]}`")
    lout = [f"l.`{c}`" for c in left.columns]
    rout = ([f"r.`{rname[c]}`" for c in right.columns]
            if how in ("inner", "left") else [])

    if strategy == "grid" and grid_size is None:
        grid_size = _grid_size_from_env(left_in, right_in, lenv, renv, d)
    # one join of the two sides answers inner joins, and broadcast joins
    # whose condition Spark evaluates inside an outer/semi/anti join (it
    # rejects a Python UDF there).  The rest join inner on a left row id
    # and reconcile back on it; for the grid, that also collapses the
    # exploded cell copies of a left row.
    direct = how == "inner" or (strategy == "broadcast" and not reads_geom)
    nulls = []
    if not direct:
        # a geometry-free condition lets the id skip the geometry, so
        # pruning can drop an unprojected UDF-built geometry
        left_in = _stamp_row_id(left_in, exclude=() if reads_geom else (lg,))
        if how == "left":
            # the unmatched left rows' null-extended right columns, typed
            nulls = [f"CAST(NULL AS {f.dataType.simpleString()})"
                     f" AS `{rname[f.name]}`" for f in right.schema.fields]
    return spark.sql(
        _join_stmt(strategy, how, direct, left_in.columns, rname, lenv, renv,
                   cond, lout, rout, nulls, grid_size, d),
        sj_left=left_in, sj_right=right_in)


def _dlit(x: float) -> str:
    """A Python double as a bit-exact SQL double literal.  A bare SQL
    decimal literal parses as DECIMAL (different arithmetic type);
    string→double cast is the same correctly-rounded parse as Python's."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _cond_sql(predicate: str, d: float,
              left_is_points: bool, left_is_rects: bool,
              right_is_points: bool, right_is_rects: bool) -> Tuple[str, bool]:
    """The join condition as SQL text, and whether it reads the raw
    geometry columns.  The one condition builder for every strategy and
    ``how``: an envelope prefilter (relaxed, mirroring
    SedonaPredicatePushDown.scala:77,138-144) that is the exact predicate
    when both operands are their own envelopes (points or axis-aligned
    rects), else refined by the registered ``ST_*`` function.

    The envelope references are ``str.format`` placeholders (lx0/ly0/lx1/
    ly1, rx0/ry0/rx1/ry1) and the geometries are {lg}/{rg}; `spatial_join`
    fills them with direct ``<env struct>.<field>`` and column paths, so
    the cell exchanges ship each side's envelope once, as the struct."""
    lx0, ly0 = "{lx0}", "{ly0}"
    lx1, ly1 = "{lx1}", "{ly1}"
    rx0, ry0 = "{rx0}", "{ry0}"
    rx1, ry1 = "{rx1}", "{ry1}"
    if predicate == "dwithin":
        pad = _dlit(d)
        env = (f"{lx1} + {pad} >= {rx0} AND {rx1} >= {lx0} - {pad}"
               f" AND {ly1} + {pad} >= {ry0} AND {ry1} >= {ly0} - {pad}")
        if left_is_points and right_is_points:
            # fully native distance join: (x1-x2)² + (y1-y2)² ≤ d²
            dd = _dlit(float(d) * float(d))
            exact = (f"({lx0} - {rx0}) * ({lx0} - {rx0})"
                     f" + ({ly0} - {ry0}) * ({ly0} - {ry0}) <= {dd}")
            return f"({env}) AND ({exact})", False
        return f"({env}) AND ST_Distance({{lg}}, {{rg}}) <= {pad}", True
    if predicate == "contains" and right_is_points and not left_is_points:
        # OGC contains over a point right side: the point must be in the
        # left interior → strict envelope bounds (exact when left rows are
        # rects, a superset prefilter refined by the UDF otherwise)
        env = (f"{lx0} < {rx0} AND {lx1} > {rx1}"
               f" AND {ly0} < {ry0} AND {ly1} > {ry1}")
        env_exact = left_is_rects
    elif predicate == "within" and left_is_points and not right_is_points:
        env = (f"{rx0} < {lx0} AND {rx1} > {lx1}"
               f" AND {ry0} < {ly0} AND {ry1} > {ly1}")
        env_exact = right_is_rects
    else:
        if predicate in ("contains", "covers"):
            env = (f"{lx0} <= {rx0} AND {lx1} >= {rx1}"
                   f" AND {ly0} <= {ry0} AND {ly1} >= {ry1}")
        elif predicate in ("within", "covered_by"):
            env = (f"{rx0} <= {lx0} AND {rx1} >= {lx1}"
                   f" AND {ry0} <= {ly0} AND {ry1} >= {ly1}")
        else:
            env = (f"{lx1} >= {rx0} AND {rx1} >= {lx0}"
                   f" AND {ly1} >= {ry0} AND {ry1} >= {ly0}")
        # closed envelope algebra is exact between points and rects for
        # intersects/covers/covered_by, but for contains/within only
        # between points (equality): a zero-area rect on the container's
        # boundary is covered, not contained — OGC needs one of its
        # interior points in the container's interior
        env_exact = ((left_is_points or left_is_rects)
                     and (right_is_points or right_is_rects)
                     and (predicate in ("intersects", "covers", "covered_by")
                          or (left_is_points and right_is_points)))
    if env_exact:
        return env, False
    return f"{env} AND {_PRED_FUNCS[predicate][0]}({{lg}}, {{rg}})", True


def _join_stmt(strategy: str, how: str, direct: bool, lcols: list,
               rname: dict, lenv: str, renv: str, cond: str, lout: list,
               rout: list, nulls: list, grid_size: Optional[float],
               d: float) -> str:
    """The statement text.  Grid: both nested cell explodes (left padded
    by ``d``) and the cell equi-join + reference-cell algebraic dedup +
    condition.  Broadcast: a ``BROADCAST``-hinted theta join on the
    condition.  Non-``direct`` shapes join inner on the ``_lid`` row id
    and reconcile back on it: semi/anti against the matched ids, left as
    the matched pairs plus the null-extended unmatched left rows."""
    rsel = ", ".join(f"`{c}` AS `{rname[c]}`" for c in rname)
    ctes, hint = [], ""
    if strategy == "broadcast":
        hint = "/*+ BROADCAST(r) */ "
        kind = _HOW_SQL[how if direct else "inner"]
        pairs = (f"{{sj_left}} l {kind} (SELECT {rsel} FROM {{sj_right}}) r"
                 f"\n  ON {cond}")
    else:
        s, pad = _dlit(grid_size), _dlit(d)
        le, re_in, re = f"`{lenv}`", f"`{renv}`", f"`{rname[renv]}`"
        lsel = ", ".join(f"`{c}`" for c in lcols)
        ctes.append(f"""lcell AS (
  SELECT *, explode(sequence(floor(({le}.`ymin` - {pad}) / {s}),
                             floor(({le}.`ymax` + {pad}) / {s}))) AS _cy
  FROM (SELECT {lsel}, explode(sequence(floor(({le}.`xmin` - {pad}) / {s}),
                                        floor(({le}.`xmax` + {pad}) / {s}))) AS _cx
        FROM {{sj_left}})
), rcell AS (
  SELECT *, explode(sequence(floor({re}.`ymin` / {s}),
                             floor({re}.`ymax` / {s}))) AS _cy
  FROM (SELECT {rsel}, explode(sequence(floor({re_in}.`xmin` / {s}),
                                        floor({re_in}.`xmax` / {s}))) AS _cx
        FROM {{sj_right}})
)""")
        pairs = f"""lcell l JOIN rcell r
  ON l._cx = r._cx AND l._cy = r._cy
 AND l._cx = floor(greatest(l.{le}.`xmin` - {pad}, r.{re}.`xmin`) / {s})
 AND l._cy = floor(greatest(l.{le}.`ymin` - {pad}, r.{re}.`ymin`) / {s})
 AND ({cond})"""
    out = ", ".join(lout + rout)
    if direct:
        body = f"SELECT {hint}{out}\nFROM {pairs}"
    elif how == "left":
        ctes.append(f"matched AS (SELECT {hint}l.`_lid`, {out} FROM {pairs})")
        body = f"""SELECT {', '.join(c[2:] for c in lout + rout)} FROM matched
UNION ALL
SELECT {', '.join(lout + nulls)}
FROM {{sj_left}} l LEFT ANTI JOIN (SELECT DISTINCT `_lid` FROM matched) m
  ON l.`_lid` = m.`_lid`"""
    else:
        body = f"""SELECT {out}
FROM {{sj_left}} l {_HOW_SQL[how]} (SELECT {hint}DISTINCT l.`_lid` FROM {pairs}) m
  ON l.`_lid` = m.`_lid`"""
    return ("WITH " + ", ".join(ctes) + "\n" if ctes else "") + body + "\n"


def _stamp_row_id(df: DataFrame, exclude: tuple = ()) -> DataFrame:
    """Deterministic per-row id for the outer/semi/anti reconciliation
    joins.  ``monotonically_increasing_id`` is nondeterministic under stage
    retry — the id frame is referenced TWICE (the inner grid join and the
    reconciliation join back), so a recomputed partition could stamp
    different ids and drop or duplicate rows at cluster scale.  A 128-bit
    content hash is stable across recomputation; identical duplicate rows
    share an id, which is semantics-preserving for match/unmatch
    reconciliation (duplicates are interchangeable).  Falls back to an
    eager localCheckpoint for un-hashable column types (maps)."""
    cols = [F.col(f"`{c}`") for c in df.columns if c not in exclude]
    if not cols:
        cols = [F.col(f"`{c}`") for c in df.columns]
    try:
        return df.withColumn(
            "_lid", F.struct(F.xxhash64(*cols).alias("h1"),
                             F.xxhash64(F.lit(17), *cols).alias("h2")))
    except AnalysisException:
        from ..lineage import truncate_lineage
        return truncate_lineage(
            df.withColumn("_lid", F.monotonically_increasing_id()),
            eager=True)


# session-lifetime cache of sample-driven grid sizes, keyed by the
# canonicalized (semantic) plan hashes of both join inputs: repeated
# executions of the same join skip the stats job entirely (the same
# derived-statistics caching Spark applies to relation stats).  Stale only
# if the underlying files change within one session — the same staleness
# window Spark's own cached file listings have.
_GRID_SIZE_CACHE: dict = {}


# session-lifetime cache of per-SIDE envelope statistics, keyed by the
# OPTIMIZED plan hash of the side's stats frame (round 16, guide §5)
_ENV_STATS_CACHE: dict = {}


def _derive_grid_size(ls: dict, rs: dict, d: float) -> float:
    """Cell size from both sides' envelope stats: target ~2 cells per
    average envelope.  Both sides matter — sizing off the left alone would
    shred a wide-envelope right side (e.g. points JOIN polygons) across
    millions of cells each.  Cells ~2× the *smaller* side's average
    envelope give that side ~1 cell per row; the floor sqrt(area_big/64)
    caps the wide side's cell replication at ~64 copies per row, so a
    points-vs-polygons join still spreads across many cells instead of
    collapsing into the handful of whole-extent cells the polygons
    dictate."""
    lw = max(ls["w"] or 0.0, ls["h"] or 0.0)
    rw = max(rs["w"] or 0.0, rs["h"] or 0.0)
    extent = max(ls["W"] or 1.0, ls["H"] or 1.0,
                 rs["W"] or 1.0, rs["H"] or 1.0, 1e-9)
    big_area = max((ls["w"] or 0.0) * (ls["h"] or 0.0),
                   (rs["w"] or 0.0) * (rs["h"] or 0.0))
    return max(2.0 * min(lw, rw) + 2.0 * d,
               (big_area / 64.0) ** 0.5,
               extent / 4096.0)


def _grid_size_from_env(left: DataFrame, right: DataFrame,
                        lenv: str, renv: str, d: float) -> float:
    """Sample-driven grid size (`_derive_grid_size`) from both sides'
    envelope structs, behind a two-level session cache (driver-side cost).

    Level 1: the analyzed-plan semantic hashes of the join inputs — a
    cheap exact match for re-running the same join.  Level 2: per-SIDE
    envelope statistics keyed by the OPTIMIZED plan hash of each side's
    stats frame.  Column pruning sees through projection/rename variants
    of the same side — the DataFrame and SQL-text spellings of one
    declared join project different column subsets (and arrive with the
    sides SWAPPED, since the SQL front door plans ``ST_Contains(r, l)`` as
    the inverse predicate) but prune to identical per-side stats queries;
    canonicalization also ignores the l/r output aliases.  A join whose
    sides were BOTH seen before (in any orientation, under any projection,
    even paired differently) derives its grid size with NO job at all; one
    new side costs a single-side aggregate instead of the two-sided
    crossJoin.  Measured: a full-miss job is ~110-230 ms and 4 AQE jobs; a
    both-sides-hit is ~75 ms of driver-only work (stats-frame build +
    optimize).  At 100 TB each side's stats job is a full scan of that
    input, so every hit saves real work, not just dispatch latency."""
    def _hash(plan):
        try:
            return plan.semanticHash()
        except Py4JJavaError:
            return None      # un-hashable plan: sized without caching

    key = (_hash(left._jdf.queryExecution().analyzed()),
           _hash(right._jdf.queryExecution().analyzed()), float(d), lenv, renv)
    if None in key:
        key = None
    elif key in _GRID_SIZE_CACHE:
        return _GRID_SIZE_CACHE[key]

    def _stats(df, env, pre):
        e = F.col(f"`{env}`")
        return df.select(
            F.avg(e["xmax"] - e["xmin"]).alias(f"{pre}w"),
            F.avg(e["ymax"] - e["ymin"]).alias(f"{pre}h"),
            (F.max(e["xmax"]) - F.min(e["xmin"])).alias(f"{pre}W"),
            (F.max(e["ymax"]) - F.min(e["ymin"])).alias(f"{pre}H"),
        )
    lstats, rstats = _stats(left, lenv, "l"), _stats(right, renv, "r")
    hl = _hash(lstats._jdf.queryExecution().optimizedPlan())
    hr = _hash(rstats._jdf.queryExecution().optimizedPlan())
    ls = _ENV_STATS_CACHE.get(hl) if hl is not None else None
    rs = _ENV_STATS_CACHE.get(hr) if hr is not None else None
    if ls is None and rs is None:
        row = lstats.crossJoin(rstats).first()
        ls = {k: row[f"l{k}"] for k in ("w", "h", "W", "H")}
        rs = {k: row[f"r{k}"] for k in ("w", "h", "W", "H")}
    elif ls is None:
        row = lstats.first()
        ls = {k: row[f"l{k}"] for k in ("w", "h", "W", "H")}
    elif rs is None:
        row = rstats.first()
        rs = {k: row[f"r{k}"] for k in ("w", "h", "W", "H")}
    if hl is not None and len(_ENV_STATS_CACHE) < 512:
        _ENV_STATS_CACHE[hl] = ls
    if hr is not None and len(_ENV_STATS_CACHE) < 512:
        _ENV_STATS_CACHE[hr] = rs
    grid_size = _derive_grid_size(ls, rs, d)
    if key is not None and len(_GRID_SIZE_CACHE) < 256:
        _GRID_SIZE_CACHE[key] = grid_size
    return grid_size
