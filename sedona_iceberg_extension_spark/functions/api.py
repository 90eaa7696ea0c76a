"""Expression-level spatial API: compiles to native Catalyst expressions.

This module is the engine's replacement for the reference's entire pushdown
machinery (``SedonaPredicatePushDown.scala:57-161``).  The reference needed a
custom Catalyst rule because its spatial predicates were opaque UDT
expressions; here the representation itself is transparent:

- a *point* expression carries its (x, y) numeric child expressions,
- a *box* expression carries its (xmin, ymin, xmax, ymax) children,
- a *WKB column* expression optionally carries a companion envelope struct
  (``add_geometry``), the analogue of geolake-Iceberg's per-file spatial stats.

Predicates over point/box operands compile to **plain column comparisons** —
whole-stage-codegen'd, pushed to Parquet min/max stats by Catalyst's built-in
DataSource pushdown, AQE-friendly.  Only genuinely curvy cases fall back to
the Arrow-batched pandas UDFs in ``udfs.py``, and then always as
``envelope_prefilter AND exact_udf`` — the reference's relaxed+exact two-level
design (``SedonaPredicatePushDown.scala:77,138-144``).
"""

from __future__ import annotations

from typing import Optional, Union

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..geom.io import to_wkb
from ..geom.model import Geometry
from . import udfs

ColumnOrName = Union[Column, str]


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _numlit(v) -> Column:
    return F.lit(float(v)) if isinstance(v, (int, float)) else _col(v)


class GeomExpr:
    """A spatial expression with enough structure for native compilation.

    kinds:
      ``point`` — x/y numeric Columns
      ``box``   — xmin/ymin/xmax/ymax numeric Columns (axis-aligned)
      ``wkb``   — BinaryType Column, optional envelope struct Column
      ``lit``   — a driver-side Geometry literal
    """

    __slots__ = ("kind", "x", "y", "xmin", "ymin", "xmax", "ymax", "wkb_col",
                 "env_col", "geom")

    def __init__(self, kind: str, **kw):
        self.kind = kind
        self.x = kw.get("x")
        self.y = kw.get("y")
        self.xmin = kw.get("xmin")
        self.ymin = kw.get("ymin")
        self.xmax = kw.get("xmax")
        self.ymax = kw.get("ymax")
        self.wkb_col = kw.get("wkb_col")
        self.env_col = kw.get("env_col")
        self.geom = kw.get("geom")

    # -- materialization ------------------------------------------------
    def wkb(self) -> Column:
        if self.kind == "point":
            return udfs.st_point(self.x, self.y)
        if self.kind == "box":
            return udfs.st_polygonfromenvelope(self.xmin, self.ymin, self.xmax, self.ymax)
        if self.kind == "wkb":
            return self.wkb_col
        return F.lit(to_wkb(self.geom))

    # -- envelope child expressions (None when only UDF can supply them) --
    def env(self, which: str) -> Optional[Column]:
        if self.kind == "point":
            return self.x if which in ("xmin", "xmax") else self.y
        if self.kind == "box":
            return getattr(self, which)
        if self.kind == "lit":
            e = self.geom.envelope()
            if e is None:
                return None
            idx = {"xmin": 0, "ymin": 1, "xmax": 2, "ymax": 3}[which]
            return F.lit(e[idx])
        if self.env_col is not None:
            return self.env_col[which]
        return None

    def has_env(self) -> bool:
        return all(self.env(w) is not None for w in ("xmin", "ymin", "xmax", "ymax"))


# ---------------------------------------------------------------------------
# constructors
# ---------------------------------------------------------------------------

def st_point(x: ColumnOrName, y: ColumnOrName) -> GeomExpr:
    return GeomExpr("point", x=_numlit(x), y=_numlit(y))


def st_box(xmin, ymin, xmax, ymax) -> GeomExpr:
    """Axis-aligned box (ST_PolygonFromEnvelope at the expression level)."""
    return GeomExpr("box", xmin=_numlit(xmin), ymin=_numlit(ymin),
                    xmax=_numlit(xmax), ymax=_numlit(ymax))


st_polygon_from_envelope = st_box


def st_geom(wkb_col: ColumnOrName, env_col: Optional[ColumnOrName] = None) -> GeomExpr:
    """Wrap an existing WKB BinaryType column (optionally with its envelope
    struct — see ``add_geometry``)."""
    return GeomExpr("wkb", wkb_col=_col(wkb_col),
                    env_col=None if env_col is None else _col(env_col))


def st_lit(geom_or_wkt) -> GeomExpr:
    """A constant geometry operand (a ``Geometry`` or WKT) — the DataFrame
    API's spelling of a literal ``ST_GeomFromWKT('...')`` argument.  It is
    the one constructor of the ``lit`` kind, whose envelope is a driver-side
    constant: a literal rectangle or point compiles to pure envelope
    algebra, any other literal to the envelope prefilter AND the exact
    predicate (``test_wkb_with_env_prefilter`` pins that plan)."""
    g = geom_or_wkt
    if isinstance(g, str):
        from ..geom.io import from_wkt
        g = from_wkt(g)
    return GeomExpr("lit", geom=g)


def add_geometry(df: DataFrame, wkb_col: str, env_name: Optional[str] = None) -> DataFrame:
    """Attach the engine-maintained envelope struct ``<col>_env`` — the
    replacement for geolake-Iceberg's spatial file stats (SURVEY.md §1.4).
    Written to Parquet, its min/max column stats give file/row-group skipping
    through Catalyst's built-in pushdown, with zero custom rules."""
    env_name = env_name or f"{wkb_col}_env"

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType, StructField, StructType

    @pandas_udf(StructType([StructField(f, DoubleType()) for f in ("xmin", "ymin", "xmax", "ymax")]))
    def envelope_struct(wkb: pd.Series) -> pd.DataFrame:
        from ..geom import vec
        xmin, ymin, xmax, ymax = vec.envelopes_of_wkb(wkb)
        return pd.DataFrame({"xmin": xmin, "ymin": ymin, "xmax": xmax, "ymax": ymax})

    return df.withColumn(env_name, envelope_struct(F.col(wkb_col)))


def with_point_geometry(df: DataFrame, x: ColumnOrName, y: ColumnOrName,
                        name: str = "geo") -> DataFrame:
    """Materialize a point geometry column plus its envelope struct, the env
    struct built **natively** from the numeric sources (no UDF in the env
    path — scans/joins over it stay whole-stage-codegen'd).

    Appended in ONE projection (round 12): the previous
    withColumn+withColumn+withMetadata chain was three eager analysis
    rounds per call on the interactive path (~45 ms measured); a single
    ``select("*", …)`` with alias-attached metadata builds the identical
    columns — same expressions, same shape-hint metadata, optimizer
    collapses adjacent projections either way.  Falls back to the
    replace-semantics chain when the names already exist."""
    xc, yc = _numlit(x), _numlit(y)
    geo = udfs.st_point(xc, yc)
    env = F.struct(xc.alias("xmin"), yc.alias("ymin"),
                   xc.alias("xmax"), yc.alias("ymax"))
    if name in df.columns or f"{name}_env" in df.columns:
        return df.withColumn(name, geo).withColumn(f"{name}_env", env) \
            .withMetadata(name, {"geom_shape": "points"})
    return df.select("*", geo.alias(name, metadata={"geom_shape": "points"}),
                     env.alias(f"{name}_env"))


def with_box_geometry(df: DataFrame, xmin, ymin, xmax, ymax,
                      name: str = "geo") -> DataFrame:
    """Materialize an axis-aligned box geometry column + native env struct
    (one projection — see ``with_point_geometry``)."""
    a, b, c, d = _numlit(xmin), _numlit(ymin), _numlit(xmax), _numlit(ymax)
    geo = udfs.st_polygonfromenvelope(a, b, c, d)
    env = F.struct(a.alias("xmin"), b.alias("ymin"),
                   c.alias("xmax"), d.alias("ymax"))
    if name in df.columns or f"{name}_env" in df.columns:
        return df.withColumn(name, geo).withColumn(f"{name}_env", env) \
            .withMetadata(name, {"geom_shape": "rects"})
    return df.select("*", geo.alias(name, metadata={"geom_shape": "rects"}),
                     env.alias(f"{name}_env"))


# ---------------------------------------------------------------------------
# predicate compilation
# ---------------------------------------------------------------------------

def _env_overlaps(a: GeomExpr, b: GeomExpr) -> Optional[Column]:
    """Envelope-intersection conjuncts — the engine's translation of the
    reference's relaxed ``stIntersects`` scan expression (Tier B rows,
    SedonaPredicatePushDown.scala:142-144)."""
    if not (a.has_env() and b.has_env()):
        return None
    return (
        (a.env("xmax") >= b.env("xmin")) & (b.env("xmax") >= a.env("xmin"))
        & (a.env("ymax") >= b.env("ymin")) & (b.env("ymax") >= a.env("ymin"))
    )


def _env_covers(a: GeomExpr, b: GeomExpr) -> Optional[Column]:
    """Envelope-containment conjuncts (relaxed ``stCovers``,
    SedonaPredicatePushDown.scala:126-130)."""
    if not (a.has_env() and b.has_env()):
        return None
    return (
        (a.env("xmin") <= b.env("xmin")) & (a.env("xmax") >= b.env("xmax"))
        & (a.env("ymin") <= b.env("ymin")) & (a.env("ymax") >= b.env("ymax"))
    )


def _is_rect(e: GeomExpr) -> bool:
    """True when the expression is exactly its own envelope (box, point, or a
    literal axis-aligned rectangle/point) — the cases where envelope algebra
    IS the exact predicate, not a relaxation."""
    if e.kind in ("point", "box"):
        return True
    if e.kind == "lit":
        g = e.geom
        env = g.envelope()
        if env is None:
            return False
        if g.kind == 1:  # point
            return True
        if g.kind == 3 and len(g.coords) == 1:  # single-ring polygon == its box?
            xmin, ymin, xmax, ymax = env
            ring = set(g.coords[0])
            return ring == {(xmin, ymin), (xmin, ymax), (xmax, ymax), (xmax, ymin)}
    return False


def _exact_udf(name, a: GeomExpr, b: GeomExpr) -> Column:
    return getattr(udfs, name)(a.wkb(), b.wkb())


def _with_prefilter(exact: Column, pre: Optional[Column]) -> Column:
    # envelope prefilter AND exact predicate — two-level design
    return exact if pre is None else (pre & exact)


def st_intersects(a: GeomExpr, b: GeomExpr) -> Column:
    if _is_rect(a) and _is_rect(b):
        return _env_overlaps(a, b)
    return _with_prefilter(_exact_udf("st_intersects", a, b), _env_overlaps(a, b))


def st_disjoint(a: GeomExpr, b: GeomExpr) -> Column:
    if _is_rect(a) and _is_rect(b):
        return ~_env_overlaps(a, b)
    return _exact_udf("st_disjoint", a, b)


def st_covers(a: GeomExpr, b: GeomExpr) -> Column:
    if _is_rect(a) and _is_rect(b):
        return _env_covers(a, b)
    return _with_prefilter(_exact_udf("st_covers", a, b), _env_covers(a, b))


def st_covered_by(a: GeomExpr, b: GeomExpr) -> Column:
    return st_covers(b, a)


def st_contains(a: GeomExpr, b: GeomExpr) -> Column:
    if _is_rect(a) and b.kind == "point":
        # OGC contains: the point must be in the *interior* → strict bounds
        return (
            (b.x > a.env("xmin")) & (b.x < a.env("xmax"))
            & (b.y > a.env("ymin")) & (b.y < a.env("ymax"))
        )
    if _is_rect(a) and _is_rect(b) and b.kind != "point":
        # nonempty rect B inside rect A: inclusive bounds suffice for interiors
        return _env_covers(a, b)
    return _with_prefilter(_exact_udf("st_contains", a, b), _env_covers(a, b))


def st_within(a: GeomExpr, b: GeomExpr) -> Column:
    return st_contains(b, a)


def st_equals(a: GeomExpr, b: GeomExpr) -> Column:
    if a.kind == "point" and b.kind == "point":
        return (a.x == b.x) & (a.y == b.y)
    return _with_prefilter(_exact_udf("st_equals", a, b), _env_covers(a, b))


def st_touches(a: GeomExpr, b: GeomExpr) -> Column:
    return _with_prefilter(_exact_udf("st_touches", a, b), _env_overlaps(a, b))


def st_crosses(a: GeomExpr, b: GeomExpr) -> Column:
    return _with_prefilter(_exact_udf("st_crosses", a, b), _env_overlaps(a, b))


def st_overlaps(a: GeomExpr, b: GeomExpr) -> Column:
    return _with_prefilter(_exact_udf("st_overlaps", a, b), _env_overlaps(a, b))


# ---------------------------------------------------------------------------
# measures / accessors — native where the operand structure allows
# ---------------------------------------------------------------------------

def st_distance(a: GeomExpr, b: GeomExpr) -> Column:
    if a.kind == "point" and b.kind == "point":
        return F.sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))
    return udfs.st_distance(a.wkb(), b.wkb())


def st_area(g: GeomExpr) -> Column:
    if g.kind == "box":
        return (g.xmax - g.xmin) * (g.ymax - g.ymin)
    if g.kind == "point":
        return F.lit(0.0)
    return udfs.st_area(g.wkb())


def st_length(g: GeomExpr) -> Column:
    if g.kind == "box":
        return F.lit(2.0) * ((g.xmax - g.xmin) + (g.ymax - g.ymin))
    if g.kind == "point":
        return F.lit(0.0)
    return udfs.st_length(g.wkb())


def st_x(g: GeomExpr) -> Column:
    return g.x if g.kind == "point" else udfs.st_x(g.wkb())


def st_y(g: GeomExpr) -> Column:
    return g.y if g.kind == "point" else udfs.st_y(g.wkb())


def st_xmin(g: GeomExpr) -> Column:
    return g.env("xmin") if g.has_env() else udfs.st_xmin(g.wkb())


def st_ymin(g: GeomExpr) -> Column:
    return g.env("ymin") if g.has_env() else udfs.st_ymin(g.wkb())


def st_xmax(g: GeomExpr) -> Column:
    return g.env("xmax") if g.has_env() else udfs.st_xmax(g.wkb())


def st_ymax(g: GeomExpr) -> Column:
    return g.env("ymax") if g.has_env() else udfs.st_ymax(g.wkb())


def st_centroid(g: GeomExpr) -> GeomExpr:
    if g.kind == "point":
        return g
    if g.kind == "box":
        return st_point((g.xmin + g.xmax) / 2, (g.ymin + g.ymax) / 2)
    return st_geom(udfs.st_centroid(g.wkb()))


def st_astext(g: GeomExpr) -> Column:
    return udfs.st_astext(g.wkb())


def st_asbinary(g: GeomExpr) -> Column:
    return g.wkb()
