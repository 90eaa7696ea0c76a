"""Spatial aggregates.

Two implementations per aggregate, mirroring SURVEY.md §3.3:

1. **SQL-facing** grouped-agg pandas UDFs (registered by ``register_all`` so
   ``SELECT ST_Union_Aggr(geo) FROM t GROUP BY k`` works verbatim like the
   reference's injected UDAFs, ``SedonaExpressionsRegistrator.scala:48-54``).
   Grouped-agg UDFs ship whole groups to Python — fine for moderate groups,
   not the 100 TB path.

2. **Scale-path** DataFrame helpers (``centroid_agg_columns`` /
   ``envelope_agg_exprs`` / ``union_agg``) that decompose into Spark-native
   partial+final aggregation: the centroid becomes 9 ``F.sum`` columns (the
   exact ``CentroidBuffer`` monoid, ``UDAF/AggregateFunctions.scala:12-14``),
   the envelope becomes 4 ``F.min``/``F.max``, the union a two-phase
   ``applyInPandas`` tree-reduce.  These are the ones ``queries()`` uses.
"""

from __future__ import annotations

from typing import List, Optional

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType, DoubleType, StructField, StructType

_BIN = BinaryType()
_CB_STRUCT = StructType([StructField(f, DoubleType()) for f in (
    "area2", "acx3", "acy3", "length", "lcx", "lcy", "npts", "pcx", "pcy")])

from ..geom import algos as A
from ..geom.io import from_wkb, to_wkb
from ..geom.model import Geometry


# ---------------------------------------------------------------------------
# SQL-facing grouped-agg UDFs (Series -> scalar type hints: GROUPED_AGG)
# ---------------------------------------------------------------------------

@pandas_udf(_BIN)
def st_union_aggr(wkb: pd.Series) -> Optional[bytes]:
    geoms = [from_wkb(b) for b in wkb if b is not None]
    u = A.union_all(geoms)
    return None if u is None else to_wkb(u)


@pandas_udf(_BIN)
def st_envelope_aggr(wkb: pd.Series) -> Optional[bytes]:
    import math
    xmin = ymin = math.inf
    xmax = ymax = -math.inf
    found = False
    for b in wkb:
        if b is None:
            continue
        g = from_wkb(b)
        e = g.envelope()
        if e is None:
            continue
        found = True
        xmin, ymin = min(xmin, e[0]), min(ymin, e[1])
        xmax, ymax = max(xmax, e[2]), max(ymax, e[3])
    if not found:
        return None
    if xmin == xmax and ymin == ymax:
        return to_wkb(Geometry.point(xmin, ymin))
    return to_wkb(Geometry.box(xmin, ymin, xmax, ymax))


@pandas_udf(_BIN)
def st_intersection_aggr(wkb: pd.Series) -> Optional[bytes]:
    acc: Optional[Geometry] = None
    for b in wkb:
        if b is None:
            continue
        g = from_wkb(b)
        acc = g if acc is None else A.intersection(acc, g)
        if acc.is_empty():
            break
    return None if acc is None else to_wkb(acc)


@pandas_udf(_BIN)
def st_centroid_aggr(wkb: pd.Series) -> Optional[bytes]:
    buf = A.centroid_buffer_zero()
    for b in wkb:
        if b is not None:
            A.centroid_buffer_add(buf, from_wkb(b))
    g = A.centroid_buffer_finish(buf)
    return None if g is None else to_wkb(g)


AGG_FUNCTIONS = {
    "ST_Union_Aggr": st_union_aggr,
    "ST_Envelope_Aggr": st_envelope_aggr,
    "ST_Intersection_Aggr": st_intersection_aggr,
    "ST_Centroid_Aggr": st_centroid_aggr,
    # reference's own UDAF name (AggregateFunctions.scala:131,
    # registered at SedonaExpressionsRegistrator.scala:48-54)
    "ST_CENTROID_AGGR": st_centroid_aggr,
}


# ---------------------------------------------------------------------------
# scale path: native partial+final aggregation
# ---------------------------------------------------------------------------

@pandas_udf(_CB_STRUCT)
def _centroid_buffer_cols(wkb: pd.Series) -> pd.DataFrame:
    rows = []
    for b in wkb:
        buf = A.centroid_buffer_zero()
        if b is not None:
            A.centroid_buffer_add(buf, from_wkb(b))
        rows.append(buf)
    return pd.DataFrame(rows, columns=list(A.CENTROID_FIELDS))


def centroid_agg_columns_points(x: Column, y: Column) -> List[Column]:
    """The same 9-field CentroidBuffer monoid, specialized for known-point
    inputs: areal/lineal fields are identically zero, puntal fields are plain
    column sums — the whole aggregation is native (no Python anywhere).
    This is the engine's planner choice when the GeomExpr is a point."""
    zero = F.lit(0.0)
    exprs = {
        "area2": F.sum(zero), "acx3": F.sum(zero), "acy3": F.sum(zero),
        "length": F.sum(zero), "lcx": F.sum(zero), "lcy": F.sum(zero),
        "npts": F.count(F.lit(1)).cast("double"), "pcx": F.sum(x), "pcy": F.sum(y),
    }
    return [e.alias(f"_cb_{f}") for f, e in exprs.items()]


def centroid_agg_columns(wkb_col) -> List[Column]:
    """Per-row 9-field centroid buffer as a struct column; sum the fields with
    plain ``F.sum`` (Spark partial+final agg — the distributed monoid merge of
    ``CentroidBuffer.merge``, AggregateFunctions.scala:141-145) and feed the
    sums to :func:`centroid_finish_xy`."""
    s = _centroid_buffer_cols(wkb_col)
    return [F.sum(s[f]).alias(f"_cb_{f}") for f in A.CENTROID_FIELDS]


def centroid_finish_xy(prefix: str = "_cb_"):
    """(x, y) finish expressions over the summed buffer columns — priority
    areal > lineal > puntal (AggregateFunctions.scala:111-126), all native."""
    c = lambda f: F.col(prefix + f)  # noqa: E731
    x = (
        F.when(F.abs(c("area2")) > 0, c("acx3") / (3.0 * c("area2")))
        .when(c("length") > 0, c("lcx") / c("length"))
        .when(c("npts") > 0, c("pcx") / c("npts"))
    )
    y = (
        F.when(F.abs(c("area2")) > 0, c("acy3") / (3.0 * c("area2")))
        .when(c("length") > 0, c("lcy") / c("length"))
        .when(c("npts") > 0, c("pcy") / c("npts"))
    )
    return x, y


def envelope_agg_exprs(xmin, ymin, xmax, ymax) -> List[Column]:
    """ST_Envelope_Aggr as four fully-native min/max aggregates over envelope
    (or point x/y) columns — zero Python in the plan."""
    return [
        F.min(xmin).alias("xmin"), F.min(ymin).alias("ymin"),
        F.max(xmax).alias("xmax"), F.max(ymax).alias("ymax"),
    ]


def union_agg(df: DataFrame, wkb_col: str, group_cols: Optional[List[str]] = None) -> DataFrame:
    """Two-phase distributed n-ary union: per-partition partial unions via
    ``applyInPandas`` over a salt key, then a final merge per group — the
    tree-reduce shape of SURVEY.md §3.3 (never collects an unbounded group
    into one task)."""
    group_cols = list(group_cols or [])
    work = df
    if not group_cols:
        work = work.withColumn("_g", F.lit(1))
        group_cols = ["_g"]
        drop_g = True
    else:
        drop_g = False

    type_of = {f.name: f.dataType.simpleString() for f in work.schema.fields}
    key_fields = ", ".join(f"`{c}` {type_of[c]}" for c in group_cols)

    salted = work.withColumn("_salt", F.spark_partition_id() % F.lit(64))

    def partial(pdf: pd.DataFrame) -> pd.DataFrame:
        geoms = [from_wkb(b) for b in pdf[wkb_col] if b is not None]
        u = A.union_all(geoms)
        row = {c: [pdf[c].iloc[0]] for c in group_cols}
        row["_u"] = [None if u is None else to_wkb(u)]
        return pd.DataFrame(row)

    partials = salted.groupBy(*(group_cols + ["_salt"])).applyInPandas(
        partial, f"{key_fields}, _u binary")

    def final(pdf: pd.DataFrame) -> pd.DataFrame:
        geoms = [from_wkb(b) for b in pdf["_u"] if b is not None]
        u = A.union_all(geoms)
        row = {c: [pdf[c].iloc[0]] for c in group_cols}
        row["union_wkb"] = [None if u is None else to_wkb(u)]
        return pd.DataFrame(row)

    out = partials.groupBy(*group_cols).applyInPandas(
        final, f"{key_fields}, union_wkb binary")
    return out.drop("_g") if drop_g else out
