"""Spatial join operator tests — point-in-polygon contract mirroring the
reference's testSpatialJoin (TestSedonaIcebergExtension.scala:108-143), with
both strategies asserted to agree, plus plan-shape checks."""

import pytest
from pyspark.sql import functions as F

from sedona_iceberg_extension_spark.functions import udfs
from sedona_iceberg_extension_spark.operators import knn_join, spatial_join


@pytest.fixture(scope="module")
def pts_boxes(spark):
    # 100 points on a line, 10 disjoint boxes each containing 3 of them
    pts = spark.range(100).select(
        F.col("id").alias("pid"),
        udfs.st_point(F.col("id").cast("double"), F.col("id").cast("double")).alias("geo"),
    )
    boxes = spark.range(10).select(
        F.col("id").alias("bid"),
        udfs.st_polygonfromenvelope(
            (F.col("id") * 10 + 0.5).cast("double"), (F.col("id") * 10 + 0.5).cast("double"),
            (F.col("id") * 10 + 3.5).cast("double"), (F.col("id") * 10 + 3.5).cast("double"),
        ).alias("geo"),
    )
    return pts, boxes


EXPECTED_PAIRS = sorted((b, b * 10 + i) for b in range(10) for i in (1, 2, 3))


def _pairs(df):
    return sorted((r["bid"], r["pid"]) for r in df.select("bid", "pid").collect())


def test_broadcast_strategy(spark, pts_boxes):
    pts, boxes = pts_boxes
    out = spatial_join(boxes, pts, predicate="contains", on=("geo", "geo"),
                       strategy="broadcast", left_is_rects=True, right_is_points=True)
    assert _pairs(out) == EXPECTED_PAIRS


def test_grid_strategy(spark, pts_boxes):
    pts, boxes = pts_boxes
    out = spatial_join(boxes, pts, predicate="contains", on=("geo", "geo"),
                       strategy="grid", left_is_rects=True, right_is_points=True)
    assert _pairs(out) == EXPECTED_PAIRS


def test_grid_strategy_no_hints_udf_refine(spark, pts_boxes):
    """Without rect/point hints the exact UDF refines — same result."""
    pts, boxes = pts_boxes
    out = spatial_join(boxes, pts, predicate="contains", on=("geo", "geo"), strategy="grid")
    assert _pairs(out) == EXPECTED_PAIRS


def test_intersects_symmetric(spark, pts_boxes):
    pts, boxes = pts_boxes
    out = spatial_join(pts, boxes, predicate="intersects", on=("geo", "geo"),
                       strategy="grid", left_is_points=True, right_is_rects=True)
    assert sorted((r["bid"], r["pid"]) for r in out.collect()) == EXPECTED_PAIRS


def test_boundary_point_contains_vs_intersects(spark):
    """Point exactly on box edge: intersects=yes, contains=no (OGC)."""
    pts = spark.createDataFrame([(1,)], "pid int").select(
        "pid", udfs.st_point(F.lit(0.0), F.lit(5.0)).alias("geo"))
    boxes = spark.createDataFrame([(1,)], "bid int").select(
        "bid", udfs.st_polygonfromenvelope(
            F.lit(0.0), F.lit(0.0), F.lit(10.0), F.lit(10.0)).alias("geo"))
    got_c = spatial_join(boxes, pts, predicate="contains", on=("geo", "geo"),
                         strategy="broadcast", left_is_rects=True, right_is_points=True)
    got_i = spatial_join(boxes, pts, predicate="intersects", on=("geo", "geo"),
                         strategy="broadcast", left_is_rects=True, right_is_points=True)
    assert got_c.count() == 0
    assert got_i.count() == 1


def test_semi_and_anti(spark, pts_boxes):
    pts, boxes = pts_boxes
    semi = spatial_join(pts, boxes, predicate="intersects", on=("geo", "geo"),
                        strategy="grid", how="left_semi",
                        left_is_points=True, right_is_rects=True)
    anti = spatial_join(pts, boxes, predicate="intersects", on=("geo", "geo"),
                        strategy="grid", how="left_anti",
                        left_is_points=True, right_is_rects=True)
    n_semi, n_anti = semi.count(), anti.count()
    assert n_semi == 30
    assert n_anti == 70
    assert sorted(r["pid"] for r in semi.collect()) == sorted(p for _, p in EXPECTED_PAIRS)


def test_dwithin_points_native(spark):
    a = spark.range(50).select(
        F.col("id").alias("aid"),
        udfs.st_point(F.col("id").cast("double"), F.lit(0.0)).alias("geo"))
    b = spark.range(50).select(
        F.col("id").alias("bid2"),
        udfs.st_point(F.col("id").cast("double") + 0.4, F.lit(0.3)).alias("geo"))
    out = spatial_join(a, b, predicate="dwithin", on=("geo", "geo"), d=0.6,
                       strategy="grid", left_is_points=True, right_is_points=True)
    # each a_i matches b_i (dist=0.5) only
    got = sorted((r["aid"], r["bid2"]) for r in out.collect())
    assert got == [(i, i) for i in range(50)]


def test_native_plan_when_hinted(spark, tmp_path):
    """With env structs persisted (the at-scale layout: add_geometry → write)
    and rect/point hints, the whole join plan is Python-free — the parity
    assertion for Sedona's plan checks (test :122,137)."""
    from sedona_iceberg_extension_spark.functions.api import (
        with_box_geometry, with_point_geometry)

    pts = with_point_geometry(
        spark.range(100).select(F.col("id").alias("pid")),
        F.col("pid").cast("double"), F.col("pid").cast("double"))
    boxes = with_box_geometry(
        spark.range(10).select(F.col("id").alias("bid")),
        (F.col("bid") * 10 + 0.5).cast("double"), (F.col("bid") * 10 + 0.5).cast("double"),
        (F.col("bid") * 10 + 3.5).cast("double"), (F.col("bid") * 10 + 3.5).cast("double"))
    pp, bp = str(tmp_path / "p.parquet"), str(tmp_path / "b.parquet")
    pts.write.mode("overwrite").parquet(pp)
    boxes.write.mode("overwrite").parquet(bp)
    pts_r, boxes_r = spark.read.parquet(pp), spark.read.parquet(bp)

    out = spatial_join(boxes_r, pts_r, predicate="contains", on=("geo", "geo"),
                       strategy="grid", left_is_rects=True, right_is_points=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan
    assert _pairs(out) == EXPECTED_PAIRS

    # cached inputs must plan and answer identically (reference test :129-142)
    out_c = spatial_join(boxes_r.cache(), pts_r.cache(), predicate="contains",
                         on=("geo", "geo"), strategy="grid",
                         left_is_rects=True, right_is_points=True)
    assert _pairs(out_c) == EXPECTED_PAIRS


def test_knn_join(spark):
    data = spark.range(100).select(
        F.col("id").alias("did"),
        F.col("id").cast("double").alias("x"), F.lit(0.0).alias("y"))
    queries = spark.createDataFrame([(0, 10.2, 0.0), (1, 50.7, 0.0)], "id int, x double, y double")
    out = knn_join(queries, data, k=3, query_id="id")
    got = {r["query_id"]: sorted(x["did"] for x in out.filter(F.col("query_id") == r["query_id"]).collect())
           for r in out.select("query_id").distinct().collect()}
    assert got[0] == [9, 10, 11]
    assert got[1] == [50, 51, 52]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_knn_join_grid_path_matches_broadcast_exact(spark):
    """Large query side: the grid adaptive-radius path must (a) plan no cross
    join / nested-loop join and (b) return exactly the broadcast-exact answer."""
    import random
    rng = random.Random(11)
    data = spark.createDataFrame(
        [(i, rng.uniform(0, 100), rng.uniform(0, 100)) for i in range(5000)],
        "did long, x double, y double")
    queries = spark.createDataFrame(
        [(i, rng.uniform(0, 100), rng.uniform(0, 100)) for i in range(1000)],
        "id long, x double, y double")
    grid = knn_join(queries, data, k=4, query_id="id",
                    broadcast_threshold_rows=100)
    plan = grid._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan
    exact = knn_join(queries, data, k=4, query_id="id")  # broadcast path
    g = {(r["query_id"], r["did"], r["_rank"]) for r in grid.collect()}
    e = {(r["query_id"], r["did"], r["_rank"]) for r in exact.collect()}
    assert g == e
    assert len({q for q, _, _ in g}) == 1000  # every query answered


def test_knn_join_grid_more_neighbors_than_radius_rounds(spark):
    """k close to |data|: early rounds can satisfy nobody; the final
    full-extent round must still answer every query exactly."""
    data = spark.createDataFrame(
        [(i, float(i), 0.0) for i in range(10)], "did long, x double, y double")
    queries = spark.createDataFrame(
        [(i, float(i) + 0.1, 0.0) for i in range(30)], "id long, x double, y double")
    out = knn_join(queries, data, k=8, query_id="id",
                   broadcast_threshold_rows=10, max_rounds=3)
    rows = out.collect()
    assert len(rows) == 30 * 8
    exact = knn_join(queries, data, k=8, query_id="id")
    assert {(r["query_id"], r["did"], r["_rank"]) for r in rows} == \
        {(r["query_id"], r["did"], r["_rank"]) for r in exact.collect()}


def test_salted_collect_list_matches_direct(spark, sf_dir):
    from sedona_iceberg_extension_spark.operators import skew
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select("user_id", "event_id")
    direct = {r["user_id"]: sorted(r["v"]) for r in
              ev.groupBy("user_id")
              .agg(F.collect_list("event_id").alias("v")).collect()}
    salted = {r["user_id"]: sorted(r["values"]) for r in
              skew.salted_collect_list(ev, "user_id", "event_id",
                                       salt_n=8).collect()}
    assert salted == direct

    # plan shape: two aggregation exchanges, hot key split across salts
    plan = skew.salted_collect_list(ev, "user_id", "event_id")._jdf \
        .queryExecution().executedPlan().toString()
    assert "collect_list" in plan


def test_salted_count_distinct_matches_direct(spark, sf_dir):
    from sedona_iceberg_extension_spark.operators import skew
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select("user_id", "event_type")
    direct = {r["user_id"]: r["n"] for r in
              ev.groupBy("user_id")
              .agg(F.countDistinct("event_type").alias("n")).collect()}
    salted = {r["user_id"]: r["n_distinct"] for r in
              skew.salted_count_distinct(ev, "user_id", "event_type",
                                         salt_n=4).collect()}
    assert salted == direct


def test_asof_join_semantics(spark):
    from sedona_iceberg_extension_spark.operators.asof import asof_join
    from pyspark.sql import functions as F

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 10, "d")],
        "k long, ts long, tag string")
    right = spark.createDataFrame(
        [(1, 8, 100.0), (1, 15, 200.0), (1, 20, 300.0), (3, 1, 999.0)],
        "k long, ts long, v double")
    out = {r["tag"]: r["v_r"] for r in
           asof_join(left, right, on="k", left_ts="ts", right_ts="ts").collect()}
    assert out["a"] == 100.0   # ts=10 → latest right at 8
    assert out["b"] == 300.0   # ts=20 → equal-ts right matches (inclusive)
    assert out["c"] is None    # ts=5 → no prior right
    assert out["d"] is None    # key 2 has no right rows at all


def test_asof_join_null_fields_come_from_latest_row(spark):
    """All carried values must come from ONE (the latest) right row: a NULL
    field in that row stays NULL rather than falling back to an older row."""
    from sedona_iceberg_extension_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 100, "q")], "k long, ts long, tag string")
    right = spark.createDataFrame(
        [(1, 10, 1.0, "old"), (1, 50, None, "new")],
        "k long, ts long, v double, s string")
    row = asof_join(left, right, on="k", left_ts="ts", right_ts="ts").first()
    assert row["s_r"] == "new"
    assert row["v_r"] is None  # latest row's NULL, not the older 1.0


def test_left_outer_grid_join(spark):
    """how='left': unmatched left rows survive exactly once with the right
    side null-extended — the cell-exploded copies must collapse back."""
    from sedona_iceberg_extension_spark.functions import api as ST
    from sedona_iceberg_extension_spark.operators import spatial_join

    pts = ST.with_point_geometry(
        spark.createDataFrame([(1, 10.0, 10.0), (2, 20.0, 20.0),
                               (3, 99.0, 99.0)], "id long, x double, y double"),
        F.col("x"), F.col("y"))
    boxes = ST.with_box_geometry(
        spark.createDataFrame([(10, 0.0, 0.0, 15.0, 15.0),
                               (20, 15.0, 15.0, 25.0, 25.0)],
                              "bid long, x0 double, y0 double, x1 double, y1 double"),
        F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1"))
    out = spatial_join(pts, boxes, predicate="within", on=("geo", "geo"),
                       how="left", strategy="grid",
                       left_is_points=True, right_is_rects=True)
    rows = sorted((r["id"], r["bid"]) for r in out.select("id", "bid").collect())
    assert rows == [(1, 10), (2, 20), (3, None)]


def test_resample_ffill_grid_and_fill(spark):
    from sedona_iceberg_extension_spark.operators.asof import resample_ffill
    rows = [(1, "2024-01-01 00:10:00", 10.0),
            (1, "2024-01-01 02:50:00", 20.0),
            (2, "2024-01-01 01:05:00", 5.0)]
    df = spark.createDataFrame(rows, "user_id long, s string, value double") \
        .select("user_id", F.to_timestamp("s").alias("ts"), "value")
    out = {(r["user_id"], r["t_s"]): r["value_r"]
           for r in resample_ffill(df, "user_id", "ts",
                                   ["value"], every_s=3600).collect()}
    users = {k[0] for k in out}
    assert users == {1, 2}
    u1 = sorted(t for (u, t) in out if u == 1)
    assert len(u1) == 3 and u1[1] - u1[0] == 3600  # 00:00, 01:00, 02:00 grid
    assert out[(1, u1[0])] is None        # grid point before first observation
    assert out[(1, u1[1])] == 10.0        # forward-filled
    assert out[(1, u1[2])] == 10.0        # still 10 until 02:50
    u2 = sorted(t for (u, t) in out if u == 2)
    assert len(u2) == 1 and out[(2, u2[0])] is None


def test_asof_join_directions(spark):
    """forward picks the earliest at-or-after row; nearest picks the
    closer side and ties go backward."""
    from sedona_iceberg_extension_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10), (1, 25), (1, 100)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 5, "a"), (1, 20, "b"), (1, 30, "c")], "k long, ts long, v string")
    fwd = {r["ts"]: r["v_r"] for r in
           asof_join(left, right, "k", direction="forward").collect()}
    assert fwd == {10: "b", 25: "c", 100: None}
    near = {r["ts"]: r["v_r"] for r in
            asof_join(left, right, "k", direction="nearest").collect()}
    # ts=10: back a(5) d=5, fwd b(20) d=10 -> a; ts=25: back b d=5, fwd c
    # d=5 -> tie -> backward b; ts=100: only backward c
    assert near == {10: "a", 25: "b", 100: "c"}
    # exact-ts hit is inclusive in both directions
    hit = asof_join(spark.createDataFrame([(1, 20)], "k long, ts long"),
                    right, "k", direction="forward").collect()[0]
    assert hit["v_r"] == "b"


# ---------------------------------------------------------------------------
# property: the grid join == brute-force geometry over random rects/points
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st

# multiples of 0.25 in a small window, so points land EXACTLY on box edges
# and grid-cell boundaries often — the cases the envelope algebra, the
# strict-vs-closed predicate split, and the reference-cell dedup must get
# right (a naive cell join double-emits pairs whose envelope intersection
# straddles a cell line).
_q = st.integers(min_value=-20, max_value=20).map(lambda i: i * 0.25)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.tuples(_q, _q, st.integers(0, 16), st.integers(0, 16)),
             min_size=1, max_size=12),
    st.lists(st.tuples(_q, _q), min_size=1, max_size=25),
)
def test_grid_join_matches_bruteforce(spark, rects, points):
    """Grid strategy vs plain Python on random geometry: OGC contains
    (strict interior for a point right side) and intersects (closed
    envelopes) — pair sets must match exactly, including boundary hits,
    degenerate zero-area boxes, and pairs spanning multiple grid cells
    (grid_size=1.0 forces multi-cell envelopes; exactly-once emission is
    the reference-cell dedup's contract)."""
    boxes = spark.createDataFrame(
        [(i, x, y, x + w * 0.25, y + h * 0.25)
         for i, (x, y, w, h) in enumerate(rects)],
        "bid long, xmin double, ymin double, xmax double, ymax double"
    ).select("bid", udfs.st_polygonfromenvelope(
        "xmin", "ymin", "xmax", "ymax").alias("geo"))
    pts = spark.createDataFrame(
        [(j, x, y) for j, (x, y) in enumerate(points)],
        "pid long, x double, y double"
    ).select("pid", udfs.st_point("x", "y").alias("geo"))

    got_c = sorted((r["bid"], r["pid"]) for r in spatial_join(
        boxes, pts, predicate="contains", on=("geo", "geo"), strategy="grid",
        grid_size=1.0, left_is_rects=True, right_is_points=True
    ).select("bid", "pid").collect())
    want_c = sorted(
        (i, j)
        for i, (x, y, w, h) in enumerate(rects)
        for j, (px, py) in enumerate(points)
        if x < px < x + w * 0.25 and y < py < y + h * 0.25)
    assert got_c == want_c

    got_i = sorted((r["bid"], r["pid"]) for r in spatial_join(
        boxes, pts, predicate="intersects", on=("geo", "geo"), strategy="grid",
        grid_size=1.0, left_is_rects=True, right_is_points=True
    ).select("bid", "pid").collect())
    want_i = sorted(
        (i, j)
        for i, (x, y, w, h) in enumerate(rects)
        for j, (px, py) in enumerate(points)
        if x <= px <= x + w * 0.25 and y <= py <= y + h * 0.25)
    assert got_i == want_i

    # fully-native point-point distance join: dist^2 <= d^2, closed —
    # d=1.5 spans 1-2 grid cells so the padded left-side cell explode and
    # the dedup both engage
    qpts = pts.select(F.col("pid").alias("qid"), "geo")
    got_d = sorted((r["qid"], r["pid"]) for r in spatial_join(
        qpts, pts, predicate="dwithin", on=("geo", "geo"), strategy="grid",
        grid_size=1.0, d=1.5, left_is_points=True, right_is_points=True
    ).select("qid", "pid").collect())
    want_d = sorted(
        (i, j)
        for i, (ax, ay) in enumerate(points)
        for j, (bx, by) in enumerate(points)
        if (ax - bx) ** 2 + (ay - by) ** 2 <= 1.5 * 1.5)
    assert got_d == want_d


def _sj_fixture_dfs(spark, sf_dir):
    """Declared-shape inputs: nation boxes / customer points / supplier
    points with persisted env structs and shape hints — both sides share
    the ``geo``/``geo_env`` names, so the collision rename is exercised."""
    from sedona_iceberg_extension_spark.functions import api as ST
    from sedona_iceberg_extension_spark.sources.tables import load_table

    cust = load_table(spark, sf_dir, "customer")
    pts = ST.with_point_geometry(
        cust.select("c_custkey"),
        (F.col("c_custkey") % 360 - 180).cast("double"),
        ((F.col("c_custkey") * 7) % 180 - 90).cast("double"))
    nat = load_table(spark, sf_dir, "nation")
    boxes = ST.with_box_geometry(
        nat.select("n_nationkey"),
        (F.col("n_nationkey") * 14 - 180).cast("double"), F.lit(-90.0),
        (F.col("n_nationkey") * 14 - 166).cast("double"), F.lit(90.0))
    sup = load_table(spark, sf_dir, "supplier")
    spts = ST.with_point_geometry(
        sup.select("s_suppkey"),
        (F.col("s_suppkey") % 360 - 180).cast("double"),
        ((F.col("s_suppkey") * 11) % 180 - 90).cast("double"))
    return pts, boxes, spts


_NATIVE_OPS = ("BroadcastNestedLoopJoin", "CartesianProduct")


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("how", ["inner", "left", "left_semi", "left_anti"])
@pytest.mark.parametrize("strategy", ["grid", "broadcast"])
def test_output_columns_pinned_per_shape_and_how(spark, sf_dir, how, strategy):
    """Pinned output columns of every shape: both inputs keep their columns
    (the right's ``r_``-prefixed on collision, the rename
    `sql_join.plan_spatial_join_sql` reads back) for inner/left, the left's
    for semi/anti; an envelope attached to an env-less input never reaches
    the output.  The grid plan is an equi-join, never a nested loop or a
    cartesian product; the hint-exact grid plan is Python-free; the
    DataFrame named-args leave no temp views."""
    pts, boxes, _ = _sj_fixture_dfs(spark, sf_dir)
    bare = boxes.select("n_nationkey", F.col("geo").cast("binary").alias("geo"))
    pinned = {
        "env": ["n_nationkey", "geo", "geo_env",
                "c_custkey", "r_geo", "r_geo_env"],
        "bare": ["n_nationkey", "geo", "c_custkey", "r_geo", "geo_env"],
    }
    for kind, left in (("env", boxes), ("bare", bare)):
        out = spatial_join(left, pts, predicate="contains", on=("geo", "geo"),
                           how=how, strategy=strategy)
        want = pinned[kind]
        if how in ("left_semi", "left_anti"):
            want = list(left.columns)
        assert out.columns == want, (kind, out.columns)
        plan = _executed(out)
        if strategy == "grid":
            assert not any(op in plan for op in _NATIVE_OPS), plan
        else:
            assert "BroadcastNestedLoopJoin" in plan, plan
    hinted = spatial_join(boxes, pts, predicate="contains", on=("geo", "geo"),
                          how=how, strategy="grid")
    assert "EvalPython" not in _executed(hinted.select("n_nationkey"))
    assert not [t for t in spark.catalog.listTables()
                if t.name.startswith("_pyspark_")]


def _quarter_side(spark, shape, n, salt, name):
    """Boundary-heavy quarter-grid inputs: coordinates on multiples of 0.25
    so edges and corners coincide with each other and with grid-cell lines
    (grid_size=1.0), and box widths/heights include 0 (zero-area boxes).
    ``shape``: points / rects (env struct + shape hint), polys (rect
    geometry, env struct, no hint), bare (rect geometry, no env, no hint),
    bare_rects (no env; the hint passed as an argument)."""
    from sedona_iceberg_extension_spark.functions import api as ST

    base = spark.range(n).select(F.col("id").alias(name))
    x = ((F.col(name) * 3 + salt) % 17 - 8) / 4.0
    y = ((F.col(name) * 5 + 2 * salt) % 13 - 6) / 4.0
    if shape == "points":
        return ST.with_point_geometry(base, x, y)
    df = ST.with_box_geometry(base, x, y, x + (F.col(name) % 5) / 4.0,
                              y + (F.col(name) % 3) / 4.0)
    if shape == "polys":       # a cast drops the shape-hint metadata
        return df.select(name, F.col("geo").cast("binary").alias("geo"),
                         "geo_env")
    if shape in ("bare", "bare_rects"):
        return df.select(name, F.col("geo").cast("binary").alias("geo"))
    return df


_REF_UDF = {"contains": udfs.st_contains, "within": udfs.st_within,
            "covers": udfs.st_covers, "covered_by": udfs.st_coveredby,
            "intersects": udfs.st_intersects, "touches": udfs.st_touches}


@pytest.mark.parametrize("predicate,lshape,rshape", [
    ("contains", "rects", "points"),    # strict-bounds branch
    ("within", "points", "rects"),      # mirrored strict-bounds branch
    ("covers", "rects", "rects"),       # closed-bounds env-exact branches
    ("covered_by", "points", "rects"),
    ("intersects", "rects", "rects"),
    ("intersects", "points", "points"),
    ("within", "points", "points"),
    ("dwithin", "points", "points"),    # native distance branch
    ("contains", "rects", "rects"),     # closed prefilter + ST_Contains
    ("within", "rects", "rects"),
    ("contains", "polys", "points"),    # strict prefilter + ST_Contains
    ("within", "points", "polys"),
    ("dwithin", "rects", "points"),     # padded prefilter + ST_Distance
    ("touches", "rects", "rects"),      # overlap prefilter + ST_Touches
    ("intersects", "bare", "points"),   # env-less left, UDF-refined
    ("contains", "polys", "bare"),      # env-less right
    ("covers", "bare_rects", "rects"),  # env-less, hint-exact
])
def test_cond_branches_match_reference(spark, predicate, lshape, rshape):
    """Every branch of the one condition builder (`_cond_sql`), plus the
    UDF-refined and env-less shapes, against a reference cross join
    filtered by the exact ``ST_*`` UDF — for both strategies and every
    ``how``.  A branch whose envelope algebra is not the exact predicate
    (e.g. a <= loosened to <, or a closed bound claimed exact where OGC
    needs an interior point) fails here."""
    rsalt = 1 if (lshape, rshape) == ("points", "points") else 2
    l = _quarter_side(spark, lshape, 40, 1, "k1")
    r = _quarter_side(spark, rshape, 50, rsalt, "k2")
    d = 0.75 if predicate == "dwithin" else 0.0
    hints = {"left_is_rects": True} if lshape == "bare_rects" else {}

    a, b = l.alias("a"), r.alias("b")
    if predicate == "dwithin":
        exact = udfs.st_distance(F.col("a.geo"), F.col("b.geo")) <= d
    else:
        exact = _REF_UDF[predicate](F.col("a.geo"), F.col("b.geo"))
    want = sorted(tuple(row) for row in a.crossJoin(b).filter(exact)
                  .select("a.k1", "b.k2").collect())
    assert want, f"degenerate fixture: no pairs for {predicate}"
    matched = {k1 for k1, _ in want}
    unmatched = sorted({k for k in range(40)} - matched)

    for strategy in ("grid", "broadcast"):
        def run(how):
            return spatial_join(l, r, predicate=predicate, on=("geo", "geo"),
                                how=how, strategy=strategy, grid_size=1.0,
                                d=d, **hints)
        got = sorted(tuple(row) for row in
                     run("inner").select("k1", "k2").collect())
        assert got == want, strategy
        got = sorted(run("left").select("k1", "k2").collect(),
                     key=lambda row: (row[0], row[1] is None, row[1] or 0))
        assert [tuple(row) for row in got] == sorted(
            want + [(k, None) for k in unmatched],
            key=lambda t: (t[0], t[1] is None, t[1] or 0)), strategy
        assert sorted(row[0] for row in
                      run("left_semi").select("k1").collect()) == \
            sorted(matched), strategy
        assert sorted(row[0] for row in
                      run("left_anti").select("k1").collect()) == \
            unmatched, strategy


def test_grid_join_hot_cell_skew_soak(spark):
    """100×-scale skew evidence for the spatial tier (VERDICT r11 item #6,
    the analogue of the dedup tier's `oversize_buckets`): EVERY geometry on
    both sides lands in ONE grid cell, so the cell equi-join hashes the
    whole join into a single shuffle partition — the pathological hot cell.
    The engine's defense is AQE skew-join splitting (on in every engine
    session): the sort-merge join's oversized partition must be SPLIT
    across tasks rather than executed as one straggler, and the answer must
    still be exact.  Thresholds are lowered so test-sized data crosses the
    same trigger real skew crosses at cluster scale (the condition is
    size > max(threshold, factor × median); with every other partition
    empty the median is 0, exactly the production hot-cell signature)."""
    from sedona_iceberg_extension_spark.functions import api as ST

    n_pts, n_boxes = 4000, 60
    pts = ST.with_point_geometry(
        spark.range(n_pts).select(F.col("id").alias("pid")),
        ((F.col("pid") % 97) / 100.0).cast("double"),
        (((F.col("pid") * 7) % 89) / 100.0).cast("double"))
    boxes = ST.with_box_geometry(
        spark.range(n_boxes).select(F.col("id").alias("bid")),
        ((F.col("bid") % 10) / 20.0).cast("double"),
        ((F.col("bid") % 6) / 12.0).cast("double"),
        ((F.col("bid") % 10) / 20.0 + 0.3).cast("double"),
        ((F.col("bid") % 6) / 12.0 + 0.4).cast("double"))
    want = sum(
        1
        for p in range(n_pts)
        for b in range(n_boxes)
        if (b % 10) / 20.0 < (p % 97) / 100.0 < (b % 10) / 20.0 + 0.3
        and (b % 6) / 12.0 < ((p * 7) % 89) / 100.0 < (b % 6) / 12.0 + 0.4)

    knobs = {
        # force the shuffled join AQE's skew rule applies to
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # trigger at test scale (defaults: 256m / factor 5 / 64m advisory)
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8k",
    }
    saved = {}
    for k, v in knobs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        # grid_size ≫ extent → one cell holds every envelope on both sides
        out = spatial_join(boxes, pts, predicate="contains", on=("geo", "geo"),
                           strategy="grid", grid_size=1000.0,
                           left_is_rects=True, right_is_points=True) \
            .select("bid", "pid")
        got = len(out.collect())   # execute THIS plan so AQE finalizes it
        assert got == want and got > 0
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan
        # the defense engaged: the hot partition was split, not serialized
        # through one task
        assert "skewed" in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_auto_probe_sizes_raw_right_frame(spark, sf_dir, monkeypatch):
    """strategy='auto' must size the caller's RAW right side — not the
    env-attached or renamed projection the statement reads (Project nodes
    rescale Catalyst's sizeInBytes by row width, so a borderline join near
    the 64 MB threshold could resolve differently) — for every shape."""
    import importlib
    sj = importlib.import_module(
        "sedona_iceberg_extension_spark.operators.spatial_join")

    pts, boxes, _ = _sj_fixture_dfs(spark, sf_dir)
    bare = pts.select("c_custkey", F.col("geo").cast("binary").alias("geo"))
    seen, resolved = [], []
    real = sj._resolve_auto_strategy

    def recorder(right, thr):
        seen.append(right)
        resolved.append(real(right, thr))
        return resolved[-1]

    monkeypatch.setattr(sj, "_resolve_auto_strategy", recorder)
    for right, how in ((pts, "inner"), (bare, "inner"), (pts, "left_anti")):
        sj.spatial_join(boxes, right, predicate="contains", on=("geo", "geo"),
                        how=how, strategy="auto")
    assert seen[0] is pts and seen[1] is bare and seen[2] is pts
    assert resolved[0] == resolved[2]


def test_grid_exchanges_carry_env_struct_not_flats(spark, sf_dir):
    """The grid join statement references envelope STRUCT FIELDS
    directly — no ``_l_*``/``_r_*`` flatten projections —
    so the cell exchanges ship each side's envelope once (the struct)
    instead of twice (struct + four flattened doubles).  A regression
    reintroducing the flats would double the envelope bytes on the
    family's widest shuffle (guide §2.3)."""
    pts, boxes, _ = _sj_fixture_dfs(spark, sf_dir)
    sq = spatial_join(boxes, pts, predicate="contains", on=("geo", "geo"),
                      strategy="grid")
    plan = sq._jdf.queryExecution().executedPlan().toString()
    assert "_l_xmin" not in plan and "_r_xmin" not in plan
    # the env structs still reach the output projection unchanged
    assert "geo_env" in sq.columns and "r_geo_env" in sq.columns


def test_grid_size_cache_hits_across_projection_variants(spark, sf_dir):
    """`_grid_size_from_env`'s level-2 key (optimized-plan hash of the
    stats frame) must see through projection variants of the same inputs,
    so the two-scan sizing job runs once per session per (data, env
    expression, d) — the SQL-text and DataFrame spellings of a declared
    join share one stats job."""
    import importlib

    SJ = importlib.import_module(
        "sedona_iceberg_extension_spark.operators.spatial_join")
    pts, boxes, _ = _sj_fixture_dfs(spark, sf_dir)
    SJ._GRID_SIZE_CACHE.clear()
    SJ._ENV_STATS_CACHE.clear()
    g1 = SJ._grid_size_from_env(boxes, pts, "geo_env", "geo_env", 0.0)
    n_after_first = len(SJ._GRID_SIZE_CACHE)     # level-1 + level-2 entries
    # projection variants: extra columns change the analyzed plans (level-1
    # miss) but prune away in the stats frame (level-2 hit)
    boxes_v = boxes.select("*", F.lit(1).alias("_extra"))
    pts_v = pts.select("*", F.lit(2).alias("_extra"))
    st = spark.sparkContext.statusTracker()
    jobs_before = len(st.getJobIdsForGroup())
    g2 = SJ._grid_size_from_env(boxes_v, pts_v, "geo_env", "geo_env", 0.0)
    jobs_after = len(st.getJobIdsForGroup())
    assert g1 == g2
    # the variant took the level-2 hit: no new Spark job ran
    assert jobs_after == jobs_before
    assert len(SJ._GRID_SIZE_CACHE) > n_after_first   # level-1 entry added
    # orientation-insensitivity: the SQL front door plans the same join
    # with the sides SWAPPED (inverse predicate); `_derive_grid_size` is
    # symmetric, so the swapped orientation must hit too — no new job
    jobs_before = len(st.getJobIdsForGroup())
    g3 = SJ._grid_size_from_env(pts, boxes, "geo_env", "geo_env", 0.0)
    assert g3 == g1
    assert len(st.getJobIdsForGroup()) == jobs_before
    # a NEW PAIRING of two already-seen sides also needs no job
    jobs_before = len(st.getJobIdsForGroup())
    boxes2 = boxes.select("n_nationkey", "geo", "geo_env")
    g4 = SJ._grid_size_from_env(boxes2, boxes, "geo_env", "geo_env", 0.0)
    assert g4 > 0
    assert len(st.getJobIdsForGroup()) == jobs_before
    SJ._GRID_SIZE_CACHE.clear()
    SJ._ENV_STATS_CACHE.clear()
