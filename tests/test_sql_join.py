"""SQL-text spatial join planning — parity with the reference's
``testSpatialJoin`` (TestSedonaIcebergExtension.scala:109-142): the literal
SQL ``SELECT l.id id_l, r.id id_r FROM test_left l JOIN test_right r ON
ST_Contains(r.geo, l.geo) ORDER BY id_l`` must produce the indexed join plan
(their assert: BroadcastIndexJoin|RangeJoin; ours: a cell equi-join, never
BroadcastNestedLoopJoin/CartesianProduct) and the same two rows."""

import pytest

from pyspark.sql import functions as F

from sedona_iceberg_extension_spark.operators import spatial_sql
from sedona_iceberg_extension_spark.operators.sql_join import _plan_statement


REF_SQL = ("SELECT l.id id_l, r.id id_r "
           "FROM test_left l JOIN test_right r "
           "ON ST_Contains(r.geo, l.geo) "
           "ORDER BY id_l")


@pytest.fixture()
def ref_tables(spark):
    # the reference test's exact data (TestSedonaIcebergExtension.scala:110-116)
    spark.sql(
        "SELECT 1 AS id, 'data_1' AS data, ST_Point(CAST(10.0 AS DOUBLE), CAST(10.0 AS DOUBLE)) AS geo "
        "UNION ALL "
        "SELECT 2, 'data_2', ST_Point(CAST(20.0 AS DOUBLE), CAST(20.0 AS DOUBLE))"
    ).createOrReplaceTempView("test_left")
    spark.sql(
        "SELECT 10 AS id, ST_PolygonFromEnvelope(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(15.0 AS DOUBLE), CAST(15.0 AS DOUBLE)) AS geo "
        "UNION ALL "
        "SELECT 20, ST_PolygonFromEnvelope(CAST(15.0 AS DOUBLE), CAST(15.0 AS DOUBLE), CAST(25.0 AS DOUBLE), CAST(25.0 AS DOUBLE))"
    ).createOrReplaceTempView("test_right")


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_reference_sql_shape_rows_and_plan(spark, ref_tables):
    df = spatial_sql(spark, REF_SQL)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    rows = [(r.id_l, r.id_r) for r in df.collect()]
    assert rows == [(1, 10), (2, 20)]


def test_cached_tables_still_plan(spark, ref_tables):
    # reference re-runs the join after CACHE TABLE (scala:129-142)
    spark.sql("CACHE TABLE test_left")
    spark.sql("CACHE TABLE test_right")
    try:
        df = spatial_sql(spark, REF_SQL)
        plan = _plan(df)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert [(r.id_l, r.id_r) for r in df.collect()] == [(1, 10), (2, 20)]
    finally:
        spark.sql("UNCACHE TABLE test_left")
        spark.sql("UNCACHE TABLE test_right")


def test_dwithin_and_extra_conjuncts(spark, ref_tables):
    df = spatial_sql(spark, (
        "SELECT l.id AS id_l, r.id AS id_r "
        "FROM test_left l JOIN test_right r "
        "ON ST_DWithin(l.geo, r.geo, 5.0) AND r.id > 10 "
        "WHERE l.id >= 1 "
        "ORDER BY id_l, id_r"))
    # point (20,20) within 5 of box (15,15,25,25) only (point (10,10) is
    # 7.07 away); box 10 filtered out by the extra conjunct
    assert [(r.id_l, r.id_r) for r in df.collect()] == [(2, 20)]


def test_where_group_by_over_rewritten_join(spark, ref_tables):
    df = spatial_sql(spark, (
        "SELECT r.id AS box_id, COUNT(*) AS n "
        "FROM test_left l JOIN test_right r ON ST_Intersects(l.geo, r.geo) "
        "GROUP BY r.id ORDER BY box_id"))
    assert [(r.box_id, r.n) for r in df.collect()] == [(10, 1), (20, 1)]


def test_non_spatial_sql_passthrough(spark, ref_tables):
    df = spatial_sql(spark, "SELECT COUNT(*) AS n FROM test_left")
    assert df.collect()[0].n == 2
    assert _plan_statement(spark, "SELECT 1") is None


def test_unrecognized_join_falls_back(spark, ref_tables):
    # predicate over an expression (not alias.column) — planner declines,
    # vanilla UDF evaluation still returns the right rows
    df = spatial_sql(spark, (
        "SELECT l.id AS id_l, r.id AS id_r "
        "FROM test_left l JOIN test_right r "
        "ON ST_Contains(r.geo, ST_Point(CAST(l.id * 10 AS DOUBLE), CAST(l.id * 10 AS DOUBLE))) "
        "ORDER BY id_l"))
    assert [(r.id_l, r.id_r) for r in df.collect()] == [(1, 10), (2, 20)]


@pytest.fixture()
def zone_table(spark):
    spark.sql(
        "SELECT 100 AS id, ST_PolygonFromEnvelope(CAST(5.0 AS DOUBLE), CAST(5.0 AS DOUBLE), CAST(30.0 AS DOUBLE), CAST(30.0 AS DOUBLE)) AS geo"
    ).createOrReplaceTempView("test_zones")


def test_chained_spatial_joins(spark, ref_tables, zone_table):
    # two spatial joins in one statement — both planned, no nested loop
    df = spatial_sql(spark, (
        "SELECT l.id AS id_l, r.id AS id_r, z.id AS id_z "
        "FROM test_left l JOIN test_right r ON ST_Contains(r.geo, l.geo) "
        "JOIN test_zones z ON ST_Contains(z.geo, l.geo) "
        "ORDER BY id_l"))
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert [(r.id_l, r.id_r, r.id_z) for r in df.collect()] == [
        (1, 10, 100), (2, 20, 100)]


def test_chained_with_extra_conjuncts_and_where(spark, ref_tables, zone_table):
    # join-level AND conjunct must stop at the next JOIN keyword, then fold
    # into the statement's WHERE after all joins are planned
    df = spatial_sql(spark, (
        "SELECT l.id AS id_l, r.id AS id_r, z.id AS id_z "
        "FROM test_left l JOIN test_right r ON ST_Contains(r.geo, l.geo) AND r.id > 15 "
        "JOIN test_zones z ON ST_Intersects(z.geo, r.geo) "
        "WHERE l.id >= 1 ORDER BY id_l"))
    assert [(r.id_l, r.id_r, r.id_z) for r in df.collect()] == [(2, 20, 100)]


def test_alias_free_tables(spark, ref_tables):
    # bare table names are their own aliases
    df = spatial_sql(spark, (
        "SELECT test_left.id AS id_l, test_right.id AS id_r "
        "FROM test_left JOIN test_right ON ST_Contains(test_right.geo, test_left.geo) "
        "ORDER BY id_l"))
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert [(r.id_l, r.id_r) for r in df.collect()] == [(1, 10), (2, 20)]


def test_spatial_then_regular_join(spark, ref_tables):
    # a non-spatial equi-join after the spatial join keeps resolving through
    # the pair view's alias structs
    spark.createDataFrame([(10, "north"), (20, "south")], ["box_id", "label"]) \
        .createOrReplaceTempView("test_labels")
    df = spatial_sql(spark, (
        "SELECT l.id AS id_l, t.label AS label "
        "FROM test_left l JOIN test_right r ON ST_Contains(r.geo, l.geo) "
        "JOIN test_labels t ON t.box_id = r.id "
        "ORDER BY id_l"))
    assert [(r.id_l, r.label) for r in df.collect()] == [
        (1, "north"), (2, "south")]


def test_declared_query_matches_plain_join(spark, sf_dir):
    from sedona_iceberg_extension_spark.plans.queries import QUERIES

    df = QUERIES["spatial_join_sql"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    got = [(r.id_l, r.id_r) for r in df.collect()]

    # independent recomputation with plain column algebra
    from sedona_iceberg_extension_spark.sources import load_table
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") % 360 - 180).cast("double").alias("x"),
        ((F.col("c_custkey") * 7) % 180 - 90).cast("double").alias("y"))
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey",
        (F.col("n_nationkey") * 14 - 180).cast("double").alias("bx0"),
        (F.col("n_nationkey") * 14 - 166).cast("double").alias("bx1"))
    exp = cust.join(nation, (F.col("x") > F.col("bx0")) & (F.col("x") < F.col("bx1"))
                    & (F.col("y") > -90.0) & (F.col("y") < 90.0)) \
        .select("c_custkey", "n_nationkey").orderBy("c_custkey", "n_nationkey")
    expected = [(r.c_custkey, r.n_nationkey) for r in exp.collect()]
    assert got == expected


def test_left_outer_spatial_join_sql(spark, ref_tables):
    # point (10,10) is inside box 10, (20,20) inside box 20; add a point in
    # neither box — LEFT JOIN must keep it with a NULL box id
    spark.sql(
        "SELECT * FROM test_left UNION ALL "
        "SELECT 3, 'data_3', ST_Point(CAST(99.0 AS DOUBLE), CAST(99.0 AS DOUBLE))"
    ).createOrReplaceTempView("test_left3")
    df = spatial_sql(spark, (
        "SELECT l.id AS id_l, r.id AS id_r "
        "FROM test_left3 l LEFT JOIN test_right r ON ST_Contains(r.geo, l.geo) "
        "ORDER BY id_l"))
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    rows = [(r.id_l, r.id_r) for r in df.collect()]
    assert rows == [(1, 10), (2, 20), (3, None)]


@pytest.mark.parametrize("pred_sql", [
    "ST_Contains(b.geo, p.geo)",
    "ST_Intersects(p.geo, b.geo)",
    "ST_DWithin(p.geo, q.geo, 7.5)",
])
def test_rewriter_equals_vanilla_on_random_data(spark, pred_sql):
    """The planned join must return exactly the rows the unplanned (UDF
    nested-loop) evaluation returns — seeded random points and boxes, every
    supported predicate family."""
    import numpy as np
    rng = np.random.default_rng(42)
    pts = [(int(i), float(x), float(y)) for i, (x, y) in
           enumerate(rng.uniform(-50, 50, size=(120, 2)))]
    spark.createDataFrame(pts, "id long, x double, y double") \
        .selectExpr("id", "ST_Point(x, y) AS geo") \
        .createOrReplaceTempView("rnd_p")
    spark.createDataFrame(pts[:40], "id long, x double, y double") \
        .selectExpr("id", "ST_Point(x, y) AS geo") \
        .createOrReplaceTempView("rnd_q")
    boxes = []
    for i, (x, y, w, h) in enumerate(np.c_[rng.uniform(-50, 40, (25, 2)),
                                           rng.uniform(1, 15, (25, 2))]):
        boxes.append((int(i), float(x), float(y), float(x + w), float(y + h)))
    spark.createDataFrame(
        boxes, "id long, x0 double, y0 double, x1 double, y1 double") \
        .selectExpr("id", "ST_PolygonFromEnvelope(x0, y0, x1, y1) AS geo") \
        .createOrReplaceTempView("rnd_b")

    right = "rnd_q q" if "q.geo" in pred_sql else "rnd_b b"
    other = "q" if "q.geo" in pred_sql else "b"
    sql = (f"SELECT p.id AS id_p, {other}.id AS id_o "
           f"FROM rnd_p p JOIN {right} ON {pred_sql} ORDER BY id_p, id_o")
    planned = [(r.id_p, r.id_o) for r in spatial_sql(spark, sql).collect()]
    vanilla = [(r.id_p, r.id_o) for r in spark.sql(sql).collect()]
    assert planned == vanilla and len(vanilla) > 0


# --- the reference App's comma-join spelling (App.scala:62-64,72-73,77) ----

APP_COMMA_SQL = ("SELECT l.id AS id_l, r.id AS id_r "
                 "FROM test_left l, test_right r "
                 "WHERE ST_Contains(r.geo, l.geo) ORDER BY id_l")


def test_app_comma_join_rows_and_plan(spark, ref_tables):
    df = spatial_sql(spark, APP_COMMA_SQL)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert [(r.id_l, r.id_r) for r in df.collect()] == [(1, 10), (2, 20)]


def test_app_comma_join_with_residual_conjunct(spark, ref_tables):
    # App.scala:63-64 — the second statement adds a constant-envelope range
    # conjunct after the join predicate; it must filter, not break planning
    df = spatial_sql(spark, (
        "SELECT l.id AS id_l, r.id AS id_r FROM test_left l, test_right r "
        "WHERE ST_Contains(r.geo, l.geo) "
        "AND ST_Contains(ST_PolygonFromEnvelope(15.0, 15.0, 30.0, 30.0), l.geo) "
        "ORDER BY id_l"))
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert [(r.id_l, r.id_r) for r in df.collect()] == [(2, 20)]


def test_comma_join_top_level_or_falls_through(spark, ref_tables):
    """AND binds tighter than OR: 'ST AND x OR z' is not a conjunction, so
    the comma-join rewrite must skip and vanilla evaluation (which keeps
    cross-join rows satisfying only z) must win."""
    sql = ("SELECT l.id AS id_l, r.id AS id_r FROM test_left l, test_right r "
           "WHERE ST_Contains(r.geo, l.geo) AND l.id = 1 OR r.id = 20 "
           "ORDER BY id_l, id_r")
    planned = [(r.id_l, r.id_r) for r in spatial_sql(spark, sql).collect()]
    vanilla = [(r.id_l, r.id_r) for r in spark.sql(sql).collect()]
    assert planned == vanilla
    assert planned == [(1, 10), (1, 20), (2, 20)]  # (2,20) only via z


def test_comma_join_parenthesized_or_still_plans(spark, ref_tables):
    """OR inside parens IS a conjunct — the rewrite must still fire."""
    sql = ("SELECT l.id AS id_l, r.id AS id_r FROM test_left l, test_right r "
           "WHERE ST_Contains(r.geo, l.geo) AND (l.id = 1 OR r.id = 20) "
           "ORDER BY id_l, id_r")
    df = spatial_sql(spark, sql)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert [(r.id_l, r.id_r) for r in df.collect()] == [(1, 10), (2, 20)]


def test_comma_join_select_star_flattens(spark, ref_tables):
    """The App's verbatim statements are 'SELECT * FROM t0 l, t1 r WHERE
    ST_...' (App.scala:62-73): the rewrite must keep returning the flat
    column set, not the pair view's alias structs."""
    sql = ("SELECT * FROM test_left l, test_right r "
           "WHERE ST_Contains(r.geo, l.geo) ORDER BY l.id")
    planned = spatial_sql(spark, sql)
    vanilla = spark.sql(sql)
    assert planned.columns == vanilla.columns  # id, data, geo, id, geo
    assert not any("." in str(f.dataType) and f.dataType.typeName() == "struct"
                   for f in planned.schema)
    assert [tuple(r) for r in planned.collect()] \
        == [tuple(r) for r in vanilla.collect()]
    plan = _plan(planned)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_comma_join_alias_star_flattens(spark, ref_tables):
    sql = ("SELECT l.*, r.id AS id_r FROM test_left l, test_right r "
           "WHERE ST_Contains(r.geo, l.geo) ORDER BY l.id")
    planned = spatial_sql(spark, sql)
    vanilla = spark.sql(sql)
    assert planned.columns == vanilla.columns  # id, data, geo, id_r
    assert [tuple(r) for r in planned.collect()] \
        == [tuple(r) for r in vanilla.collect()]


def test_join_on_select_star_flattens(spark, ref_tables):
    """Same contract for the JOIN ... ON spelling."""
    sql = ("SELECT * FROM test_left l JOIN test_right r "
           "ON ST_Contains(r.geo, l.geo) ORDER BY l.id")
    planned = spatial_sql(spark, sql)
    vanilla = spark.sql(sql)
    assert planned.columns == vanilla.columns
    assert [tuple(r) for r in planned.collect()] \
        == [tuple(r) for r in vanilla.collect()]


def test_comma_join_matches_vanilla_random(spark):
    """Comma spelling over seeded random data: planned result == vanilla."""
    import numpy as np
    rng = np.random.default_rng(7)
    pts = [(int(i), float(x), float(y)) for i, (x, y) in
           enumerate(rng.uniform(-50, 50, size=(100, 2)))]
    spark.createDataFrame(pts, "id long, x double, y double") \
        .selectExpr("id", "ST_Point(x, y) AS geo") \
        .createOrReplaceTempView("cm_p")
    boxes = []
    for i, (x, y, w, h) in enumerate(np.c_[rng.uniform(-50, 40, (20, 2)),
                                           rng.uniform(1, 15, (20, 2))]):
        boxes.append((int(i), float(x), float(y), float(x + w), float(y + h)))
    spark.createDataFrame(
        boxes, "id long, x0 double, y0 double, x1 double, y1 double") \
        .selectExpr("id", "ST_PolygonFromEnvelope(x0, y0, x1, y1) AS geo") \
        .createOrReplaceTempView("cm_b")
    sql = ("SELECT p.id AS id_p, b.id AS id_b FROM cm_p p, cm_b b "
           "WHERE ST_Contains(b.geo, p.geo) AND p.id % 3 != 1 "
           "ORDER BY id_p, id_b")
    planned = [(r.id_p, r.id_b) for r in spatial_sql(spark, sql).collect()]
    vanilla = [(r.id_p, r.id_b) for r in spark.sql(sql).collect()]
    assert planned == vanilla and len(vanilla) > 0


# --- spelling corpus: the parse tree, not the text layout, decides --------

_SEL = "SELECT l.id AS id_l, r.id AS id_r"
_ON = "ON ST_Contains(r.geo, l.geo)"
_ORD = "ORDER BY id_l, id_r"
_BOTH = [(1, 10), (2, 20)]

# (name, statement, expected rows or None for "plain spark.sql's rows")
PLANNED_SPELLINGS = [
    ("comment", f"{_SEL} FROM test_left l /* boxes */ JOIN test_right r {_ON} {_ORD}", _BOTH),
    ("backticks", f"{_SEL} FROM `test_left` l JOIN `test_right` r {_ON} {_ORD}", _BOTH),
    ("paren_on", f"{_SEL} FROM test_left l JOIN test_right r ON (ST_Contains(r.geo, l.geo)) {_ORD}", _BOTH),
    ("cte", "WITH c AS (SELECT * FROM test_left WHERE id >= 1) "
            f"SELECT c.id AS id_l, r.id AS id_r FROM c JOIN test_right r "
            f"ON ST_Contains(r.geo, c.geo) {_ORD}", _BOTH),
    ("subquery", f"{_SEL} FROM (SELECT id, geo FROM test_left WHERE id < 100) l "
                 f"JOIN test_right r {_ON} {_ORD}", _BOTH),
    ("as_inner", f"{_SEL} FROM test_left AS l INNER JOIN test_right AS r {_ON} {_ORD}", _BOTH),
    ("lowercase", "select l.id as id_l, r.id as id_r from test_left l join test_right r "
                  "on st_contains(r.geo, l.geo) order by id_l, id_r", _BOTH),
    ("within_args_swapped", f"{_SEL} FROM test_left l JOIN test_right r "
                            f"ON ST_Within(l.geo, r.geo) {_ORD}", _BOTH),
    ("dwithin", f"{_SEL} FROM test_left l JOIN test_right r "
                f"ON ST_DWithin(l.geo, r.geo, 5.0) {_ORD}", _BOTH),
    ("comma", f"{_SEL} FROM test_left l, test_right r WHERE ST_Contains(r.geo, l.geo) {_ORD}", _BOTH),
    ("comma_lower_as", "select l.id as id_l, r.id as id_r from test_left as l, test_right as r "
                       "where l.id > 0 and st_contains(r.geo, l.geo) order by id_l, id_r", _BOTH),
    ("cross_join_where", f"{_SEL} FROM test_left l CROSS JOIN test_right r "
                         f"WHERE ST_Contains(r.geo, l.geo) {_ORD}", _BOTH),
    ("join_on_extra_where_st", f"{_SEL} FROM test_left l JOIN test_right r ON r.id > 0 "
                               f"WHERE ST_Contains(r.geo, l.geo) {_ORD}", _BOTH),
    ("join_chain", f"{_SEL} FROM test_left l JOIN test_right r {_ON} "
                   f"JOIN test_right r2 ON ST_Intersects(r2.geo, l.geo) {_ORD}", _BOTH),
    ("comma_chain", f"{_SEL} FROM test_left l, test_right r, test_right r2 "
                    "WHERE ST_Contains(r.geo, l.geo) AND ST_Intersects(r2.geo, l.geo) "
                    f"{_ORD}", _BOTH),
    ("star", f"SELECT * FROM test_left l JOIN test_right r {_ON} ORDER BY l.id", None),
    ("comma_star", "SELECT * FROM test_left l, test_right r "
                   "WHERE ST_Contains(r.geo, l.geo) ORDER BY l.id", None),
    ("alias_star", f"SELECT l.*, r.id AS id_r FROM test_left l JOIN test_right r {_ON} "
                   "ORDER BY l.id", None),
    ("left_join", f"{_SEL} FROM test_left l LEFT JOIN test_right r {_ON} {_ORD}", _BOTH),
    ("inner_extra_on", f"{_SEL} FROM test_left l JOIN test_right r {_ON} AND r.id > 15 {_ORD}",
     [(2, 20)]),
    # Spark rejects a Python UDF in a left join's ON clause, so the rows
    # are stated: the right-only conjunct filters the right input
    ("left_extra_right_only", f"{_SEL} FROM test_left l LEFT JOIN test_right r "
                              f"{_ON} AND r.id > 15 {_ORD}", [(1, None), (2, 20)]),
    ("join_in_subquery", "SELECT id_l, id_r FROM "
                         f"({_SEL} FROM test_left l JOIN test_right r {_ON}) t {_ORD}", _BOTH),
    ("join_in_cte", f"WITH j AS ({_SEL} FROM test_left l JOIN test_right r {_ON}) "
                    f"SELECT * FROM j {_ORD}", _BOTH),
]

# never planned: the rewrite would change the answer
UNPLANNED_SPELLINGS = [
    # AND binds tighter than OR: (ST AND r.id > 15) OR l.id = 1
    ("and_then_or", f"{_SEL} FROM test_left l JOIN test_right r "
                    f"{_ON} AND r.id > 15 OR l.id = 1 {_ORD}",
     [(1, 10), (1, 20), (2, 20)]),
    ("st_under_or", f"{_SEL} FROM test_left l JOIN test_right r "
                    f"{_ON} OR r.id = 10 {_ORD}", [(1, 10), (2, 10), (2, 20)]),
    ("comma_st_under_or", f"{_SEL} FROM test_left l, test_right r "
                          f"WHERE ST_Contains(r.geo, l.geo) OR r.id = 10 {_ORD}",
     [(1, 10), (2, 10), (2, 20)]),
]


@pytest.mark.parametrize(
    "name,sql,expected,planned",
    [(n, s, e, True) for n, s, e in PLANNED_SPELLINGS]
    + [(n, s, e, False) for n, s, e in UNPLANNED_SPELLINGS],
    ids=[n for n, _, _ in PLANNED_SPELLINGS + UNPLANNED_SPELLINGS])
def test_spelling_corpus(spark, ref_tables, name, sql, expected, planned):
    views = sorted(t.name for t in spark.catalog.listTables())
    df = spatial_sql(spark, sql)
    assert sorted(t.name for t in spark.catalog.listTables()) == views
    rows = [tuple(r) for r in df.collect()]
    if expected is None or not planned:
        vanilla = spark.sql(sql)
        assert df.columns == vanilla.columns
        vanilla_rows = [tuple(r) for r in vanilla.collect()]
        assert expected in (None, vanilla_rows)
        expected = vanilla_rows
    assert rows == expected
    plan = _plan(df)
    if planned:
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


def test_range_rewrite_keeps_boundary_rect_with_udf(spark):
    """A zero-width rect on the box's right edge is covered by the box but
    not contained in it: over a rects-hinted column, ``ST_Contains`` and
    ``ST_Within`` must keep the UDF, and only covers/coveredby/intersects
    become native bounds."""
    from sedona_iceberg_extension_spark.functions.api import with_box_geometry

    with_box_geometry(
        spark.createDataFrame([(1, 1.0, 0.2, 1.0, 0.8), (2, 0.2, 0.2, 0.8, 0.8)],
                              "id int, x0 double, y0 double, x1 double, y1 double"),
        F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1"),
    ).select("id", "geo", "geo_env").createOrReplaceTempView("test_edge_rects")
    box = "ST_PolygonFromEnvelope(0.0, 0.0, 1.0, 1.0)"
    cases = {f"ST_Contains({box}, geo)": [2], f"ST_Within(geo, {box})": [2],
             f"ST_Covers({box}, geo)": [1, 2], f"ST_CoveredBy(geo, {box})": [1, 2],
             f"ST_Intersects({box}, geo)": [1, 2]}
    for pred, want in cases.items():
        sql = f"SELECT id FROM test_edge_rects WHERE {pred} ORDER BY id"
        got = [r.id for r in spatial_sql(spark, sql).collect()]
        assert got == [r.id for r in spark.sql(sql).collect()] == want, pred
