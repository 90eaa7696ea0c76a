"""Table-management parity surface (reference Tier D sinks,
App.scala:42-52,76-78): CREATE TABLE with a geometry (WKB binary) column,
INSERT INTO with ST_ constructors, CTAS, dynamic partition overwrite, DROP —
all through spark.sql over Spark's own managed parquet tables.  Row-level
DML (UPDATE/DELETE/MERGE) runs on the engine's catalog (snapshot) tables
through ``session.sql``, as the front-door test below does."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def clean_tables(spark):
    yield
    for t in ("geo_tbl", "geo_ctas", "part_tbl"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_create_insert_select_drop(spark, clean_tables):
    spark.sql("CREATE TABLE geo_tbl (id INT, data STRING, geo BINARY) USING PARQUET")
    # INSERT INTO ... VALUES with constructor (App.scala:46-47 shape)
    spark.sql("""
        INSERT INTO geo_tbl
        SELECT 1, 'data_1', ST_GeomFromText('POINT (10 20)')
        UNION ALL
        SELECT 2, 'data_2', ST_Point(20D, 30D)
    """)
    rows = spark.sql("""
        SELECT id, ST_AsText(geo) AS wkt FROM geo_tbl
        WHERE ST_Contains(ST_PolygonFromEnvelope(0D, 0D, 15D, 25D), geo)
        ORDER BY id
    """).collect()
    assert [(r["id"], r["wkt"]) for r in rows] == [(1, "POINT (10 20)")]

    # insert-from-select with computed geometry (test :99-104 shape)
    spark.sql("""
        INSERT INTO geo_tbl
        SELECT id + 100, CONCAT('data_', id + 100), ST_Point(CAST(id AS DOUBLE), 0D)
        FROM geo_tbl
    """)
    assert spark.sql("SELECT COUNT(*) c FROM geo_tbl").first()["c"] == 4


def test_ctas_with_spatial_projection(spark, clean_tables):
    spark.sql("CREATE TABLE geo_tbl (id INT, geo BINARY) USING PARQUET")
    spark.sql("INSERT INTO geo_tbl SELECT 1, ST_Point(1D, 2D)")
    spark.sql("""
        CREATE TABLE geo_ctas USING PARQUET AS
        SELECT id, ST_AsText(geo) AS wkt, ST_X(geo) AS x FROM geo_tbl
    """)
    r = spark.sql("SELECT * FROM geo_ctas").first()
    assert r["wkt"] == "POINT (1 2)" and r["x"] == 1.0


def test_dynamic_partition_overwrite(spark, clean_tables):
    spark.sql("SET spark.sql.sources.partitionOverwriteMode=dynamic")
    spark.sql("CREATE TABLE part_tbl (id INT, geo BINARY) USING PARQUET PARTITIONED BY (p INT)")
    spark.sql("INSERT INTO part_tbl SELECT 1, ST_Point(1D,1D), 10")
    spark.sql("INSERT INTO part_tbl SELECT 2, ST_Point(2D,2D), 20")
    # dynamic overwrite touches only partition p=10
    spark.sql("INSERT OVERWRITE TABLE part_tbl SELECT 3, ST_Point(3D,3D), 10")
    got = sorted((r["id"], r["p"]) for r in spark.sql("SELECT id, p FROM part_tbl").collect())
    assert got == [(2, 20), (3, 10)]


def test_envelope_struct_persists_for_skipping(spark, clean_tables, sf_dir):
    """add_geometry → managed table → filter on env fields shows
    PushedFilters at the scan (the engine's data-skipping contract)."""
    from sedona_iceberg_extension_spark.functions.api import with_point_geometry

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    pts = with_point_geometry(cust.select("c_custkey"),
                              (F.col("c_custkey") % 100).cast("double"),
                              (F.col("c_custkey") % 50).cast("double"))
    pts.write.mode("overwrite").saveAsTable("geo_tbl")
    q = spark.table("geo_tbl").filter(
        (F.col("geo_env.xmin") >= 10.0) & (F.col("geo_env.xmax") <= 20.0))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "xmin" in plan
    assert q.count() > 0


def test_csv_ingest_to_spatial_agg(spark, tmp_path):
    """The reference's CSV flow (TestSedonaIcebergExtension.scala:148-158):
    schema-on-read CSV with header → ST_GeomFromText → distributed union /
    centroid aggregation."""
    csv = tmp_path / "geoms.csv"
    csv.write_text(
        "id,geom\n"
        "1,POINT (10 20)\n"
        "2,POINT (20 30)\n"
        "3,\"LINESTRING (0 0, 10 0)\"\n"
        "4,\"POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))\"\n")
    df = spark.read.option("header", "true").csv(str(csv))
    df.createOrReplaceTempView("csv_geoms")
    out = spark.sql(
        "SELECT ST_AsText(ST_Union_Aggr(ST_GeomFromText(geom))) AS u, "
        "       ST_AsText(ST_CENTROID_AGGR(ST_GeomFromText(geom))) AS c "
        "FROM csv_geoms").first()
    assert out["u"].startswith("GEOMETRYCOLLECTION (")
    # centroid of mixed kinds: area wins (polygon centroid = (2,2))
    assert out["c"] == "POINT (2 2)"


def test_cache_table_then_spatial_join(spark, sf_dir):
    """CACHE TABLE then spatial join — the reference asserts spatial planning
    still works over columnar cached inputs (scala test :129-142)."""
    from sedona_iceberg_extension_spark.plans.queries import QUERIES
    from sedona_iceberg_extension_spark.sources import load_table

    from sedona_iceberg_extension_spark.functions import api as ST
    from sedona_iceberg_extension_spark.operators import spatial_join
    from pyspark.sql import functions as F

    def build(cust, nation):
        pts = ST.with_point_geometry(
            cust, (F.col("c_custkey") % 360 - 180).cast("double"),
            ((F.col("c_custkey") * 7) % 180 - 90).cast("double"))
        boxes = ST.with_box_geometry(
            nation.select("n_nationkey"),
            (F.col("n_nationkey") * 14 - 180).cast("double"), F.lit(-90.0),
            (F.col("n_nationkey") * 14 - 166).cast("double"), F.lit(90.0))
        j = spatial_join(boxes, pts, predicate="contains", on=("geo", "geo"),
                         strategy="grid", left_is_rects=True,
                         right_is_points=True)
        return j.groupBy("n_nationkey").agg(F.count(F.lit(1)).alias("n"))

    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    want = {tuple(r) for r in build(cust, nation).collect()}

    cc, nc = cust.cache(), nation.cache()
    cc.count(); nc.count()  # materialize the cache
    try:
        got_df = build(cc, nc)
        plan = got_df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan  # join really ran over the cache
        got = {tuple(r) for r in got_df.collect()}
        assert got == want and len(got) > 0
    finally:
        cc.unpersist(); nc.unpersist()


def test_unified_sql_front_door(spark, tmp_path, monkeypatch):
    """session.sql routes every statement family through one entry point —
    the reference's post-injection UX (App.scala:42-66: DDL, spatial-join
    SELECT, and UPDATE all through spark.sql)."""
    from sedona_iceberg_extension_spark.session import sql

    # DDL / vanilla passthrough
    sql(spark, "CREATE OR REPLACE TEMP VIEW fd_pts AS "
               "SELECT id, ST_Point(CAST(id * 10 AS DOUBLE), CAST(id * 10 AS DOUBLE)) AS geo "
               "FROM RANGE(1, 3) t(id)")
    sql(spark, "CREATE OR REPLACE TEMP VIEW fd_boxes AS "
               "SELECT 10 AS id, ST_PolygonFromEnvelope(0.0D, 0.0D, 15.0D, 15.0D) AS geo "
               "UNION ALL SELECT 20, ST_PolygonFromEnvelope(15.0D, 15.0D, 25.0D, 25.0D)")

    # spatial-join SELECT -> planned (no nested loop)
    df = sql(spark, "SELECT p.id AS id_p, b.id AS id_b FROM fd_pts p "
                    "JOIN fd_boxes b ON ST_Contains(b.geo, p.geo) ORDER BY id_p")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert [(r.id_p, r.id_b) for r in df.collect()] == [(1, 10), (2, 20)]

    # DML on a catalog table -> copy-on-write result dict
    from sedona_iceberg_extension_spark.operators import ddl
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "wh"))
    ddl.reset()
    try:
        sql(spark, "CREATE TABLE demo.db.fd_tbl USING ICEBERG AS SELECT "
                   "/*+ REPARTITION(4) */ id, CAST(id AS DOUBLE) AS v "
                   "FROM RANGE(0, 50) t(id)")
        res = sql(spark, "UPDATE demo.db.fd_tbl SET v = 0.0 WHERE id < 10")
        assert res["rows_updated"] == 10
        assert sql(spark, "SELECT * FROM demo.db.fd_tbl").filter(
            "v = 0.0").count() == 10
    finally:
        ddl.reset()
