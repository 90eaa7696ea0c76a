"""Row-level DML (UPDATE / DELETE / MERGE, file-granularity copy-on-write)
on a catalog table — the reference's Iceberg CoW surface (App.scala:66,
spatial UPDATE; TestSedonaIcebergExtension.scala:82-87).  Statements go
through the SQL front door (``session.sql``), API calls through
``SnapshotTable``; both run the snapshot table's copy-on-write."""

import uuid

import pytest
from pyspark.sql import functions as F

from sedona_iceberg_extension_spark.operators import ddl
from sedona_iceberg_extension_spark.session import sql

TBL = "demo.db.tbl"


def _create(spark, name, select, n_files):
    """Catalog table ``name`` holding ``select``'s rows in ``n_files`` data
    files (hash-partitioned by ``id``)."""
    sql(spark, f"CREATE TABLE {name} USING ICEBERG AS SELECT "
               f"/*+ REPARTITION({n_files}, id) */ * FROM ({select})")
    return ddl.table(name, spark)


@pytest.fixture()
def table(spark, tmp_path, monkeypatch):
    """A five-file catalog table of points: id, data, x, y, geo (WKB)."""
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "wh"))
    ddl.reset()
    yield _create(spark, TBL, """
        SELECT id, CONCAT('row-', id) AS data,
               CAST(id % 10 AS DOUBLE) AS x, CAST(id % 7 AS DOUBLE) AS y,
               ST_Point(CAST(id % 10 AS DOUBLE), CAST(id % 7 AS DOUBLE)) AS geo
        FROM RANGE(0, 100) t(id)""", 5)
    ddl.reset()


def _read(spark):
    return sql(spark, f"SELECT * FROM {TBL}")


def test_update_spatial_predicate(spark, table):
    """The reference's exact statement shape: UPDATE with an ST_ predicate."""
    before = _read(spark).count()
    res = sql(spark,
              f"UPDATE {TBL} SET data = 'hit' "
              "WHERE ST_Contains(ST_PolygonFromEnvelope(0.5D, 0.5D, 2.5D, 2.5D), geo)")
    after = _read(spark)
    assert after.count() == before  # UPDATE never changes cardinality
    hits = after.filter(F.col("data") == "hit")
    # points with x in {1,2} and y in {1,2}
    assert hits.count() == res["rows_updated"] > 0
    assert after.filter((F.col("x") == 1) & (F.col("y") == 1)
                        & (F.col("data") != "hit")).count() == 0


def test_update_rewrites_only_touched_files(spark, table):
    files_before = set(table.files())
    res = table.update_where(spark, {"data": "'touched'"}, "id = 3")
    files_after = set(table.files())
    # exactly the touched files were replaced; the rest are the same
    # immutable files, shared with the previous snapshot
    assert res["files_rewritten"] >= 1
    surviving = files_before & files_after
    assert len(files_before) - len(surviving) == res["files_rewritten"]


def test_update_no_match_is_noop(spark, table):
    files_before, versions = set(table.files()), table.versions()
    res = table.update_where(spark, {"data": "'x'"}, "id = -1")
    assert res == {"version": versions[-1], "files_rewritten": 0,
                   "rows_updated": 0}
    assert set(table.files()) == files_before
    assert table.versions() == versions


def test_delete_where(spark, table):
    res = sql(spark, f"DELETE FROM {TBL} WHERE x >= 5.0")
    after = _read(spark)
    assert res["rows_deleted"] == 50
    assert after.count() == 50
    assert after.filter(F.col("x") >= 5.0).count() == 0


def test_merge_into(spark, table):
    src = spark.sql("""
        SELECT id, CONCAT('merged-', id) AS data,
               CAST(-1.0 AS DOUBLE) AS x, CAST(-1.0 AS DOUBLE) AS y,
               ST_Point(-1.0D, -1.0D) AS geo
        FROM RANGE(95, 110) t(id)
    """)
    res = table.merge_into(spark, src, on="id")
    after = table.read(spark)
    assert res["rows_updated"] == 5      # ids 95..99 existed
    assert res["rows_inserted"] == 10    # ids 100..109 are new
    assert after.count() == 110
    assert after.filter(F.col("data") == "merged-97").count() == 1
    assert after.filter((F.col("id") == 50)
                        & (F.col("data") == "row-50")).count() == 1


def test_merge_duplicate_source_keys_raise(spark, table):
    src = spark.sql("""
        SELECT CAST(3 AS BIGINT) AS id, CONCAT('dup-', r) AS data,
               CAST(0.0 AS DOUBLE) AS x, CAST(0.0 AS DOUBLE) AS y,
               ST_Point(0.0D, 0.0D) AS geo
        FROM RANGE(0, 2) t(r)
    """)
    with pytest.raises(ValueError, match="multiple rows"):
        table.merge_into(spark, src, on="id")


def test_merge_large_key_set_rewrites_only_touched_files(spark, table):
    """>10k source keys: no driver-side key collect, no full-table fallback —
    only the files containing matched keys are rewritten."""
    big = _create(spark, "demo.db.big", "SELECT id, CONCAT('row-', id) AS data "
                  "FROM RANGE(0, 40000) t(id)", 8)
    files_before = set(big.files())
    # 12k keys far above the table's ids: nothing matches, all insert
    src = spark.sql(
        "SELECT id * 100000 + 999999999 AS id, 'new' AS data FROM RANGE(0, 12000) t(id)")
    res = big.merge_into(spark, src, on="id")
    assert res["rows_updated"] == 0
    assert res["rows_inserted"] == 12000
    assert res["files_rewritten"] == 0           # nothing matched → no rewrite
    assert files_before <= set(big.files())      # originals untouched
    assert big.read(spark).count() == 52000

    # now a >10k-key matched merge: keys hash-partitioned over 8 files all
    # match, so every file is legitimately touched — but through the semi-join
    # plan, not a full-table fallback; verify counts stay exact
    src2 = spark.sql("SELECT id * 2 AS id, 'upd' AS data FROM RANGE(0, 11000) t(id)")
    res2 = big.merge_into(spark, src2, on="id", insert_when_not_matched=False)
    assert res2["rows_updated"] == 11000
    after = big.read(spark)
    assert after.filter(F.col("data") == "upd").count() == 11000
    assert after.count() == 52000


def test_update_assignment_expression(spark, table):
    sql(spark, f"UPDATE {TBL} SET x = x + 100, data = CONCAT(data, '!') "
               "WHERE id < 10")
    after = _read(spark)
    assert after.filter(F.col("x") >= 100).count() == 10
    assert after.filter(F.col("data") == "row-3!").count() == 1


def test_merge_sql_statement(spark, table):
    """The Iceberg MERGE statement shape, as SQL text."""
    src = spark.createDataFrame(
        [(3, "merged", 0.0, 0.0), (777, "fresh", 1.0, 1.0)],
        "id long, data string, x double, y double")
    src = src.withColumn("geo", F.expr("ST_Point(x, y)"))
    src.createOrReplaceTempView("merge_src")
    res = sql(spark,
              f"MERGE INTO {TBL} USING merge_src ON tbl.id = merge_src.id "
              "WHEN MATCHED THEN UPDATE SET * "
              "WHEN NOT MATCHED THEN INSERT *")
    assert res["rows_updated"] == 1 and res["rows_inserted"] == 1
    after = _read(spark)
    assert after.count() == 101
    assert after.filter("id = 3 AND data = 'merged'").count() == 1
    assert after.filter("id = 777 AND data = 'fresh'").count() == 1


def test_merge_sql_column_list(spark, table):
    src = spark.createDataFrame([(4, "colmerge", -1.0, -1.0)],
                                "id long, data string, x double, y double")
    src.createOrReplaceTempView("merge_src2")
    res = sql(spark,
              f"MERGE INTO {TBL} AS t USING merge_src2 AS s ON t.id = s.id "
              "WHEN MATCHED THEN UPDATE SET data = s.data")
    assert res["rows_updated"] == 1 and res["rows_inserted"] == 0
    after = _read(spark)
    row = after.filter("id = 4").collect()[0]
    assert row["data"] == "colmerge"
    assert row["x"] == 4.0  # only the listed column was updated


def test_update_unknown_column_raises(spark, table):
    with pytest.raises(ValueError, match="unknown column"):
        table.update_where(spark, {"nope": "'x'"}, "id = 1")
    with pytest.raises(ValueError, match="unknown column"):
        sql(spark, f"UPDATE {TBL} SET nope = 'x' WHERE id = 1")


def test_merge_unknown_update_col_raises(spark, table):
    src = spark.createDataFrame([(1, "a", 0.0, 0.0)],
                                "id long, data string, x double, y double")
    with pytest.raises(ValueError, match="unknown column"):
        table.merge_into(spark, src, on="id", update_cols=["nope"])


def test_merge_sql_insert_only(spark, table):
    """Iceberg's insert-only MERGE (no WHEN MATCHED clause): existing rows
    are untouched — no file is rewritten at all — and only new keys land."""
    src = spark.createDataFrame(
        [(3, "dupe", 0.0, 0.0), (888, "fresh", 1.0, 1.0)],
        "id long, data string, x double, y double")
    src.createOrReplaceTempView("ins_src")
    files_before = set(table.files())
    res = sql(spark,
              f"MERGE INTO {TBL} USING ins_src ON tbl.id = ins_src.id "
              "WHEN NOT MATCHED THEN INSERT *")
    assert res["files_rewritten"] == 0
    assert res["rows_updated"] == 0 and res["rows_inserted"] == 1
    assert files_before <= set(table.files())
    after = _read(spark)
    assert after.count() == 101
    assert after.filter("id = 3 AND data = 'dupe'").count() == 0  # untouched
    assert after.filter("id = 888").count() == 1


def test_cow_file_list_cap(spark, table, monkeypatch):
    """The matched-file collect is bounded: with the cap below the touched
    file count the CoW raises a clear error instead of an unbounded
    driver-side collect (SPARK_GRAFT_MAX_COW_FILES, default 100k)."""
    versions = table.versions()
    monkeypatch.setenv("SPARK_GRAFT_MAX_COW_FILES", "1")
    with pytest.raises(RuntimeError, match="SPARK_GRAFT_MAX_COW_FILES"):
        sql(spark, f"UPDATE {TBL} SET data = 'x' WHERE id >= 0")
    # untouched on failure: the cap fires at plan time, before any rewrite
    assert table.versions() == versions
    assert _read(spark).filter(F.col("data") == "x").count() == 0
    monkeypatch.setenv("SPARK_GRAFT_MAX_COW_FILES", "100")
    res = sql(spark, f"UPDATE {TBL} SET data = 'x' WHERE id >= 0")
    assert res["rows_updated"] == 100


def _jobs(spark, statement) -> int:
    """Spark jobs one front-door statement runs (its view refresh
    included)."""
    sc = spark.sparkContext
    group = f"dml-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, statement)
    try:
        sql(spark, statement)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_dml_job_counts(spark, table):
    """Each statement's Spark job count, pinned: copy-on-write must not
    grow a job unnoticed (the touched-file list, the rewrite; MERGE adds
    its duplicate-key check; INSERT is its write).  Reads declare the
    manifest's schema, so planning one runs no footer job."""
    spark.sql("SELECT id, 'm' AS data, 0.0 AS x, 0.0 AS y, "
              "ST_Point(0.0D, 0.0D) AS geo FROM RANGE(95, 105) t(id)"
              ).createOrReplaceTempView("jobs_src")
    got = {
        "update": _jobs(spark, f"UPDATE {TBL} SET data = 'hit' WHERE "
                        "ST_Contains(ST_PolygonFromEnvelope(0.5D, 0.5D, "
                        "2.5D, 2.5D), geo)"),
        "delete": _jobs(spark, f"DELETE FROM {TBL} WHERE id % 10 = 3"),
        "merge": _jobs(spark, f"MERGE INTO {TBL} t USING jobs_src s "
                       "ON t.id = s.id WHEN MATCHED THEN UPDATE SET * "
                       "WHEN NOT MATCHED THEN INSERT *"),
        "insert": _jobs(spark, f"INSERT INTO {TBL} VALUES (200, 'i', 1.0, "
                        "1.0, ST_Point(1.0D, 1.0D))"),
        "rewrite": _jobs(spark, "CALL demo.system.rewrite_data_files("
                         f"'{TBL}')"),
    }
    assert got == {"update": 3, "delete": 3, "merge": 8, "insert": 1,
                   "rewrite": 2}
