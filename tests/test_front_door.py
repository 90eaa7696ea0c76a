"""The SQL front door reads statements from Spark's parse tree: equivalent
spellings of one statement give one result, a MERGE clause the engine does
not implement is refused by name, and ALTER TABLE keeps geometry columns
(declared by ADD COLUMN, followed by RENAME COLUMN) native."""

import pytest

from sedona_iceberg_extension_spark.operators import ddl
from sedona_iceberg_extension_spark.session import sql as engine_sql

T = "demo.db.t"
U = "demo.db.u"
BOX = "ST_PolygonFromEnvelope(2.0, 2.0, 6.0, 5.0)"


def _seed(spark, tmp_path, monkeypatch, tag):
    """``demo.db.t``: version 2 holds ids 1-3, version 3 adds id 4;
    ``demo.db.u``: ids 1 and 2."""
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / tag))
    ddl.reset()
    engine_sql(spark, f"CREATE TABLE {T} (id INT, note STRING, amt DOUBLE, "
                      "geo GEOMETRY) USING ICEBERG")
    engine_sql(spark, f"INSERT INTO {T} VALUES "
                      "(1, 'a', 10.0, ST_Point(1.0, 1.0)), "
                      "(2, 'b', 20.0, ST_Point(2.0, 2.0)), "
                      "(3, 'c', 30.0, ST_Point(3.0, 3.0))")
    engine_sql(spark, f"INSERT INTO {T} SELECT 4, 'd', 40.0, ST_Point(4.0, 4.0)")
    engine_sql(spark, f"CREATE TABLE {U} (id INT) USING ICEBERG")
    engine_sql(spark, f"INSERT INTO {U} SELECT 1 UNION ALL SELECT 2")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _observe(spark, what, out):
    if what == "result":
        return _rows(out)
    if what == "tables":
        return _rows(engine_sql(spark, "SHOW TABLES"))
    table = U if what == "u" else T
    return (_rows(engine_sql(spark, f"DESCRIBE {table}")),
            _rows(engine_sql(spark, f"SELECT * FROM {table}")))


def _add_price(spark):
    ddl.table(T, spark).add_column(spark, "price", "DECIMAL(10,2)")
    ddl._register(spark, T)


# (spelling, its canonical spelling — SQL or an API call — and what to
# compare: the statement's rows, a table, or the catalog)
CORPUS = [
    ("UPDATE demo.db.t SET note = 'x, y' WHERE id = 1",
     "UPDATE demo.db.t SET note = CONCAT('x', ', y') WHERE id = 1", "t"),
    ("UPDATE demo.db.t SET note = 'p WHERE q' WHERE id = 2",
     "UPDATE demo.db.t SET note = CONCAT('p ', 'WHERE q') WHERE id = 2", "t"),
    ("UPDATE demo.db.t SET amt = 0",
     "UPDATE demo.db.t SET amt = 0 WHERE TRUE", "t"),
    ("/* c */ DELETE FROM demo.db.t WHERE id = 3",
     "DELETE FROM demo.db.t WHERE id = 3", "t"),
    ("DELETE FROM `demo`.`db`.`t` WHERE id = 3",
     "DELETE FROM demo.db.t WHERE id = 3", "t"),
    ("ALTER TABLE demo.db.t ADD COLUMNS (price DECIMAL(10,2))",
     _add_price, "t"),
    ("INSERT INTO demo.db.t (amt, id, geo, note) "
     "VALUES (50.0, 5, ST_Point(5.0, 6.0), 'e')",
     "INSERT INTO demo.db.t SELECT 5, 'e', 50.0, ST_Point(5.0, 6.0)", "t"),
    ("INSERT INTO demo.db.t WITH s AS (SELECT 6 AS id, 'f' AS note, "
     "60.0 AS amt, ST_Point(6.0, 6.0) AS geo) SELECT * FROM s",
     "INSERT INTO demo.db.t SELECT 6, 'f', 60.0, ST_Point(6.0, 6.0)", "t"),
    ("MERGE INTO demo.db.u USING (SELECT 9 AS id) s ON u.id = s.id "
     "WHEN NOT MATCHED THEN INSERT *",
     "INSERT INTO demo.db.u SELECT 9", "u"),
    ("SELECT 'see demo.db.t.history' AS s FROM demo.db.t",
     "SELECT CONCAT('see demo.db.t', '.history') AS s FROM demo.db.t",
     "result"),
    ("SELECT a.id, b.note FROM demo.db.t a "
     "JOIN demo.db.t VERSION AS OF 2 b ON a.id = b.id",
     "SELECT a.id, b.note FROM demo.db.t a "
     "JOIN (SELECT * FROM demo.db.t VERSION AS OF 2) b ON a.id = b.id",
     "result"),
    ("DROP TABLE demo.db.t PURGE", "DROP TABLE demo.db.t", "tables"),
    # the target's alias, or its name, qualifying a column
    ("UPDATE demo.db.t AS u SET note = 'z' WHERE u.id = 1",
     "UPDATE demo.db.t SET note = 'z' WHERE id = 1", "t"),
    ("DELETE FROM demo.db.t AS u WHERE u.id = 2",
     "DELETE FROM demo.db.t WHERE id = 2", "t"),
    ("UPDATE demo.db.t SET note = CONCAT(t.note, db.t.note) WHERE t.id = 1",
     "UPDATE demo.db.t SET note = CONCAT(note, note) WHERE id = 1", "t"),
]


@pytest.mark.parametrize("spelling,canonical,what", CORPUS,
                         ids=[str(i + 1) for i in range(len(CORPUS))])
def test_equivalent_spellings(spark, tmp_path, monkeypatch, spelling,
                              canonical, what):
    try:
        got = []
        for tag, stmt in (("spelling", spelling), ("canonical", canonical)):
            _seed(spark, tmp_path, monkeypatch, tag)
            out = stmt(spark) if callable(stmt) else engine_sql(spark, stmt)
            got.append(_observe(spark, what, out))
        assert got[0] == got[1]
    finally:
        ddl.reset()


def test_drop_table_drops_its_views(spark, tmp_path, monkeypatch):
    """DROP TABLE also drops the views that time travel and metadata-table
    reads registered, and the snapshot frames the session kept for them."""
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "views"))
    ddl.reset()
    t = "demo.db.dropped"
    try:
        engine_sql(spark, f"CREATE TABLE {t} (id INT) USING ICEBERG")
        engine_sql(spark, f"INSERT INTO {t} SELECT 1")
        engine_sql(spark, f"SELECT * FROM {t} VERSION AS OF 1").collect()
        engine_sql(spark, f"SELECT * FROM {t}.history").collect()
        views = [v.name for v in spark.catalog.listTables()
                 if v.name.startswith("demo_db_dropped")]
        assert {"demo_db_dropped", "demo_db_dropped__v1",
                "demo_db_dropped__history"} <= set(views)
        engine_sql(spark, f"DROP TABLE {t}")
        assert [v.name for v in spark.catalog.listTables()
                if v.name.startswith("demo_db_dropped")] == []
        assert not [k for k in ddl._state(spark)["views"]
                    if k.startswith("demo_db_dropped")]
    finally:
        ddl.reset()


def test_drop_if_exists_of_an_unknown_name(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "drop"))
    ddl.reset()
    for name in ("demo.db.never_created", "never_created"):
        assert engine_sql(spark, f"DROP TABLE IF EXISTS {name}") \
            == {"ddl": "drop", "table": name, "existed": False}


@pytest.fixture()
def merge_tables(spark, tmp_path, monkeypatch):
    _seed(spark, tmp_path, monkeypatch, "merge")
    spark.sql("SELECT 2 AS id UNION ALL SELECT 7").createOrReplaceTempView(
        "merge_src")
    yield
    ddl.reset()


@pytest.mark.parametrize("clauses,named", [
    ("ON t.id = s.id WHEN MATCHED AND s.id > 1 THEN UPDATE SET *",
     "WHEN MATCHED AND s.id > 1"),
    ("ON t.id = s.id WHEN MATCHED THEN DELETE", "WHEN MATCHED THEN DELETE"),
    ("ON t.id = s.id WHEN NOT MATCHED THEN INSERT * "
     "WHEN NOT MATCHED BY SOURCE THEN DELETE",
     "WHEN NOT MATCHED BY SOURCE THEN DELETE"),
    ("ON t.id > s.id WHEN MATCHED THEN UPDATE SET *", "ON t.id > s.id"),
])
def test_unimplemented_merge_clause_is_refused(spark, merge_tables, clauses,
                                               named):
    before = ddl.table(U, spark).versions()
    stmt = f"MERGE INTO {U} t USING merge_src s {clauses}"
    with pytest.raises(ValueError, match=named.replace("*", r"\*")):
        engine_sql(spark, stmt)
    assert ddl.table(U, spark).versions() == before


def test_insert_only_merge_leaves_matched_rows(spark, merge_tables):
    # amt is DECIMAL in the source: the insert takes the table's DOUBLE
    spark.sql("SELECT 1 AS id, 'zz' AS note, 0.5 AS amt, "
              "ST_Point(0.0, 0.0) AS geo UNION ALL "
              "SELECT 8, 'h', 80.5, ST_Point(8.0, 8.0)"
              ).createOrReplaceTempView("ins_src")
    engine_sql(spark, f"MERGE INTO {T} t USING ins_src s ON t.id = s.id "
                      "WHEN NOT MATCHED THEN INSERT *")
    assert {r.id: (r.note, r.amt) for r in engine_sql(
        spark, f"SELECT id, note, amt FROM {T}").collect()} \
        == {1: ("a", 10.0), 2: ("b", 20.0), 3: ("c", 30.0), 4: ("d", 40.0),
            8: ("h", 80.5)}


def _plain(spark, stmt, table):
    """Rows of ``stmt`` with every ST_* call evaluated by its UDF."""
    return _rows(spark.sql(stmt.replace(table, ddl._view_name(table))))


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_alter_add_geometry_column(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "add"))
    ddl.reset()
    t = "demo.db.added"
    try:
        engine_sql(spark, f"CREATE TABLE {t} (id BIGINT) USING ICEBERG")
        engine_sql(spark, f"INSERT INTO {t} VALUES (100)")
        engine_sql(spark, f"ALTER TABLE {t} ADD COLUMN g GEOMETRY")
        assert ddl.table(t, spark)._manifest()["geometry_columns"] == ["g"]
        engine_sql(spark, f"INSERT INTO {t} SELECT id, ST_Point("
                          "CAST(id % 9 AS DOUBLE), CAST(id DIV 9 AS DOUBLE)) "
                          "FROM RANGE(0, 63)")
        assert ddl.table(t, spark).scan(spark)[1] == ["g_env"]
        stmt = f"SELECT id FROM {t} WHERE ST_Contains({BOX}, g)"
        got = _rows(engine_sql(spark, stmt))
        assert got and got == _plain(spark, stmt, t)
        assert [r.col_name for r in
                engine_sql(spark, f"DESCRIBE {t}").collect()] == ["id", "g"]
    finally:
        ddl.reset()


def test_rename_keeps_a_points_column_native(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "ren"))
    ddl.reset()
    t = "demo.db.renamed"
    try:
        engine_sql(spark, f"CREATE TABLE {t} (id BIGINT, geo GEOMETRY) "
                          "USING ICEBERG")
        engine_sql(spark, f"INSERT INTO {t} SELECT id, ST_Point("
                          "CAST(id % 9 AS DOUBLE), CAST(id DIV 9 AS DOUBLE)) "
                          "FROM RANGE(0, 63)")
        engine_sql(spark, f"ALTER TABLE {t} RENAME COLUMN geo TO g")
        stmt = f"SELECT id FROM {t} WHERE ST_Contains({BOX}, g)"
        df = engine_sql(spark, stmt)
        plan = _executed(df)
        assert "EvalPython" not in plan and "_env.xmin" in plan, plan
        got = _rows(df)
        assert got and got == _plain(spark, stmt, t)
    finally:
        ddl.reset()
