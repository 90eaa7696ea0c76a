"""The reference App's FULL statement sequence through the one SQL front
door (``session.sql``) — DDL + DML + spatial queries, verbatim modulo the
catalog prefix (example/src/main/scala/org/apache/iceberg/sedona/app/
App.scala:42-80): CREATE USING ICEBERG, INSERT VALUES with geometry UDFs,
INSERT SELECT, range query, ST_Union_Aggr, comma spatial joins, UPDATE with
a spatial predicate, CACHE TABLE, CTAS with a spatial join."""

import os

import pytest

from sedona_iceberg_extension_spark.operators import ddl
from sedona_iceberg_extension_spark.session import sql as engine_sql


T0 = "sedona_iceberg_extension_test_0"
T1 = "sedona_iceberg_extension_test_1"
T2 = "sedona_iceberg_extension_test_2"


@pytest.fixture()
def app_tables(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "wh"))
    ddl.reset()
    # App.scala:42-52 — table prep, verbatim statements
    engine_sql(spark, f"DROP TABLE IF EXISTS {T0}")
    engine_sql(spark, f"CREATE TABLE {T0} (id INT, data STRING, geo GEOMETRY) USING ICEBERG")
    engine_sql(spark, f"INSERT INTO {T0} VALUES (1, 'data_1', IcebergSTGeomFromText('POINT (10 10)'))")
    engine_sql(spark, f"INSERT INTO {T0} SELECT 2, 'data_2', ST_Point(20.0, 20.0)")
    engine_sql(spark, f"DROP TABLE IF EXISTS {T1}")
    engine_sql(spark, f"CREATE TABLE {T1} (id INT, geo GEOMETRY) USING ICEBERG")
    engine_sql(spark, f"INSERT INTO {T1} VALUES "
               "(10, IcebergSTGeomFromText('POLYGON ((0 0, 15 0, 15 15, 0 15, 0 0))')),"
               "(20, IcebergSTGeomFromText('POLYGON ((15 15, 25 15, 25 25, 15 25, 15 15))'))")
    yield
    ddl.reset()


def test_app_range_query_and_aggregation(spark, app_tables):
    # App.scala:55-56 — range query
    rows = engine_sql(spark, (
        f"SELECT id, ST_AsText(geo) AS wkt FROM {T0} WHERE "
        "ST_Contains(ST_PolygonFromEnvelope(15.0, 15.0, 30.0, 30.0), geo)")).collect()
    assert [(r.id, r.wkt) for r in rows] == [(2, "POINT (20 20)")]
    # App.scala:59 — aggregation over the whole table
    agg = engine_sql(
        spark, f"SELECT ST_AsText(ST_Union_Aggr(geo)) AS u FROM {T0}").collect()
    assert len(agg) == 1 and agg[0].u.startswith("MULTIPOINT")


def test_app_comma_spatial_joins(spark, app_tables):
    # App.scala:62 — plain comma join
    rows = engine_sql(spark, (
        f"SELECT l.id AS id_l, r.id AS id_r FROM {T0} l, {T1} r "
        "WHERE ST_Contains(r.geo, l.geo) ORDER BY id_l")).collect()
    assert [(r.id_l, r.id_r) for r in rows] == [(1, 10), (2, 20)]
    # App.scala:63-64 — with the residual range conjunct
    rows = engine_sql(spark, (
        f"SELECT l.id AS id_l, r.id AS id_r FROM {T0} l, {T1} r "
        "WHERE ST_Contains(r.geo, l.geo) AND "
        "ST_Contains(ST_PolygonFromEnvelope(15.0, 15.0, 30.0, 30.0), l.geo) "
        "ORDER BY id_l")).collect()
    assert [(r.id_l, r.id_r) for r in rows] == [(2, 20)]


def test_app_update_cache_and_ctas(spark, app_tables):
    # App.scala:66 — UPDATE with a spatial predicate (snapshot CoW commit)
    res = engine_sql(spark, (
        f"UPDATE {T0} SET data = 'updated' WHERE "
        "ST_Contains(ST_PolygonFromEnvelope(15.0, 15.0, 30.0, 30.0), geo)"))
    assert res["files_rewritten"] >= 1
    rows = {(r.id, r.data) for r in
            engine_sql(spark, f"SELECT id, data FROM {T0}").collect()}
    assert rows == {(1, "data_1"), (2, "updated")}
    # the DML went through the snapshot layer: pre-update version readable
    tbl = ddl.table(T0)
    versions = tbl.versions()
    assert len(versions) >= 3          # create + 2 inserts + update
    prev = {(r.id, r.data) for r in
            tbl.read(spark, version=versions[-2]).select("id", "data").collect()}
    assert prev == {(1, "data_1"), (2, "data_2")}

    # App.scala:69-73 — cache, then re-run the joins
    engine_sql(spark, f"CACHE TABLE {T0}")
    engine_sql(spark, f"CACHE TABLE {T1}")
    try:
        rows = engine_sql(spark, (
            f"SELECT l.id AS id_l, r.id AS id_r FROM {T0} l, {T1} r "
            "WHERE ST_Contains(r.geo, l.geo) ORDER BY id_l")).collect()
        assert [(r.id_l, r.id_r) for r in rows] == [(1, 10), (2, 20)]
    finally:
        engine_sql(spark, f"UNCACHE TABLE {T0}")
        engine_sql(spark, f"UNCACHE TABLE {T1}")

    # App.scala:76-79 — CTAS with a spatial join, then read it back
    engine_sql(spark, f"DROP TABLE IF EXISTS {T2}")
    engine_sql(spark, (
        f"CREATE TABLE {T2} USING ICEBERG AS "
        f"SELECT l.id id, r.geo geo FROM {T0} l, {T1} r "
        "WHERE ST_Contains(r.geo, l.geo)"))
    out = engine_sql(spark, f"SELECT id FROM {T2} ORDER BY id").collect()
    assert [r.id for r in out] == [1, 2]


def test_insert_select_arity_mismatch_rejected(spark, app_tables):
    with pytest.raises(ValueError, match="arity"):
        engine_sql(spark, f"INSERT INTO {T1} SELECT 1, 'x', ST_Point(0.0, 0.0)")


def test_ctas_if_not_exists_and_drop(spark, app_tables):
    engine_sql(spark, f"DROP TABLE IF EXISTS {T2}")
    r = engine_sql(spark, f"DROP TABLE IF EXISTS {T2}")
    assert r["existed"] is False


def test_time_travel_sql_spellings(spark, app_tables):
    # two inserts happened in the fixture: v2 has one row, v3 has two
    tbl = ddl.table(T0)
    versions = tbl.versions()
    v_one_row = versions[1]            # after the first INSERT
    rows = engine_sql(spark, (
        f"SELECT id FROM {T0} VERSION AS OF {v_one_row} ORDER BY id")).collect()
    assert [r.id for r in rows] == [1]
    rows = engine_sql(spark, (
        f"SELECT id FROM {T0} FOR SYSTEM_VERSION AS OF {versions[-1]} "
        "ORDER BY id")).collect()
    assert [r.id for r in rows] == [1, 2]
    # timestamp travel: the commit instant of the one-row snapshot
    import datetime
    ms = next(h["timestamp_ms"] for h in tbl.history()
              if h["version"] == v_one_row)
    ts = datetime.datetime.fromtimestamp(ms / 1000.0,
                                         datetime.timezone.utc)
    rows = engine_sql(spark, (
        f"SELECT id FROM {T0} TIMESTAMP AS OF '{ts.isoformat()}' "
        "ORDER BY id")).collect()
    assert [r.id for r in rows] == [1]


def test_reference_testbasic_dotted_names(spark, tmp_path, monkeypatch):
    """The reference TEST SUITE's spelling — dotted catalog identifiers
    (``demo.db.test_geom``) driven through every statement shape of
    testBasic (TestSedonaIcebergExtension.scala:53-105): DDL, both UDF
    families, range filter, spatial UPDATE, union agg, insert-from-select
    with transformed columns."""
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "wh2"))
    ddl.reset()
    t = "demo.db.test_geom"
    try:
        engine_sql(spark, f"CREATE TABLE {t} (id INT, data STRING, geo GEOMETRY) USING ICEBERG")
        engine_sql(spark, f"INSERT INTO {t} VALUES (1, 'data_1', IcebergSTGeomFromText('POINT (10 20)'))")
        engine_sql(spark, f"INSERT INTO {t} SELECT 2, 'data_2', ST_Point(20.0, 30.0)")
        wkts = [r.wkt for r in engine_sql(
            spark, f"SELECT ST_AsText(geo) AS wkt FROM {t} ORDER BY id").collect()]
        assert wkts == ["POINT (10 20)", "POINT (20 30)"]     # scala:56-59
        rows = engine_sql(spark, (
            f"SELECT id FROM {t} WHERE "
            "ST_Contains(ST_PolygonFromEnvelope(15.0, 20.0, 30.0, 40.0), geo)")).collect()
        assert [r.id for r in rows] == [2]                    # scala:62-71
        engine_sql(spark, (
            f"UPDATE {t} SET data = 'updated' WHERE "
            "ST_Intersects(geo, ST_PolygonFromEnvelope(15.0, 20.0, 30.0, 40.0))"))
        rows = engine_sql(spark,
                          f"SELECT id FROM {t} WHERE data = 'updated'").collect()
        assert [r.id for r in rows] == [2]                    # scala:82-88
        agg = engine_sql(spark, (
            f"SELECT ST_AsText(ST_Union_Aggr(geo)) AS u FROM {t}")).collect()
        assert agg[0].u == "MULTIPOINT ((10 20), (20 30))"    # scala:90-92
        # insert-from-select with transformed columns (scala:99-105)
        engine_sql(spark, (
            f"INSERT INTO {t} SELECT id + 100, CONCAT('new_', data), "
            f"ST_Point(ST_Y(geo), ST_X(geo)) FROM {t}"))
        n = engine_sql(spark, f"SELECT COUNT(*) AS n FROM {t}").first().n
        assert n == 4
    finally:
        ddl.reset()


def test_iceberg_runtime_detection_pure():
    # the reference's launch conf (example/launch.sh:16-20) → delegate
    assert ddl.iceberg_runtime_configured(
        "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions", {})
    assert ddl.iceberg_runtime_configured(
        "", {"spark.sql.catalog.demo": "org.apache.iceberg.spark.SparkCatalog"})
    assert ddl.iceberg_runtime_configured(
        "", {"spark.sql.catalog.spark_catalog":
             "org.apache.iceberg.spark.SparkSessionCatalog"})
    # catalog SUB-keys alone (type/warehouse) are not the binding; neither
    # is an unrelated extension or catalog impl
    assert not ddl.iceberg_runtime_configured(
        "", {"spark.sql.catalog.demo.warehouse": "/tmp/iceberg-wh"})
    assert not ddl.iceberg_runtime_configured(
        "com.example.OtherExtensions",
        {"spark.sql.catalog.demo": "com.example.DeltaCatalog"})


class _SqlSpy:
    """Records every statement handed to ``spark.sql`` and returns a
    sentinel DataFrame, so pass-through can be asserted verbatim without
    Iceberg jars."""

    def __init__(self, spark):
        self.calls = []
        self.sentinel = spark.range(1)

    def __call__(self, statement, *args, **kwargs):
        self.calls.append(statement)
        return self.sentinel


@pytest.fixture()
def delegated_spy(spark, monkeypatch):
    """Force the delegation decision on (as if jars + catalog were
    configured) and spy on ``spark.sql``."""
    monkeypatch.delenv("SPARK_GRAFT_FORCE_EMULATION", raising=False)
    monkeypatch.setattr(spark, "_graft_iceberg_delegate", True,
                        raising=False)
    spy = _SqlSpy(spark)
    monkeypatch.setattr(spark, "sql", spy)
    yield spy


# every DDL/DML shape the front door recognizes must reach the real
# Iceberg runtime VERBATIM when one is configured (the reference's launch
# shape, example/launch.sh:16-20 — its extension never rewrites SQL text)
_DELEGATED_STATEMENTS = [
    "CREATE TABLE demo.db.delegated (id INT, data STRING) USING ICEBERG",
    "CREATE TABLE IF NOT EXISTS demo.db.delegated (id INT) USING ICEBERG",
    "CREATE TABLE demo.db.ctas USING ICEBERG AS SELECT 1 AS id",
    "DROP TABLE demo.db.delegated",
    "DROP TABLE IF EXISTS demo.db.delegated",
    "INSERT INTO demo.db.delegated VALUES (1, 'a')",
    "INSERT INTO demo.db.delegated SELECT id + 1, data FROM demo.db.other",
    "CACHE TABLE delegated_cache",
    "ALTER TABLE demo.db.delegated ADD COLUMNS (score DOUBLE)",
    "ALTER TABLE demo.db.delegated RENAME COLUMN data TO payload",
    "ALTER TABLE demo.db.delegated DROP COLUMN score",
    "ALTER TABLE demo.db.delegated ADD PARTITION FIELD bucket(16, id)",
    "CALL demo.system.rollback_to_snapshot('demo.db.delegated', 42)",
    "UPDATE demo.db.delegated SET data = 'x' WHERE id = 1",
    "DELETE FROM demo.db.delegated WHERE id = 2",
    ("MERGE INTO demo.db.delegated t USING demo.db.other s ON t.id = s.id "
     "WHEN MATCHED THEN UPDATE SET *"),
]


@pytest.mark.parametrize("statement", _DELEGATED_STATEMENTS)
def test_iceberg_delegation_passes_statements_verbatim(
        spark, delegated_spy, statement):
    out = engine_sql(spark, statement)
    assert delegated_spy.calls == [statement]
    assert out is delegated_spy.sentinel


def test_iceberg_delegation_selects_still_use_spatial_planner(
        spark, delegated_spy):
    # non-DDL flows through spatial_sql; a statement with no spatial join
    # falls through to vanilla spark.sql unchanged
    out = engine_sql(spark, "SELECT 1 AS x")
    assert delegated_spy.calls == ["SELECT 1 AS x"]
    assert out is delegated_spy.sentinel


def test_force_emulation_overrides_configured_runtime(spark, monkeypatch):
    # the env knob pins the emulation even when the session looks
    # Iceberg-configured (cache says delegate)
    monkeypatch.setattr(spark, "_graft_iceberg_delegate", True,
                        raising=False)
    monkeypatch.setenv("SPARK_GRAFT_FORCE_EMULATION", "1")
    assert ddl.delegate_to_iceberg(spark) is False


def test_delegation_decision_cached_per_session(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_FORCE_EMULATION", raising=False)
    monkeypatch.setattr(spark, "_graft_iceberg_delegate", None,
                        raising=False)
    # this env has no Iceberg conf → computed False, then cached
    assert ddl.delegate_to_iceberg(spark) is False
    assert spark._graft_iceberg_delegate is False
    # a cached True short-circuits conf inspection entirely
    monkeypatch.setattr(spark, "_graft_iceberg_delegate", True)
    assert ddl.delegate_to_iceberg(spark) is True


def test_emulation_unaffected_without_iceberg_conf(spark, app_tables):
    # this env has no Iceberg conf: the emulation path must stay active
    assert ddl.delegate_to_iceberg(spark) is False
    assert engine_sql(spark, f"SELECT COUNT(*) AS n FROM {T0}").first().n == 2


def test_create_existing_table_raises(spark, app_tables):
    # Spark/Iceberg raise TABLE_ALREADY_EXISTS on plain CREATE TABLE; the
    # IF NOT EXISTS spelling tolerates the pre-existing table
    with pytest.raises(Exception, match="ALREADY_EXISTS"):
        engine_sql(spark, f"CREATE TABLE {T0} (id INT) USING ICEBERG")
    r = engine_sql(spark,
                   f"CREATE TABLE IF NOT EXISTS {T0} (id INT) USING ICEBERG")
    assert r["existed"] is True
    # data untouched
    n = engine_sql(spark, f"SELECT COUNT(*) AS n FROM {T0}").first().n
    assert n == 2


def test_insert_values_with_quoted_paren_and_name(spark, tmp_path, monkeypatch):
    # string literals containing unbalanced parens / a table name must not
    # confuse the VALUES scanner or the dotted-name resolver
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "whq"))
    ddl.reset()
    t = "demo.db.quoted"
    try:
        engine_sql(spark, f"CREATE TABLE {t} (id INT, data STRING) USING ICEBERG")
        engine_sql(spark, f"INSERT INTO {t} VALUES (1, ':-)'), (2, 'demo.db.quoted')")
        rows = engine_sql(spark,
                          f"SELECT id, data FROM {t} ORDER BY id").collect()
        assert [(r.id, r.data) for r in rows] == [(1, ":-)"), (2, "demo.db.quoted")]
    finally:
        ddl.reset()


def test_metadata_table_sql_spellings(spark, app_tables):
    hist = engine_sql(spark, (
        f"SELECT version, operation FROM {T0}.history ORDER BY version")).collect()
    assert [r.operation for r in hist][:3] == ["create", "append", "append"]
    files = engine_sql(spark, (
        f"SELECT COUNT(*) AS n FROM {T0}.files")).first().n
    assert files >= 1


def test_insert_overwrite(spark, app_tables):
    before = ddl.table(T1).versions()[-1]
    r = engine_sql(spark, (
        f"INSERT OVERWRITE {T1} SELECT 99, ST_Point(1.0, 1.0)"))
    assert r["ddl"] == "insert_overwrite" and r["version"] == before + 1
    rows = engine_sql(spark, f"SELECT id FROM {T1}").collect()
    assert [r.id for r in rows] == [99]
    # the pre-overwrite snapshot stays readable (time travel)
    prev = engine_sql(spark, (
        f"SELECT id FROM {T1} VERSION AS OF {before} ORDER BY id")).collect()
    assert [r.id for r in prev] == [10, 20]


def test_alter_table_schema_evolution(spark, tmp_path, monkeypatch):
    """Iceberg-style schema evolution through the SQL front door: ADD is
    additive (old rows read NULL), RENAME is metadata-only (old files'
    column surfaces under the new name), DROP hides — and time travel to a
    pre-ALTER version sees the old schema."""
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "whalter"))
    ddl.reset()
    t = "demo.db.evolving"
    try:
        engine_sql(spark, f"CREATE TABLE {t} (id INT, data STRING) USING ICEBERG")
        engine_sql(spark, f"INSERT INTO {t} VALUES (1, 'a'), (2, 'b')")
        v_before = ddl.table(t).versions()[-1]

        # ADD COLUMN: old rows NULL, new insert carries it
        engine_sql(spark, f"ALTER TABLE {t} ADD COLUMN score DOUBLE")
        engine_sql(spark, f"INSERT INTO {t} VALUES (3, 'c', 1.5)")
        rows = {r.id: (r.data, r.score) for r in
                engine_sql(spark, f"SELECT id, data, score FROM {t}").collect()}
        assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 1.5)}
        # time travel: pre-ALTER schema has no score column
        old = engine_sql(spark, f"SELECT * FROM {t} VERSION AS OF {v_before}")
        assert "score" not in old.columns and old.count() == 2

        # RENAME COLUMN: old files' values surface under the new name
        engine_sql(spark, f"ALTER TABLE {t} RENAME COLUMN data TO body")
        engine_sql(spark, f"INSERT INTO {t} VALUES (4, 'd', 2.5)")
        rows = {r.id: r.body for r in
                engine_sql(spark, f"SELECT id, body FROM {t}").collect()}
        assert rows == {1: "a", 2: "b", 3: "c", 4: "d"}
        cols = engine_sql(spark, f"SELECT * FROM {t}").columns
        assert "data" not in cols and "body" in cols

        # DROP COLUMN: hidden now, still visible via time travel
        v_predrop = ddl.table(t).versions()[-1]
        engine_sql(spark, f"ALTER TABLE {t} DROP COLUMN score")
        assert "score" not in engine_sql(spark, f"SELECT * FROM {t}").columns
        assert "score" in engine_sql(
            spark, f"SELECT * FROM {t} VERSION AS OF {v_predrop}").columns

        # history records the alters
        ops = [h["operation"] for h in ddl.table(t).history()]
        assert ops.count("alter") == 3
        # invalid alters raise
        with pytest.raises(Exception):
            engine_sql(spark, f"ALTER TABLE {t} ADD COLUMN body STRING")
        with pytest.raises(Exception):
            engine_sql(spark, f"ALTER TABLE {t} RENAME COLUMN nope TO x")
    finally:
        ddl.reset()


def test_call_maintenance_procedures(spark, tmp_path, monkeypatch):
    """Iceberg's CALL system.* procedure spellings over the snapshot layer:
    rollback_to_snapshot (restores data AND pre-ALTER schema),
    rewrite_data_files (binpack compaction), expire_snapshots."""
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "whproc"))
    ddl.reset()
    t = "demo.db.maint"
    try:
        engine_sql(spark, f"CREATE TABLE {t} (id INT, data STRING) USING ICEBERG")
        engine_sql(spark, f"INSERT INTO {t} VALUES (1, 'a')")
        engine_sql(spark, f"INSERT INTO {t} VALUES (2, 'b')")
        v_two = ddl.table(t).versions()[-1]
        engine_sql(spark, f"ALTER TABLE {t} ADD COLUMN score DOUBLE")
        engine_sql(spark, f"INSERT INTO {t} VALUES (3, 'c', 9.9)")

        # rollback to the pre-ALTER snapshot: rows AND schema restored
        r = engine_sql(spark, (
            f"CALL demo.system.rollback_to_snapshot(table => '{t}', "
            f"to_snapshot_id => {v_two})"))
        assert r["proc"] == "rollback_to_snapshot"
        df = engine_sql(spark, f"SELECT * FROM {t}")
        assert sorted(rr.id for rr in df.collect()) == [1, 2]
        assert "score" not in df.columns

        # compaction: the per-insert small files binpack into one
        r = engine_sql(spark, f"CALL demo.system.rewrite_data_files('{t}')")
        assert r["files_compacted"] >= 2 and r["files_written"] >= 1
        assert sorted(rr.id for rr in
                      engine_sql(spark, f"SELECT * FROM {t}").collect()) == [1, 2]

        # expire: only the last 2 manifests survive
        r = engine_sql(spark, (
            f"CALL demo.system.expire_snapshots(table => '{t}', "
            "retain_last => 2)"))
        assert len(ddl.table(t).versions()) == 2
        assert sorted(rr.id for rr in
                      engine_sql(spark, f"SELECT * FROM {t}").collect()) == [1, 2]
    finally:
        ddl.reset()


def test_call_snapshot_ref_procedures(spark, tmp_path, monkeypatch):
    """set_current_snapshot (re-point at ANY snapshot), cherrypick_snapshot
    (replay one snapshot's delta onto current), remove_orphan_files
    (unreferenced-file cleanup that preserves time travel)."""
    import os

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "whref"))
    ddl.reset()
    t = "demo.db.refs"
    try:
        engine_sql(spark, f"CREATE TABLE {t} (id INT) USING ICEBERG")
        engine_sql(spark, f"INSERT INTO {t} VALUES (1)")
        v1 = ddl.table(t).versions()[-1]
        engine_sql(spark, f"INSERT INTO {t} VALUES (2)")
        v2 = ddl.table(t).versions()[-1]
        engine_sql(spark, f"INSERT INTO {t} VALUES (3)")

        # set_current back to v1, then cherry-pick v2's delta (row 2) onto
        # it: 1 and 2 present, 3 absent
        r = engine_sql(spark, (
            f"CALL demo.system.set_current_snapshot(table => '{t}', "
            f"snapshot_id => {v1})"))
        assert r["proc"] == "set_current_snapshot"
        assert sorted(rr.id for rr in
                      engine_sql(spark, f"SELECT * FROM {t}").collect()) == [1]
        r = engine_sql(spark, (
            f"CALL demo.system.cherrypick_snapshot(table => '{t}', "
            f"snapshot_id => {v2})"))
        assert r["proc"] == "cherrypick_snapshot"
        assert sorted(rr.id for rr in
                      engine_sql(spark, f"SELECT * FROM {t}").collect()) == [1, 2]

        # remove_orphan_files: a crashed write's leftover is deleted —
        # but only past the in-flight-append grace window (Iceberg's
        # older_than default): a just-staged file survives an ungated CALL
        tbl = ddl.table(t)
        orphan = os.path.join(tbl.path, "part-orphan-crashed.parquet")
        with open(orphan, "wb") as fh:
            fh.write(b"junk")
        r = engine_sql(spark,
                       f"CALL demo.system.remove_orphan_files('{t}')")
        assert r["files_removed"] == 0 and r["files_kept_recent"] == 1
        assert os.path.exists(orphan)
        r = engine_sql(spark, (
            f"CALL demo.system.remove_orphan_files(table => '{t}', "
            "older_than_seconds => 0)"))
        assert r["files_removed"] == 1 and not os.path.exists(orphan)
        assert sorted(rr.id for rr in tbl.read(spark, v2).collect()) == [1, 2]
    finally:
        ddl.reset()


def test_branch_tag_refs_and_fast_forward(spark, tmp_path, monkeypatch):
    """Iceberg ref surface: CREATE/DROP BRANCH and TAG, reading
    ``VERSION AS OF '<ref>'`` by name, and the fast_forward procedure
    (publish half of write-audit-publish).  Branches are movable read
    pointers in this layer; tags are immutable."""
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "whbr"))
    ddl.reset()
    t = "demo.db.branchy"
    try:
        engine_sql(spark, f"CREATE TABLE {t} (id INT) USING ICEBERG")
        engine_sql(spark, f"INSERT INTO {t} VALUES (1)")
        v1 = ddl.table(t).versions()[-1]
        engine_sql(spark, f"ALTER TABLE {t} CREATE TAG release_v1")
        engine_sql(spark, f"INSERT INTO {t} VALUES (2)")
        engine_sql(spark,
                   f"ALTER TABLE {t} CREATE BRANCH audit AS OF VERSION {v1}")

        # named-ref reads resolve independently of the current head
        rows = engine_sql(
            spark, f"SELECT id FROM {t} VERSION AS OF 'release_v1' "
                   "ORDER BY id").collect()
        assert [r.id for r in rows] == [1]
        rows = engine_sql(
            spark, f"SELECT id FROM {t} VERSION AS OF 'audit' "
                   "ORDER BY id").collect()
        assert [r.id for r in rows] == [1]
        assert [r.id for r in engine_sql(
            spark, f"SELECT id FROM {t} ORDER BY id").collect()] == [1, 2]

        # fast-forward the branch to the current head ('latest')
        r = engine_sql(spark, (
            f"CALL demo.system.fast_forward(table => '{t}', "
            "branch => 'audit', to => 'latest')"))
        assert r["proc"] == "fast_forward"
        rows = engine_sql(
            spark, f"SELECT id FROM {t} VERSION AS OF 'audit' "
                   "ORDER BY id").collect()
        assert [r.id for r in rows] == [1, 2]

        # tags are immutable; duplicate refs refuse; drop works
        with pytest.raises(Exception, match="fast-forward tag"):
            engine_sql(spark, (
                f"CALL demo.system.fast_forward(table => '{t}', "
                "branch => 'release_v1', to => 'latest')"))
        with pytest.raises(Exception, match="already exists"):
            engine_sql(spark, f"ALTER TABLE {t} CREATE BRANCH release_v1")
        # kind-checked drops: DROP BRANCH must not delete a tag (and
        # vice versa) — real Iceberg raises on the mismatch
        with pytest.raises(Exception, match="is a tag, not a branch"):
            engine_sql(spark, f"ALTER TABLE {t} DROP BRANCH release_v1")
        with pytest.raises(Exception, match="is a branch, not a tag"):
            engine_sql(spark, f"ALTER TABLE {t} DROP TAG audit")
        engine_sql(spark, f"ALTER TABLE {t} DROP TAG release_v1")
        with pytest.raises(Exception, match="unknown branch/tag"):
            engine_sql(spark,
                       f"SELECT id FROM {t} VERSION AS OF 'release_v1'")
        # numeric time travel is unaffected by the string-ref spelling
        rows = engine_sql(
            spark, f"SELECT id FROM {t} VERSION AS OF {v1}").collect()
        assert [r.id for r in rows] == [1]
    finally:
        ddl.reset()


def test_evolved_schema_cow_dml(spark, tmp_path, monkeypatch):
    """CoW DML addresses LOGICAL columns after evolution: update a
    re-added column (generation-mangled physical name), update/delete via
    a renamed column — no silent no-ops, no stale-value leaks."""
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "whevo"))
    ddl.reset()
    t = "demo.db.evodml"
    try:
        engine_sql(spark, f"CREATE TABLE {t} (id INT, tag STRING) USING ICEBERG")
        engine_sql(spark, f"INSERT INTO {t} VALUES (1, 'old1'), (2, 'old2')")
        engine_sql(spark, f"ALTER TABLE {t} DROP COLUMN tag")
        engine_sql(spark, f"ALTER TABLE {t} ADD COLUMN tag STRING")
        engine_sql(spark, f"INSERT INTO {t} VALUES (3, 'new3')")
        rows = {r.id: r.tag for r in
                engine_sql(spark, f"SELECT id, tag FROM {t}").collect()}
        assert rows == {1: None, 2: None, 3: "new3"}  # old values hidden
        engine_sql(spark, f"UPDATE {t} SET tag = 'x' WHERE id = 3")
        rows = {r.id: r.tag for r in
                engine_sql(spark, f"SELECT id, tag FROM {t}").collect()}
        assert rows == {1: None, 2: None, 3: "x"}
        engine_sql(spark, f"ALTER TABLE {t} RENAME COLUMN tag TO label")
        engine_sql(spark, f"UPDATE {t} SET label = 'y' WHERE id = 1")
        engine_sql(spark, f"DELETE FROM {t} WHERE label = 'x'")
        rows = {r.id: r.label for r in
                engine_sql(spark, f"SELECT id, label FROM {t}").collect()}
        assert rows == {1: "y", 2: None}
    finally:
        ddl.reset()


def test_show_tables_and_describe(spark, app_tables):
    rows = {(r.namespace, r.tableName) for r in
            engine_sql(spark, "SHOW TABLES").collect()}
    assert ("", T0) in rows and ("", T1) in rows
    # DESCRIBE resolves catalog names (dotted ones via resolve_names)
    desc = {r.col_name: r.data_type for r in
            engine_sql(spark, f"DESCRIBE {T0}").collect()}
    assert desc.get("id") == "int" and desc.get("geo") == "binary"


def test_describe_table_shows_schema_and_partition_spec(spark, tmp_path,
                                                        monkeypatch):
    from sedona_iceberg_extension_spark import session as S
    from sedona_iceberg_extension_spark.operators import ddl

    name = "desc_t_test"
    ddl._catalog(spark).pop(name, None)
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "wh"))
    try:
        S.sql(spark, f"CREATE TABLE {name} (id INT, g STRING) USING ICEBERG")
        S.sql(spark, f"INSERT INTO {name} VALUES (1, 'a')")
        S.sql(spark, f"ALTER TABLE {name} ADD PARTITION FIELD bucket(4, id)")
        rows = S.sql(spark, f"DESCRIBE TABLE {name}").collect()
        cols = [(r["col_name"], r["data_type"]) for r in rows]
        assert ("id", "int") in cols and ("g", "string") in cols
        assert ("id_bucket", "bucket[4]") in cols
        assert any(c == "# Partition Information" for c, _ in cols)
        # the short spelling works too
        assert len(S.sql(spark, f"DESC {name}").collect()) == len(rows)
    finally:
        ddl._catalog(spark).pop(name, None)


# --- geometry columns: stored envelopes and range pushdown -----------------

BOX = "ST_PolygonFromEnvelope(2.0, 2.0, 6.0, 5.0)"


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _pushes_env(plan: str) -> bool:
    import re
    return re.search(r"PushedFilters: \[[^\]]*geo_env\.", plan) is not None


def _plain(spark, stmt: str, table: str):
    """Rows of ``stmt`` run by plain Spark over the registered view: the
    unrewritten statement, every ST_* call evaluated by its UDF."""
    return sorted(map(tuple, spark.sql(
        stmt.replace(table, ddl._view_name(table))).collect()))


def _rows(spark, stmt: str):
    return sorted(map(tuple, engine_sql(spark, stmt).collect()))


@pytest.fixture()
def lake(spark, tmp_path, monkeypatch):
    """``lake.pts`` the way the lakehouse benchmark builds it: a BINARY
    column filled from a point source carrying ``geom_shape`` metadata.
    Points on the integer grid 0..8 x 0..6 (63 rows), so the test boxes
    have points on their edges."""
    from pyspark.sql import functions as F

    from sedona_iceberg_extension_spark.functions import api as ST

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "whg"))
    ddl.reset()
    grid = spark.range(0, 63).select(
        F.col("id").alias("k"), (F.col("id") % 9).cast("double").alias("x"),
        (F.col("id") / 9).cast("int").cast("double").alias("y"))
    ST.with_point_geometry(grid, "x", "y").createOrReplaceTempView("grid_src")
    engine_sql(spark, "CREATE TABLE lake.pts (k BIGINT, x DOUBLE, y DOUBLE, "
               "geo BINARY) USING ICEBERG")
    engine_sql(spark, "INSERT INTO lake.pts SELECT k, x, y, geo FROM grid_src")
    yield "lake.pts"
    ddl.reset()


def test_points_range_read_is_native_and_pushed(spark, lake):
    # the reference pins BatchScan.*st_coveredBy(geo
    # (TestSedonaIcebergExtension.scala:63-65); here the envelope bounds
    # reach the parquet scan and no Python runs
    tbl = ddl.table(lake)
    assert tbl._manifest()["geometry_columns"] == ["geo"]
    for pred in (f"ST_Contains({BOX}, geo)", f"ST_Within(geo, {BOX})",
                 f"ST_Intersects(geo, {BOX})", f"ST_Covers({BOX}, geo)"):
        stmt = f"SELECT k, x, y FROM {lake} WHERE {pred}"
        df = engine_sql(spark, stmt)
        plan = _executed(df)
        assert _pushes_env(plan), plan
        assert "EvalPython" not in plan, plan
        assert sorted(map(tuple, df.collect())) == _plain(spark, stmt, lake)


def test_points_lake_join_runs_without_python(spark, lake):
    from pyspark.sql import functions as F

    from sedona_iceberg_extension_spark.functions import api as ST

    ST.with_box_geometry(
        spark.range(0, 4).select(F.col("id").alias("n")),
        (F.col("n") * 2).cast("double"), F.lit(0.5),
        (F.col("n") * 2 + 3).cast("double"), F.lit(4.5),
    ).createOrReplaceTempView("lake_boxes")
    stmt = (f"SELECT p.k AS id_l, b.n AS id_r FROM {lake} p "
            "JOIN lake_boxes b ON ST_Contains(b.geo, p.geo)")
    df = engine_sql(spark, stmt)
    plan = _executed(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    got = sorted(map(tuple, df.collect()))
    assert got and got == _plain(spark, stmt, lake)
    # the hidden envelope stays out of the planned pair's columns
    cols = engine_sql(spark, f"SELECT p.* FROM {lake} p JOIN lake_boxes b "
                             "ON ST_Contains(b.geo, p.geo)").columns
    assert cols == ["k", "x", "y", "geo"]


def test_general_range_read_keeps_udf_over_pushed_prefilter(
        spark, tmp_path, monkeypatch):
    # SURVEY Tier B: the relaxed envelope prefilter reaches the scan, the
    # exact call stays above it
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "whp"))
    ddl.reset()
    t = "lake.polys"
    try:
        engine_sql(spark, f"CREATE TABLE {t} (id INT, geo GEOMETRY) USING ICEBERG")
        engine_sql(spark, f"INSERT INTO {t} VALUES "
                   "(1, ST_GeomFromText('POLYGON ((3 3, 4 3, 4 4, 3 3))')),"
                   "(2, ST_GeomFromText('POLYGON ((5 4, 8 4, 8 8, 5 4))')),"
                   "(3, ST_GeomFromText('POLYGON ((0 0, 9 0, 9 9, 0 9, 0 0))')),"
                   "(4, ST_GeomFromText('LINESTRING (2 2, 6 5)')),"
                   "(5, ST_GeomFromText('POLYGON ((7 0, 8 0, 8 1, 7 0))')),"
                   "(6, ST_GeomFromText('POINT (4 4)')), (7, NULL)")
        assert ddl.table(t)._manifest()["file_shapes"]
        for pred in (f"ST_Contains({BOX}, geo)", f"ST_Within(geo, {BOX})",
                     f"ST_Intersects({BOX}, geo)", f"ST_Contains(geo, {BOX})",
                     f"ST_CoveredBy({BOX}, geo)", f"ST_Covers({BOX}, geo)"):
            stmt = f"SELECT id FROM {t} WHERE {pred}"
            df = engine_sql(spark, stmt)
            plan = _executed(df)
            assert _pushes_env(plan), plan
            assert "EvalPython" in plan, plan
            assert sorted(map(tuple, df.collect())) == _plain(spark, stmt, t)
    finally:
        ddl.reset()


def test_hidden_envelope_leaves_the_table_surface_unchanged(spark, lake):
    assert engine_sql(spark, f"SELECT * FROM {lake}").columns == \
        ["k", "x", "y", "geo"]
    assert [r.col_name for r in engine_sql(spark, f"DESCRIBE {lake}")
            .collect()] == ["k", "x", "y", "geo"]
    assert engine_sql(spark, f"SELECT * FROM {lake}.files").columns == \
        ["file_name", "size_bytes", "partition"]
    engine_sql(spark, f"INSERT INTO {lake} SELECT 100, 1.0, 1.0, ST_Point(1.0, 1.0)")
    with pytest.raises(ValueError, match="arity"):
        engine_sql(spark, f"INSERT INTO {lake} SELECT k, x, y, geo, geo_env "
                          "FROM grid_src")
    tbl = ddl.table(lake)
    ch = tbl.changes(spark, tbl.versions()[-2])
    assert ch.columns == ["k", "x", "y", "geo", "_change_type"]
    assert [r.k for r in ch.collect()] == [100]


def test_geometry_writers_never_leave_a_stale_envelope(spark, lake):
    stmt = f"SELECT k FROM {lake} WHERE ST_Contains({BOX}, geo)"
    before = _rows(spark, stmt)
    # UPDATE moves point 0 (at 0,0) into the box, and one inside out
    engine_sql(spark, f"UPDATE {lake} SET geo = ST_Point(3.5, 3.5) WHERE k = 0")
    engine_sql(spark, f"UPDATE {lake} SET geo = ST_Point(8.0, 6.0) WHERE k = 30")
    # MERGE moves point 1 in and inserts one inside
    spark.sql("SELECT CAST(1 AS BIGINT) AS k, CAST(1 AS DOUBLE) AS x, "
              "CAST(0 AS DOUBLE) AS y, ST_Point(4.5, 2.5) AS geo UNION ALL "
              "SELECT 99, 5, 4, ST_Point(5.0, 4.0)"
              ).createOrReplaceTempView("moves")
    engine_sql(spark, f"MERGE INTO {lake} t USING moves s ON t.k = s.k "
               "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    after = _rows(spark, stmt)
    assert after == _plain(spark, stmt, lake)
    assert set(after) == (set(before) - {(30,)}) | {(0,), (1,), (99,)}
    assert "EvalPython" not in _executed(engine_sql(spark, stmt))
    # time travel to the pre-UPDATE snapshot reads its own rows
    v = ddl.table(lake).versions()[1]
    assert _rows(spark, stmt.replace(lake, f"{lake} VERSION AS OF {v}")) \
        == before


def test_null_and_empty_points_match_the_udf(spark, lake):
    tbl = ddl.table(lake)
    before = set(tbl.files())
    engine_sql(spark, f"INSERT INTO {lake} VALUES "
               "(200, 0.0, 0.0, NULL), "
               "(201, 0.0, 0.0, ST_GeomFromText('POINT EMPTY'))")
    shapes = tbl._manifest()["file_shapes"]
    assert [shapes[os.path.basename(f)] for f in set(tbl.files()) - before] \
        == [{"geo": "points"}] * len(set(tbl.files()) - before)
    for pred in (f"ST_Contains({BOX}, geo)", f"ST_Intersects(geo, {BOX})",
                 f"ST_CoveredBy(geo, {BOX})"):
        stmt = f"SELECT k FROM {lake} WHERE {pred}"
        assert "EvalPython" not in _executed(engine_sql(spark, stmt))
        assert _rows(spark, stmt) == _plain(spark, stmt, lake)
    rows = _rows(spark, f"SELECT k FROM {lake} WHERE k >= 200")
    assert rows == [(200,), (201,)]


def test_file_without_shape_class_is_refined_by_the_udf(spark, lake):
    # a data file an older writer committed: no envelope, no shape class
    import json

    from pyspark.sql import functions as F

    tbl = ddl.table(lake)
    old = spark.range(300, 310).select(
        F.col("id").alias("k"), (F.col("id") - 300).cast("double").alias("x"),
        F.lit(3.0).alias("y"))
    old = old.withColumn("geo", F.expr("ST_Point(x, y)"))
    names, _ = tbl._ingest_staged(tbl._stage(old))
    v = tbl._commit(tbl._manifest()["files"] + names, "append")
    path = os.path.join(tbl.snap_dir, f"v{v}.json")
    with open(path) as fh:
        m = json.load(fh)
    assert all(n not in m.get("file_shapes", {}) for n in names)
    ddl._register(spark, lake)
    stmt = f"SELECT k FROM {lake} WHERE ST_Contains({BOX}, geo)"
    df = engine_sql(spark, stmt)
    plan = _executed(df)
    assert _pushes_env(plan) and "EvalPython" in plan, plan
    got = sorted(map(tuple, df.collect()))
    assert got == _plain(spark, stmt, lake)
    assert {(303,), (304,), (305,)} <= set(got)
