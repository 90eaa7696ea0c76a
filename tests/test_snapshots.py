"""Snapshot-versioned parquet tables (operators/snapshots.py): the
Iceberg-semantics surface the reference runs on — immutable data files,
versioned manifests, time travel, rollback, snapshot expiry — reproduced
without an Iceberg runtime (App.scala:42-52 is the driven sequence)."""

import os

import pytest
from pyspark.sql import functions as F

from sedona_iceberg_extension_spark.operators.snapshots import SnapshotTable


@pytest.fixture()
def table(spark, tmp_path):
    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 10).alias("grp"),
        (F.col("id") * 1.5).alias("val"))
    # several files so CoW can be file-granular
    return SnapshotTable.create(spark, str(tmp_path / "t"),
                                df.repartition(4, "grp"))


def test_create_and_read(spark, table):
    assert table.versions() == [1]
    assert table.read(spark).count() == 100


def test_update_makes_new_version_and_time_travel(spark, table):
    r = table.update_where(spark, {"val": "val + 1000"}, "grp = 3")
    assert r["version"] == 2 and r["files_rewritten"] >= 1
    now = table.read(spark)
    assert now.filter("grp = 3 AND val < 1000").count() == 0
    # time travel: v1 is untouched
    v1 = table.read(spark, version=1)
    assert v1.filter("grp = 3 AND val < 1000").count() == 10
    assert v1.count() == now.count() == 100


def test_cow_shares_untouched_files(spark, table):
    table.update_where(spark, {"val": "0.0"}, "grp = 7")
    f1, f2 = set(table.files(1)), set(table.files(2))
    assert f1 != f2
    assert f1 & f2, "untouched files must be shared across snapshots"


def test_delete_and_history(spark, table):
    table.delete_where(spark, "id >= 90")
    assert table.read(spark).count() == 90
    hist = table.history()
    assert [h["operation"] for h in hist] == ["create", "delete"]
    assert [h["version"] for h in hist] == [1, 2]
    assert hist[1]["parent"] == 1


def test_append(spark, table):
    more = spark.range(100, 120).select(
        F.col("id"), (F.col("id") % 10).alias("grp"),
        (F.col("id") * 1.5).alias("val"))
    v = table.append(spark, more)
    assert v == 2
    assert table.read(spark).count() == 120
    assert table.read(spark, version=1).count() == 100


def test_rollback_is_append_only(spark, table):
    table.delete_where(spark, "id < 50")
    assert table.read(spark).count() == 50
    v = table.rollback(1)
    assert v == 3
    assert table.read(spark).count() == 100
    # the bad version is still retained for audit until expiry
    assert table.read(spark, version=2).count() == 50


def test_expire_removes_orphans(spark, table):
    table.update_where(spark, {"val": "val * 2"}, "grp < 5")
    table.delete_where(spark, "grp = 9")
    n_files_before = len([n for n in os.listdir(table.path)
                          if n != "_snapshots"])
    out = table.expire(keep_last=1)
    assert out["manifests_dropped"] == 2
    assert out["files_removed"] > 0
    assert table.versions() == [3]
    assert table.read(spark).count() == 90
    n_files_after = len([n for n in os.listdir(table.path)
                         if n != "_snapshots"])
    assert n_files_after < n_files_before
    with pytest.raises(ValueError):
        table.read(spark, version=1)


def test_spatial_predicate_update(spark, table):
    """The reference's UPDATE ... WHERE ST_Contains shape (App.scala:66)
    against a snapshot table — spatial predicate, file-granular CoW,
    time-travel audit of the previous state."""
    from sedona_iceberg_extension_spark.session import register_all

    register_all(spark)
    pred = ("ST_Contains(ST_PolygonFromEnvelope(0D, 0D, 5D, 5D), "
            "ST_Point(CAST(grp AS DOUBLE), CAST(grp AS DOUBLE)))")
    r = table.update_where(spark, {"val": "-1.0"}, pred)
    assert r["files_rewritten"] >= 1
    now = table.read(spark)
    # grp in 1..4 are strictly inside the box (grp 0/5 on boundary excluded
    # by interior-contains semantics)
    assert now.filter("val = -1.0").count() == \
        now.filter("grp IN (1,2,3,4)").count()
    assert table.read(spark, version=1).filter("val = -1.0").count() == 0


# ---------------------------------------------------------------------------
# MERGE + optimistic concurrency
# ---------------------------------------------------------------------------

def test_merge_update_and_insert(spark, table):
    src = spark.createDataFrame(
        [(5, 5 % 10, -1.0), (7, 7 % 10, -2.0), (200, 0, -3.0)],
        "id long, grp long, val double")
    r = table.merge_into(spark, src, on="id")
    assert r["rows_updated"] == 2
    assert r["rows_inserted"] == 1
    assert r["files_rewritten"] >= 1
    now = table.read(spark)
    assert now.count() == 101
    got = {row["id"]: row["val"]
           for row in now.filter(F.col("id").isin(5, 7, 200)).collect()}
    assert got == {5: -1.0, 7: -2.0, 200: -3.0}
    # untouched files shared with the parent snapshot; v1 time-travels clean
    assert set(table.files(1)) & set(table.files(2))
    assert table.read(spark, version=1).filter("val < 0").count() == 0


def test_merge_duplicate_source_keys_raise(spark, table):
    src = spark.createDataFrame(
        [(5, 0, 1.0), (5, 0, 2.0)], "id long, grp long, val double")
    with pytest.raises(ValueError, match="multiple rows"):
        table.merge_into(spark, src, on="id")


def test_merge_no_insert_clause(spark, table):
    src = spark.createDataFrame(
        [(5, 0, -1.0), (999, 0, -9.0)], "id long, grp long, val double")
    r = table.merge_into(spark, src, on="id", insert_when_not_matched=False)
    assert r["rows_updated"] == 1 and r["rows_inserted"] == 0
    assert table.read(spark).count() == 100


def test_stale_base_commit_conflicts(spark, table):
    from sedona_iceberg_extension_spark.operators.snapshots import (
        CommitConflictError)
    # writer A plans against v1; writer B commits v2 first
    base = table._manifest()["version"]
    table.update_where(spark, {"val": "0.0"}, "grp = 1")      # B wins: v2
    with pytest.raises(CommitConflictError, match="stale"):
        table._commit(table._manifest()["files"], "update", base_version=base)


def test_version_file_claim_race(spark, table):
    from sedona_iceberg_extension_spark.operators.snapshots import (
        CommitConflictError)
    # a racing writer claims v2.json between versions() and link()
    import json
    v2 = os.path.join(table.snap_dir, "v2.json")
    v1_files = table._manifest()["files"]
    with open(v2, "w") as fh:
        json.dump({"version": 2, "parent": 1, "operation": "append",
                   "timestamp_ms": 0, "files": v1_files}, fh)
    os.rename(v2, v2 + ".hold")  # keep versions() seeing only v1
    real_versions = table.versions

    def racing_versions():
        out = real_versions()
        if os.path.exists(v2 + ".hold"):
            os.rename(v2 + ".hold", v2)  # the rival lands *after* the read
        return out

    table.versions = racing_versions
    try:
        with pytest.raises(CommitConflictError, match="race"):
            table._commit(v1_files, "append")
    finally:
        table.versions = real_versions


def test_append_rebases_over_concurrent_commit(spark, table):
    # append recomputes the live file set when its base goes stale
    real_manifest = table._manifest
    state = {"fired": False}

    def manifest_with_rival(version=None):
        m = real_manifest(version)
        if not state["fired"] and version is None:
            state["fired"] = True
            table.update_where(spark, {"val": "1.0"}, "grp = 2")  # rival lands
        return m

    table._manifest = manifest_with_rival
    try:
        extra = spark.createDataFrame([(300, 0, 3.0)],
                                      "id long, grp long, val double")
        v = table.append(spark, extra)
    finally:
        table._manifest = real_manifest
    assert v == 3  # create=1, rival update=2, rebased append=3
    now = table.read(spark)
    assert now.count() == 101
    # both the rival update and the append survived
    assert now.filter("id = 300").count() == 1
    assert now.filter("grp = 2 AND val != 1.0").count() == 0


def test_compact_small_files(spark, table):
    # 4 small files -> compacted into fewer; data identical; old files shared
    before = table.read(spark)
    n_before = before.count()
    sum_before = before.agg(F.sum("val")).collect()[0][0]
    r = table.compact(spark, target_file_bytes=1 << 30)  # everything is small
    assert r["files_compacted"] >= 2
    assert r["files_written"] < r["files_compacted"] or r["files_written"] == 1
    after = table.read(spark)
    assert after.count() == n_before
    assert abs(after.agg(F.sum("val")).collect()[0][0] - sum_before) < 1e-6
    # time travel still sees the uncompacted layout
    assert len(table.files(1)) >= len(table.files(2)) == r["files_written"] + (
        len(table.files(1)) - r["files_compacted"])


def test_compact_noop_when_files_large_enough(spark, table):
    r = table.compact(spark, target_file_bytes=1)  # nothing is "small"
    assert r == {"version": 1, "files_compacted": 0, "files_written": 0}
    assert table.versions() == [1]


def test_metadata_tables(spark, table):
    table.update_where(spark, {"val": "0.0"}, "grp = 1")
    hist = table.history_df(spark)
    ops = [r["operation"] for r in hist.orderBy("version").collect()]
    assert ops == ["create", "update"]
    files = table.files_df(spark)
    assert files.count() == len(table.files())
    assert files.filter("size_bytes <= 0").count() == 0


def test_zorder_rewrite_tightens_file_stats(spark, tmp_path):
    """After a Z-order rewrite, each file's parquet min/max box over (x, y)
    covers a small region instead of the whole domain — the stats-based file
    skipping a spatial range scan needs (Iceberg rewrite_data_files with a
    zorder sort_order)."""
    import pyarrow.parquet as pq

    df = spark.range(0, 4096).select(
        F.col("id"),
        (F.col("id") % 64).cast("double").alias("x"),
        (F.floor(F.col("id") / 64) % 64).cast("double").alias("y"))
    t = SnapshotTable.create(spark, str(tmp_path / "zt"),
                             df.repartition(8))  # round-robin: files span all

    def bbox_area_sum(version):
        total = 0.0
        for f in t.files(version):
            md = pq.ParquetFile(f).metadata
            names = {md.schema.column(i).name: i
                     for i in range(md.num_columns)}
            lo_x = hi_x = lo_y = hi_y = None
            for rg in range(md.num_row_groups):
                sx = md.row_group(rg).column(names["x"]).statistics
                sy = md.row_group(rg).column(names["y"]).statistics
                lo_x = sx.min if lo_x is None else min(lo_x, sx.min)
                hi_x = sx.max if hi_x is None else max(hi_x, sx.max)
                lo_y = sy.min if lo_y is None else min(lo_y, sy.min)
                hi_y = sy.max if hi_y is None else max(hi_y, sy.max)
            total += (hi_x - lo_x) * (hi_y - lo_y)
        return total

    before = bbox_area_sum(1)
    r = t.rewrite_zorder(spark, ["x", "y"], bits=10, n_files=8)
    assert r["version"] == 2 and r["files_written"] >= 4
    after = bbox_area_sum(2)
    # round-robin files each cover ~the full 64x64 domain; z-ordered files
    # must cover far less in aggregate
    assert after < before * 0.35, (before, after)
    # content identical
    assert t.read(spark).count() == 4096
    assert t.read(spark).agg(F.sum("x"), F.sum("y")).collect() == \
        t.read(spark, version=1).agg(F.sum("x"), F.sum("y")).collect()


def test_snapshot_update_unknown_column_raises(spark, table):
    with pytest.raises(ValueError, match="unknown column"):
        table.update_where(spark, {"nope": "1"}, "grp = 1")
    assert table.versions() == [1]


def test_additive_schema_evolution(spark, table):
    """Iceberg add-column: an append may carry a new column; older files
    read it as NULL, and a pre-evolution version doesn't show it at all."""
    more = spark.range(100, 110).select(
        F.col("id"), (F.col("id") % 10).alias("grp"),
        (F.col("id") * 1.5).alias("val"), F.lit("new").alias("tag"))
    v = table.append(spark, more)
    now = table.read(spark)
    assert "tag" in now.columns
    assert now.count() == 110
    assert now.filter("tag IS NULL").count() == 100   # pre-evolution rows
    assert now.filter("tag = 'new'").count() == 10
    # time travel to v1: the column doesn't exist yet
    assert "tag" not in table.read(spark, version=1).columns
    assert v == 2


def test_partition_evolution_prunes_new_files(spark, tmp_path):
    """Iceberg partition evolution: ADD PARTITION FIELD is metadata-only;
    files written before the spec carry no tuple and are always scanned,
    files written after are pruned by manifest partition values — and the
    pruned read returns exactly the full-scan answer."""
    from pyspark.sql import functions as F

    from sedona_iceberg_extension_spark.operators.snapshots import SnapshotTable

    df0 = spark.range(10).select("id", (F.col("id") % 3).alias("k"))
    t = SnapshotTable.create(spark, str(tmp_path / "t"), df0)
    pre_files = set(t.files())
    t.add_partition_field("k")
    assert t.partition_spec() == [
        {"source": "k", "transform": "identity", "name": "k"}]
    t.append(spark, spark.range(100, 160)
             .select("id", (F.col("id") % 3).alias("k")))
    total = t.files()
    pruned = t.pruned_files({"k": 1})
    # old files all kept (no tuple), new files pruned to the k=1 subset
    assert pre_files <= set(pruned)
    assert len(pruned) < len(total)
    want = sorted(r["id"] for r in
                  t.read(spark).filter(F.col("k") == 1).collect())
    got = sorted(r["id"] for r in
                 t.read_partition(spark, {"k": 1})
                 .filter(F.col("k") == 1).collect())
    assert got == want and len(want) >= 20
    # partition column data survives in the files (no metadata re-attach)
    assert "k" in t.read(spark).columns
    # files metadata table exposes the tuples
    parts = {r["partition"] for r in t.files_df(spark).collect()}
    assert any('"k": "1"' in p for p in parts)


def test_partition_evolution_bucket_and_ddl_spelling(spark, tmp_path,
                                                     monkeypatch):
    from sedona_iceberg_extension_spark import session as S
    from sedona_iceberg_extension_spark.operators import ddl

    name = "part_evo_t"
    ddl._catalog(spark).pop(name, None)
    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path / "wh"))
    try:
        S.sql(spark, f"CREATE TABLE {name} (id INT, grp STRING) USING ICEBERG")
        S.sql(spark, f"INSERT INTO {name} VALUES (1, 'a'), (2, 'b')")
        res = S.sql(spark, f"ALTER TABLE {name} ADD PARTITION FIELD bucket(4, id)")
        assert res["ddl"] == "alter_partition"
        t = ddl.table(name, spark)
        assert t.partition_spec()[0]["transform"] == "bucket[4]"
        S.sql(spark, f"INSERT INTO {name} VALUES (3, 'c'), (4, 'd')")
        # bucketed pruning is conservative but effective on the new files
        n_all = len(t.files())
        from pyspark.sql import functions as F2
        got = {r["id"] for r in t.read(spark).collect()}
        assert got == {1, 2, 3, 4}
        bucket_of_3 = t.files_df(spark).filter(
            F2.col("partition").contains("id_bucket")).count()
        assert bucket_of_3 >= 1
    finally:
        ddl._catalog(spark).pop(name, None)


def test_changes_changelog_between_snapshots(spark, tmp_path):
    """CDC changelog: appends show as inserts; a CoW UPDATE shows as its
    delete + insert pair; shared files are never read (file-granular)."""
    from pyspark.sql import functions as F

    from sedona_iceberg_extension_spark.operators.snapshots import SnapshotTable

    df0 = spark.range(5).select("id", F.lit("a").alias("v"))
    t = SnapshotTable.create(spark, str(tmp_path / "t"), df0)
    v1 = t.versions()[-1]
    t.append(spark, spark.range(5, 8).select("id", F.lit("b").alias("v")))
    t.update_where(spark, {"v": F.lit("z")}, F.col("id") == 1)
    ch = t.changes(spark, v1).collect()
    ins = {(r["id"], r["v"]) for r in ch if r["_change_type"] == "insert"}
    dels = {(r["id"], r["v"]) for r in ch if r["_change_type"] == "delete"}
    assert {(5, "b"), (6, "b"), (7, "b"), (1, "z")} <= ins
    assert (1, "a") in dels
    # rows untouched by the update that lived in the rewritten file appear
    # on neither side (exceptAll cancels them); rows in untouched files
    # are never read at all
    assert (0, "a") not in ins and (0, "a") not in dels
    # self-diff is empty
    v_now = t.versions()[-1]
    assert t.changes(spark, v_now, v_now).count() == 0


def _points(spark, lo, hi):
    from sedona_iceberg_extension_spark.functions import api as ST
    df = spark.range(lo, hi).select(
        F.col("id"), (F.col("id") % 7).cast("double").alias("x"),
        (F.col("id") % 5).cast("double").alias("y"))
    return ST.with_point_geometry(df, "x", "y").drop("geo_env")


def test_geometry_column_envelope_and_shape_class(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "g"), _points(spark, 0, 40))
    m = t._manifest()
    assert m["geometry_columns"] == ["geo"]
    assert set(map(str, m["file_shapes"].values())) == {str({"geo": "points"})}
    full, hidden = t.scan(spark)
    assert hidden == ["geo_env"]
    assert full.schema["geo"].metadata.get("geom_shape") == "points"
    assert t.read(spark).columns == ["id", "x", "y", "geo"]
    env = full.filter("id = 12").select("geo_env.*").first()
    assert tuple(env) == (5.0, 2.0, 5.0, 2.0)
    # a polygon makes the appended file (and so the table) general
    poly = spark.createDataFrame([(99, 0.0, 0.0)], "id long, x double, y double") \
        .withColumn("geo", F.expr("ST_PolygonFromEnvelope(0.0, 0.0, 1.0, 1.0)"))
    t.append(spark, poly)
    full, _ = t.scan(spark)
    assert "geom_shape" not in full.schema["geo"].metadata
    assert full.filter("id = 99").select("geo_env.xmax").first()[0] == 1.0
    # time travel and rollback keep each version's own classes
    v1, _ = t.scan(spark, version=1)
    assert v1.schema["geo"].metadata.get("geom_shape") == "points"
    t.rollback(1)
    assert t.scan(spark)[0].schema["geo"].metadata.get("geom_shape") == "points"


def test_declared_geometry_and_schema_ops_move_the_envelope(spark, tmp_path):
    df = _points(spark, 0, 10)
    plain = df.select("id", "x", "y", F.col("geo").cast("binary").alias("geo"))
    t = SnapshotTable.create(spark, str(tmp_path / "d"), plain,
                             geometry=["geo"])
    assert t._manifest()["geometry_columns"] == ["geo"]
    with pytest.raises(ValueError, match="hidden envelope"):
        t.add_column(spark, "geo_env", "STRING")
    t.rename_column(spark, "geo", "shape")
    full, hidden = t.scan(spark)
    assert hidden == ["shape_env"] and "geo_env" not in full.columns
    assert t.read(spark).columns == ["id", "x", "y", "shape"]
    t.drop_column(spark, "shape")
    full, hidden = t.scan(spark)
    assert hidden == [] and full.columns == ["id", "x", "y"]


@pytest.mark.parametrize("alter", ["rename", "drop"])
def test_rollback_past_geometry_alter_restores_geometry_columns(
        spark, tmp_path, alter):
    t = SnapshotTable.create(spark, str(tmp_path / alter), _points(spark, 0, 10))
    t.append(spark, _points(spark, 10, 20))
    if alter == "rename":
        t.rename_column(spark, "geo", "shape")
    else:
        t.drop_column(spark, "geo")
    t.rollback(2)
    full, hidden = t.scan(spark)
    want, want_hidden = t.scan(spark, version=2)
    assert t._manifest()["geometry_columns"] == ["geo"]
    assert (full.columns, hidden) == (want.columns, want_hidden)
    assert t.read(spark).columns == t.read(spark, version=2).columns \
        == ["id", "x", "y", "geo"]
    assert full.schema["geo"].metadata.get("geom_shape") == "points"
    t.append(spark, _points(spark, 20, 30))
    assert t.read(spark).count() == 30
    assert t.scan(spark)[0].schema["geo"].metadata.get("geom_shape") == "points"


def test_compact_keys_shape_classes_by_renamed_column(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "c"), _points(spark, 0, 10))
    t.append(spark, _points(spark, 10, 20))
    t.rename_column(spark, "geo", "shape")
    # the rename re-keys the live files' classes: still points, no rewrite
    assert t.scan(spark)[0].schema["shape"].metadata.get("geom_shape") \
        == "points"
    assert t.compact(spark)["files_compacted"] > 1
    full, hidden = t.scan(spark)
    assert hidden == ["shape_env"]
    assert full.schema["shape"].metadata.get("geom_shape") == "points"
    assert t.read(spark).columns == ["id", "x", "y", "shape"]
    assert full.filter("id = 12").select("shape_env.*").first() \
        == (5.0, 2.0, 5.0, 2.0)


def test_compact_keeps_a_column_only_some_files_carry(spark, tmp_path):
    t = SnapshotTable.create(spark, str(tmp_path / "e"),
                             spark.range(0, 5).select("id"))
    t.append(spark, spark.range(5, 10).select(
        "id", (F.col("id") * 10).alias("extra")))
    assert t.compact(spark)["files_compacted"] > 1
    got = t.read(spark)
    assert sorted(got.columns) == ["extra", "id"]
    assert got.filter("extra IS NOT NULL").count() == 5


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` runs."""
    import uuid

    sc = spark.sparkContext
    group = f"snap-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "snapshot jobs")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_and_scan_run_no_job(spark, tmp_path):
    """The manifest records the schema, so planning a read opens no
    footer: building the frame runs no Spark job."""
    t = SnapshotTable.create(spark, str(tmp_path / "j"),
                             _points(spark, 0, 10).repartition(3))
    t.append(spark, _points(spark, 10, 20).withColumn("tag", F.lit("n")))
    assert _jobs(spark, lambda: (t.read(spark), t.scan(spark),
                                 t.read(spark, version=1))) == 0
    assert t.read(spark).columns == ["id", "x", "y", "geo", "tag"]
    assert t.read(spark, version=1).columns == ["id", "x", "y", "geo"]
    assert t.read(spark).filter("tag IS NULL").count() == 10


def test_type_conflicting_append_is_refused(spark, tmp_path):
    """A write holding a column in another type than the table's is
    refused at commit: committed, it would leave no readable version."""
    t = SnapshotTable.create(spark, str(tmp_path / "c"), spark.sql(
        "SELECT id, CAST(id AS DOUBLE) AS v FROM RANGE(5)"))
    bad = spark.sql("SELECT CAST(id AS STRING) AS id, CAST(id AS DOUBLE) "
                    "AS v FROM RANGE(5, 8)")
    with pytest.raises(ValueError, match=r"'id' is bigint .* as string"):
        t.append(spark, bad)
    assert t.versions() == [1]
    assert t.read(spark).count() == 5


def test_manifest_without_schema_reads_its_footers(spark, table):
    """A manifest written before the table recorded its schema is read
    with the footers' union; commits on it record none, so such a table
    keeps reading as it did."""
    import json

    path = os.path.join(table.snap_dir, "v1.json")
    with open(path) as fh:
        m = json.load(fh)
    del m["schema"]
    with open(path, "w") as fh:
        json.dump(m, fh)
    assert table.read(spark).count() == 100
    r = table.update_where(spark, {"val": "-val"}, "grp = 3")
    assert r["rows_updated"] == 10
    assert "schema" not in table._manifest()
    got = {(row["id"], row["val"]) for row in table.read(spark).collect()}
    assert got == {(i, -i * 1.5 if i % 10 == 3 else i * 1.5)
                   for i in range(100)}
