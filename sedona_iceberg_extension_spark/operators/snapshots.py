"""Snapshot-versioned parquet tables: time travel, rollback, expiry.

The reference's storage substrate is Iceberg, whose core mechanism is
*snapshot isolation via immutable data files + versioned manifests*: a
commit never mutates data files, it writes a new manifest listing the files
that are live in that version (``App.scala:42-52`` drives CREATE/UPDATE
against such a table; no Iceberg jars exist in this environment).  This
module reproduces that mechanism over a plain parquet directory:

- data files are **immutable** — copy-on-write DML adds new files and
  drops old ones *from the manifest only*;
- ``_snapshots/v{N}.json`` manifests record the live file set, operation,
  parent version, and commit timestamp (the manifest is metadata-scale:
  one name per file, like an Iceberg manifest list);
- every manifest records under ``schema`` (Spark JSON, every field
  nullable) the union of what its table's files hold, hidden envelopes
  included: each commit carries the parent's forward and adds the written
  frame's new fields, and refuses a column written in another type;
- readers resolve a manifest (latest by default, any retained version for
  time travel) and scan exactly its files in its recorded schema, so
  planning a read opens no footer, as Iceberg plans from table metadata.
  A manifest written before tables recorded a schema is read with the
  footers' union, and commits on it record none;
- ``rollback`` is a *new* commit whose file set equals an old version's
  (history is append-only, as in Iceberg);
- ``expire`` removes old manifests and any data file no retained version
  references (Iceberg's ``expire_snapshots`` + orphan-file cleanup).

Concurrency: **optimistic, Iceberg-style.**  A writer captures the version
its change is based on; the commit claims ``v{N}.json`` with ``os.link``
(atomic create-if-absent — unlike ``rename``, it FAILS when another writer
already claimed N) and raises :class:`CommitConflictError` on any race or
stale base.  ``append`` retries automatically (appends commute: rebase =
recompute the live file list); UPDATE/DELETE/MERGE surface the conflict to
the caller, who re-runs against the new snapshot — exactly Iceberg's
validation-exception contract.

Geometry columns (the reference's Iceberg ``GEOMETRY`` type plus its
spatial file stats): a WKB ``BINARY`` column is a geometry column when it
was declared so (``create(..., geometry=[...])``, DDL ``GEOMETRY``) or when
a source written into it carries the engine's ``geom_shape`` metadata.  The
manifest lists them under ``geometry_columns`` (carried forward by every
commit, like ``partition_spec``), and every data file stores each one's
envelope as a hidden ``<geo>_env`` struct (derived at write time when the
written frame has none; a writer that changes the geometry drops it first).
Each commit also records, under ``file_shapes``, every new file's shape
class per ``BINARY`` column: ``points`` when every non-NULL value is a 2-D
WKB point with its envelope stored, else ``general`` — computed natively
from the WKB header by an ``Observation`` on the stage write.  ``scan``
stamps ``geom_shape = points`` on a geometry column only when every live
file is recorded as ``points``; a file without a recorded class (written
before the column was a geometry column, or by an older writer) makes the
column ``general``, so it is always scanned and refined exactly.  ``read``,
``changes`` and the CoW paths' user schema leave the hidden envelopes out.

Scale: commits touch O(files-changed) data + one manifest; reads plan from
one manifest. At 100 TB the manifest list is the only metadata hot spot and
would shard exactly the way Iceberg's manifest *list* does.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Dict, List, Optional, Tuple

from pyspark.sql import (Column, DataFrame, Observation, SparkSession,
                         functions as F)
from pyspark.sql.types import (ArrayType, BinaryType, DataType, MapType,
                               StructField, StructType)

from ..functions.api import add_geometry

_SNAP_DIR = "_snapshots"

# the 5-byte header of a 2-D WKB point, little- and big-endian
_POINT_HEADERS = (bytearray(b"\x01\x01\x00\x00\x00"),
                  bytearray(b"\x00\x00\x00\x00\x01"))
_POINT_WKB_BYTES = 21


class CommitConflictError(RuntimeError):
    """Another writer committed since this change's base snapshot — the
    caller must re-validate against the current version and retry."""


def _to_col(expr):
    return F.expr(expr) if isinstance(expr, str) else expr


def _known(what: str, names, cols: List[str]) -> None:
    unknown = set(names) - set(cols)
    if unknown:
        raise ValueError(f"{what} references unknown column(s) "
                         f"{sorted(unknown)} (table has {sorted(cols)})")


def bounded_file_list(live: DataFrame, changed,
                      what: str) -> Tuple[List[str], int]:
    """Names of the files of ``live`` holding a row ``changed(frame)``
    keeps, and the number of those rows, for a copy-on-write commit: a
    driver-side list, bounded.  The file name is materialized before
    ``changed`` runs (a pandas-UDF filter re-batches rows across files).

    The emulation layer keeps manifests driver-side, so the matched-file
    set must land on the driver — but collected unbounded, a wide predicate
    over a 100 TB table (millions of files) is a silent driver OOM that
    real Iceberg avoids with distributed manifest reads.  A hard cap (env
    ``SPARK_GRAFT_MAX_COW_FILES``, default 100k paths ≈ ~10 MB of strings)
    turns that into a clear, actionable error instead of an OOM."""
    cap = int(os.environ.get("SPARK_GRAFT_MAX_COW_FILES", "100000"))
    rows = (changed(live.withColumn("_f", F.input_file_name()))
            .groupBy("_f").count().limit(cap + 1).collect())
    if len(rows) > cap:
        raise RuntimeError(
            f"copy-on-write {what} matches more than {cap} data files; "
            "this snapshot emulation keeps the matched-file manifest on "
            "the driver — raise SPARK_GRAFT_MAX_COW_FILES if the driver "
            "has memory for it, or narrow the predicate")
    return ([os.path.basename(r["_f"]) for r in rows],
            sum(r["count"] for r in rows))


def _project_schema(df: DataFrame, ops: List[Dict]) -> DataFrame:
    """Apply manifest schema ops (ALTER TABLE history) to a raw file-union
    DataFrame, yielding the table's logical schema — shared by read() and
    every CoW path (predicates/assignments refer to logical columns)."""
    for op in ops:
        if op["op"] == "add":
            phys = op.get("physical", op["name"])
            if phys != op["name"]:
                # column re-added after a drop of the same name: new data
                # lives under a generation-mangled physical name (parquet
                # has no field IDs); stale pre-drop values stay hidden
                if op["name"] in df.columns:
                    df = df.drop(op["name"])
                if phys in df.columns:
                    df = df.withColumnRenamed(phys, op["name"])
                else:
                    df = df.withColumn(op["name"],
                                       F.lit(None).cast(op["type"]))
            elif op["name"] not in df.columns:
                df = df.withColumn(op["name"], F.lit(None).cast(op["type"]))
        elif op["op"] == "rename":
            old, new = op["from"], op["to"]
            if old in df.columns and new in df.columns:
                df = df.withColumn(
                    new, F.coalesce(F.col(new), F.col(old))).drop(old)
            elif old in df.columns:
                df = df.withColumnRenamed(old, new)
        elif op["op"] == "drop":
            if op["name"] in df.columns:
                df = df.drop(op["name"])
    return df


def _nullable(dt: DataType, metadata: bool = True) -> DataType:
    """``dt`` with every field, element and value nullable, nested ones
    included; without field metadata unless ``metadata``."""
    if isinstance(dt, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType, metadata),
                                       True, f.metadata if metadata else None)
                           for f in dt.fields])
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType, metadata), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType, metadata),
                       _nullable(dt.valueType, metadata), True)
    return dt


def _union(schema: Dict, written: Dict) -> Dict:
    """The recorded ``schema`` (Spark JSON) plus the fields of ``written``
    it lacks.  A written field whose type differs from the recorded one
    (nullability and metadata aside) raises: no file may hold a column in a
    type the table's reads cannot declare."""
    have = {f.name: f for f in StructType.fromJson(schema).fields}
    out = list(have.values())
    for f in StructType.fromJson(written).fields:
        old = have.get(f.name)
        if old is None:
            out.append(f)
        elif _nullable(old.dataType, False) != _nullable(f.dataType, False):
            raise ValueError(
                f"column {f.name!r} is {old.dataType.simpleString()} in the "
                f"table; cannot write it as {f.dataType.simpleString()}")
    return _nullable(StructType(out)).jsonValue()


def _env(col: str) -> str:
    """The hidden envelope struct column of a geometry column."""
    return f"{col}_env"


def _q(col: str) -> Column:
    return F.col("`" + col.replace("`", "``") + "`")


def _hidden(m: Dict, columns: List[str]) -> List[str]:
    """The envelope columns among ``columns`` that the table keeps hidden."""
    envs = {_env(g) for g in m.get("geometry_columns", [])}
    return [c for c in columns if c in envs]


def _user(df: DataFrame, m: Dict) -> DataFrame:
    """``df`` without the hidden envelope columns."""
    hidden = _hidden(m, df.columns)
    return df.drop(*hidden) if hidden else df


def _shape(m: Dict, col: str) -> Optional[str]:
    """``points`` when every live file of manifest ``m`` recorded that class
    for ``col``; None (general) otherwise."""
    shapes = m.get("file_shapes", {})
    if all(shapes.get(f, {}).get(col) == "points" for f in m["files"]):
        return "points"
    return None


def _stamp(df: DataFrame, m: Dict) -> DataFrame:
    """Set each geometry column's ``geom_shape`` to the class of the live
    files (dropping any the data files' footers carry): the manifest, not a
    file, says what the table holds."""
    geo = [g for g in m.get("geometry_columns", []) if g in df.columns]
    if not geo:
        return df
    out = []
    for f in df.schema.fields:
        if f.name not in geo:
            out.append(_q(f.name))
            continue
        md = {k: v for k, v in (f.metadata or {}).items() if k != "geom_shape"}
        shape = _shape(m, f.name) if _env(f.name) in df.columns else None
        if shape:
            md["geom_shape"] = shape
        out.append(_q(f.name).alias(f.name, metadata=md))
    return df.select(*out)


def _shape_count(col: str, geometry: bool) -> Column:
    """Rows that keep ``col``'s file out of the ``points`` class: for a
    geometry column, a non-NULL value that is not a 2-D WKB point or has no
    stored envelope; for any other ``BINARY`` column, any non-NULL value.
    The second case is what keeps a table created empty and then filled
    from a ``geom_shape`` source ``points``: the empty file ``CREATE
    TABLE`` writes is classed before its column is known to be geometry."""
    c = _q(col)
    if not geometry:
        return F.count(c)
    exact = (F.substring(c, 1, 5).isin(*_POINT_HEADERS)
             & (F.length(c) == _POINT_WKB_BYTES) & _q(_env(col)).isNotNull())
    return F.count(F.when(c.isNotNull() & ~exact, F.lit(1)))


def _partition_value(fld) -> Column:
    """The Iceberg partition-transform expression for one spec field:
    identity, bucket[N] (xxhash64-based), truncate[W], year/month/day."""
    src, tr = F.col(fld["source"]), fld["transform"]
    if tr == "identity":
        return src
    if tr.startswith("bucket["):
        n = int(tr[len("bucket["):-1])
        return F.pmod(F.xxhash64(src), F.lit(n))
    if tr.startswith("truncate["):
        w = int(tr[len("truncate["):-1])
        return F.substring(src.cast("string"), 1, w)
    if tr in ("year", "month", "day"):
        fmt = {"year": "yyyy", "month": "yyyy-MM", "day": "yyyy-MM-dd"}[tr]
        return F.date_format(src, fmt)
    raise ValueError(f"unsupported partition transform {tr!r}")


class SnapshotTable:
    """A parquet directory with Iceberg-style snapshot versioning."""

    def __init__(self, path: str):
        self.path = path.rstrip("/")
        self.snap_dir = os.path.join(self.path, _SNAP_DIR)

    # -- manifest plumbing --------------------------------------------------

    def versions(self) -> List[int]:
        if not os.path.isdir(self.snap_dir):
            return []
        out = []
        for name in os.listdir(self.snap_dir):
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def _manifest(self, version: Optional[int] = None) -> Dict:
        vs = self.versions()
        if not vs:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        v = version if version is not None else vs[-1]
        if v not in vs:
            raise ValueError(f"version {v} not retained (have {vs})")
        with open(os.path.join(self.snap_dir, f"v{v}.json")) as fh:
            return json.load(fh)

    def _commit(self, files: List[str], operation: str,
                base_version: Optional[int] = None,
                extra: Optional[Dict] = None) -> int:
        """Atomically claim the next version.  ``base_version`` is the
        snapshot this change was computed against: if a concurrent writer
        has committed since (latest != base), or the version-file claim
        itself loses a race, raise :class:`CommitConflictError` — the
        losing writer's data files stay orphaned and are swept by
        ``expire``, never referenced (Iceberg's failed-commit story)."""
        vs = self.versions()
        latest = vs[-1] if vs else None
        if base_version is not None and latest != base_version:
            raise CommitConflictError(
                f"base snapshot v{base_version} is stale (latest v{latest})")
        v = (latest + 1) if latest else 1
        os.makedirs(self.snap_dir, exist_ok=True)
        manifest = {
            "version": v,
            "parent": latest,
            "operation": operation,
            "timestamp_ms": int(time.time() * 1000),
            "files": sorted(files),
        }
        if latest is None:
            manifest["schema"] = StructType().jsonValue()
        live = set(files)
        if latest is not None:
            # the schema, its evolution ops, the partition spec and the
            # geometry columns are table metadata: carried forward by every
            # commit (Iceberg: all live on the snapshot); per-file partition
            # tuples and shape classes follow their files — entries for
            # files no longer live are dropped.  A parent without a schema
            # (written before the table recorded one) passes none on.
            prev = self._manifest(latest)
            for key in ("schema", "schema_ops", "partition_spec",
                        "geometry_columns"):
                if prev.get(key):
                    manifest[key] = prev[key]
            for key in ("file_partitions", "file_shapes"):
                if prev.get(key):
                    manifest[key] = {f: v for f, v in prev[key].items()
                                     if f in live}
        if extra:
            extra = dict(extra)
            new = {"file_partitions": extra.pop("new_file_partitions", None),
                   "file_shapes": extra.pop("new_file_shapes", None)}
            written = extra.pop("new_schema", None)
            manifest.update(extra)
            if written and manifest.get("schema"):
                manifest["schema"] = _union(manifest["schema"], written)
            for key, vals in new.items():
                if vals:
                    manifest[key] = {**manifest.get(key, {}),
                                     **{f: v for f, v in vals.items()
                                        if f in live}}
        if manifest.get("schema") is None:
            manifest.pop("schema", None)
        tmp = os.path.join(self.snap_dir, f".v{v}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        try:
            # link = create-if-absent: the one writer whose link succeeds owns
            # version N; a rename here would silently clobber a racing commit
            os.link(tmp, os.path.join(self.snap_dir, f"v{v}.json"))
        except FileExistsError:
            raise CommitConflictError(
                f"lost commit race for v{v} at {self.path}") from None
        finally:
            os.unlink(tmp)
        return v

    def files(self, version: Optional[int] = None) -> List[str]:
        """Absolute paths of the data files live in ``version``."""
        return [os.path.join(self.path, f)
                for f in self._manifest(version)["files"]]

    def history(self) -> List[Dict]:
        return [{k: m[k] for k in
                 ("version", "parent", "operation", "timestamp_ms")}
                | {"n_files": len(m["files"])}
                for m in (self._manifest(v) for v in self.versions())]

    # -- data-file helpers --------------------------------------------------

    def _ingest_staged(self, staged: str):
        """Move part files from a staging dir into the table dir under
        unique immutable names; returns (their relative names, {name:
        partition_tuple}) parsed from Hive-style ``_p_<field>=<value>``
        directory components the partitioned stage write produced."""
        names, parts = [], {}
        for root, _dirs, fnames in os.walk(staged):
            pvals = {}
            rel = os.path.relpath(root, staged)
            if rel != ".":
                for comp in rel.split(os.sep):
                    if "=" in comp and comp.startswith("_p_"):
                        k, v = comp.split("=", 1)
                        from urllib.parse import unquote
                        pvals[k[3:]] = unquote(v)
            for name in fnames:
                if name.startswith("part-") or name.endswith(".parquet"):
                    new = f"snap-{uuid.uuid4().hex}-{name}"
                    os.rename(os.path.join(root, name),
                              os.path.join(self.path, new))
                    names.append(new)
                    if pvals:
                        parts[new] = pvals
        import shutil
        shutil.rmtree(staged, ignore_errors=True)
        return names, parts

    def _physical(self, df: DataFrame) -> DataFrame:
        """``df`` under the physical names of re-added columns (see
        ``_project_schema``)."""
        try:
            ops = self._manifest().get("schema_ops", [])
        except FileNotFoundError:
            ops = []
        for op in ops:
            phys = op.get("physical")
            if (op["op"] == "add" and phys and phys != op["name"]
                    and op["name"] in df.columns):
                df = df.withColumnRenamed(op["name"], phys)
        return df

    def _stage(self, df: DataFrame) -> str:
        staged = os.path.join(os.path.dirname(self.path),
                              f".staged-{uuid.uuid4().hex}")
        spec = []
        try:
            spec = self._manifest().get("partition_spec", [])
        except FileNotFoundError:
            pass
        pnames = []
        for fld in spec:
            if fld["source"] in df.columns:
                df = df.withColumn(f"_p_{fld['name']}",
                                   _partition_value(fld).cast("string"))
                pnames.append(f"_p_{fld['name']}")
        w = df.write.mode("overwrite")
        if pnames:
            # helper copies drive the directory layout; the source columns
            # stay IN the data files, so reads need no metadata re-attach
            w = w.partitionBy(*pnames)
        w.parquet(staged)
        return staged

    def _write(self, df: DataFrame, partitions: bool = False,
               geometry: Optional[List[str]] = None) -> Tuple[List[str], Dict]:
        """Write ``df`` as new immutable data files; returns their names and
        the commit metadata they bring: the schema the files hold, the
        geometry columns (the table's,
        the declared ``geometry`` ones, and any ``BINARY`` column whose
        source carries ``geom_shape`` metadata), the files' shape classes
        and, with ``partitions``, their partition tuples.  A geometry
        column the frame carries without its envelope gets one derived;
        the shape classes ride the write job as an Observation."""
        try:
            geo = list(self._manifest().get("geometry_columns", []))
        except FileNotFoundError:
            geo = []
        for f in df.schema.fields:
            if (isinstance(f.dataType, BinaryType) and f.name not in geo
                    and _env(f.name) not in df.columns
                    and (f.name in (geometry or ())
                         or (f.metadata or {}).get("geom_shape"))):
                geo.append(f.name)
        for g in geo:
            if g in df.columns and _env(g) not in df.columns:
                df = add_geometry(df, g)
        binary = [f.name for f in df.schema.fields
                  if isinstance(f.dataType, BinaryType)]
        obs = None
        if binary:
            obs = Observation()
            df = df.observe(obs, *[_shape_count(c, c in geo).alias(f"s{i}")
                                   for i, c in enumerate(binary)])
        df = self._physical(df)
        names, parts = self._ingest_staged(self._stage(df))
        extra: Dict = {"new_schema": df.schema.jsonValue()}
        if partitions and parts:
            extra["new_file_partitions"] = parts
        if geo:
            extra["geometry_columns"] = geo
        if obs is not None:
            got = obs.get
            cls = {c: "general" if got[f"s{i}"] else "points"
                   for i, c in enumerate(binary)}
            extra["new_file_shapes"] = {n: cls for n in names}
        return names, extra

    def _frame(self, spark: SparkSession, m: Dict,
               files: List[str]) -> DataFrame:
        """Data files of manifest ``m`` in its logical schema, hidden
        envelopes included, geometry columns stamped.  The files are read
        in the schema the manifest records, so no footer is opened to plan
        the read; a manifest written before the table recorded its schema
        is read with the footers' union."""
        paths = [os.path.join(self.path, f) for f in files]
        if "schema" in m:
            df = spark.read.schema(StructType.fromJson(m["schema"])) \
                .parquet(*paths)
        else:
            df = spark.read.option("mergeSchema", "true").parquet(*paths)
        return _stamp(_project_schema(df, m.get("schema_ops", [])), m)

    # -- public surface -----------------------------------------------------

    @classmethod
    def create(cls, spark: SparkSession, path: str, df: DataFrame,
               geometry: Optional[List[str]] = None) -> "SnapshotTable":
        """A new table holding ``df``; ``geometry`` names ``BINARY`` (WKB)
        columns declared as geometry columns."""
        t = cls(path)
        if t.versions():
            raise FileExistsError(f"snapshot table already exists at {path}")
        os.makedirs(t.path, exist_ok=True)
        names, extra = t._write(df, partitions=True, geometry=geometry)
        t._commit(names, "create", extra=extra or None)
        return t

    def scan(self, spark: SparkSession, version: Optional[int] = None
             ) -> Tuple[DataFrame, List[str]]:
        """The table as of ``version`` as stored — its columns plus each
        geometry column's hidden envelope, with the geometry columns'
        ``geom_shape`` set from the manifest — and the hidden column names.
        The frame spatial planning reads; :meth:`read` is its projection to
        the table's columns."""
        m = self._manifest(version)
        df = self._frame(spark, m, m["files"])
        return df, _hidden(m, df.columns)

    def read(self, spark: SparkSession,
             version: Optional[int] = None) -> DataFrame:
        """The table as of ``version`` (latest when None) — time travel.

        The version's manifest records the schema its files hold, as
        Iceberg's table metadata does, and the read declares it: no footer
        is read to plan it.  Additive schema evolution (Iceberg
        add-column): an append may carry new columns, the commit adds them
        to the recorded schema, and older files read them as NULL.  A
        version committed before the column doesn't show it — evolution is
        part of history.

        Manifest ``schema_ops`` (ALTER TABLE history) are applied on top:
        adds project a typed NULL until data carries the column, renames
        coalesce the old files' column into the new name (parquet has no
        field IDs, so the rename is a read-side projection — the Iceberg
        metadata-only contract with the same observable result), drops
        hide the column.  Ops are per-version: time travel to a
        pre-ALTER snapshot sees the old schema."""
        m = self._manifest(version)
        return _user(self._frame(spark, m, m["files"]), m)

    # -- schema evolution (ALTER TABLE) -------------------------------------

    def _alter(self, spark: SparkSession, op: Dict,
               geometry: bool = False) -> int:
        m = self._manifest()
        cols = self.read(spark).columns
        kind = op["op"]
        geo = m.get("geometry_columns", [])
        if op.get("name", op.get("to")) in {_env(g) for g in geo}:
            raise ValueError(f"column name {op.get('name', op.get('to'))!r} "
                             "is the hidden envelope of a geometry column")
        if kind == "add":
            if op["name"] in cols:
                raise ValueError(f"column {op['name']!r} already exists")
            # a name the files may already hold (dropped, or renamed away)
            # is written under a fresh physical name; without a recorded
            # schema any name may be held
            held = StructType.fromJson(m["schema"]).fieldNames() \
                if "schema" in m else None
            if held is None or op["name"] in held:
                op = dict(op, physical=f"{op['name']}__g{m['version'] + 1}")
        if kind == "rename":
            if op["from"] not in cols:
                raise ValueError(f"no column {op['from']!r} to rename")
            if op["to"] in cols:
                raise ValueError(f"column {op['to']!r} already exists")
        if kind == "drop" and op["name"] not in cols:
            raise ValueError(f"no column {op['name']!r} to drop")
        ops = list(m.get("schema_ops", [])) + [op]
        extra = {"schema_ops": ops}
        g = op["from"] if kind == "rename" else op["name"]
        if kind == "add":
            # the new column's field, under its physical name
            extra["new_schema"] = spark.range(0).select(
                F.lit(None).cast(op["type"])
                .alias(op.get("physical", g))).schema.jsonValue()
        if kind == "add" and geometry:
            extra["geometry_columns"] = geo + [g]
        if kind == "rename" and m.get("file_shapes"):
            # shape classes are keyed by name: they follow the column
            extra["file_shapes"] = {
                f: {op["to"] if c == g else c: v for c, v in cls.items()}
                for f, cls in m["file_shapes"].items()}
        if kind != "add" and g in geo:
            # the hidden envelope follows its geometry column
            if kind == "rename":
                ops.append({"op": "rename", "from": _env(g),
                            "to": _env(op["to"])})
                extra["geometry_columns"] = [op["to"] if c == g else c
                                             for c in geo]
            else:
                ops.append({"op": "drop", "name": _env(g)})
                extra["geometry_columns"] = [c for c in geo if c != g]
        return self._commit(m["files"], "alter", base_version=m["version"],
                            extra=extra)

    def add_column(self, spark: SparkSession, name: str, type_ddl: str,
                   geometry: bool = False) -> int:
        """``geometry``: the new ``BINARY`` (WKB) column is a geometry
        column, so later writes store its envelope."""
        return self._alter(spark, {"op": "add", "name": name,
                                   "type": type_ddl}, geometry)

    def rename_column(self, spark: SparkSession, old: str, new: str) -> int:
        return self._alter(spark, {"op": "rename", "from": old, "to": new})

    def drop_column(self, spark: SparkSession, name: str) -> int:
        return self._alter(spark, {"op": "drop", "name": name})


    # -- partition evolution (Iceberg partition spec) ------------------------

    def partition_spec(self, version: Optional[int] = None) -> List[Dict]:
        """The active partition spec fields as of ``version``."""
        try:
            return self._manifest(version).get("partition_spec", [])
        except FileNotFoundError:
            return []

    def add_partition_field(self, source: str, transform: str = "identity",
                            name: Optional[str] = None) -> int:
        """Iceberg partition evolution (``ALTER TABLE ... ADD PARTITION
        FIELD``): a metadata-only commit appending a field to the spec.
        Existing files are untouched and carry no partition tuple — scans
        always include them (Iceberg's multi-spec scan contract); files
        written AFTER the change carry per-file partition values in the
        manifest and become prunable."""
        _partition_value({"source": source, "transform": transform})  # validate
        spec = self.partition_spec() + [{
            "source": source, "transform": transform,
            "name": name or (source if transform == "identity"
                             else f"{source}_{transform.split('[')[0]}")}]
        m = self._manifest()
        return self._commit(m["files"], "set-partition-spec",
                            base_version=m["version"],
                            extra={"partition_spec": spec})

    def pruned_files(self, equality: Dict[str, object],
                     version: Optional[int] = None) -> List[str]:
        """Live files that can match the given partition-field equality
        values.  A file with no recorded tuple for a queried field predates
        the spec (or came from a rewrite) and is always kept — pruning is
        an optimization, never a correctness filter."""
        m = self._manifest(version)
        fps = m.get("file_partitions", {})
        keep = []
        for f in m["files"]:
            vals = fps.get(f, {})
            if all(k not in vals or vals[k] == str(v)
                   for k, v in equality.items()):
                keep.append(os.path.join(self.path, f))
        return keep

    def read_partition(self, spark: SparkSession,
                       equality: Dict[str, object],
                       version: Optional[int] = None) -> DataFrame:
        """Partition-pruned read: only manifest-matched files are opened
        (callers still apply their exact predicate — identity-transform
        equality is exact, bucket/truncate/date transforms are
        conservative file filters, same as Iceberg scan planning)."""
        m = self._manifest(version)
        files = self.pruned_files(equality, version)
        if not files:
            return self.read(spark, version).limit(0)
        return _user(self._frame(spark, m, files), m)

    def overwrite(self, spark: SparkSession, df: DataFrame) -> int:
        """Full-table overwrite as ONE snapshot commit (Iceberg
        ``INSERT OVERWRITE``): the new files replace every live file; the
        previous snapshot stays readable via time travel until expired."""
        added, extra = self._write(df, partitions=True)
        m = self._manifest()
        return self._commit(added, "overwrite", base_version=m["version"],
                            extra=extra or None)

    def append(self, spark: SparkSession, df: DataFrame,
               max_retries: int = 5, _extra: Optional[Dict] = None) -> int:
        """Append commutes with any concurrent commit, so a conflict is
        rebased automatically: re-read the (new) live file list and retry
        the commit — the staged data files are written exactly once."""
        added, written = self._write(df, partitions=True)
        for attempt in range(max_retries + 1):
            m = self._manifest()
            try:
                return self._commit(m["files"] + added, "append",
                                    base_version=m["version"],
                                    extra={**(_extra or {}), **written}
                                    or None)
            except CommitConflictError:
                if attempt == max_retries:
                    raise
        raise AssertionError("unreachable")

    # -- streaming ingest (exactly-once via batch-id fencing) ---------------

    def last_stream_batch_id(self) -> Optional[int]:
        """Highest streaming batch id ever committed to this table (scans
        retained manifests — the fencing token for idempotent replay)."""
        best = None
        for v in self.versions():
            b = self._manifest(v).get("stream_batch_id")
            if b is not None and (best is None or b > best):
                best = b
        return best

    def append_stream_batch(self, df: DataFrame, batch_id: int) -> Optional[int]:
        """Idempotent append for ``foreachBatch``: a batch id at or below
        the last committed one is a checkpoint replay — skipped, so a
        restarted stream never double-writes (Iceberg's exactly-once
        streaming-commit contract).  Returns the new version, or None if
        fenced."""
        last = self.last_stream_batch_id()
        if last is not None and batch_id <= last:
            return None
        return self.append(df.sparkSession, df,
                           _extra={"stream_batch_id": int(batch_id)})

    # -- copy-on-write DML (UPDATE / DELETE / MERGE) -------------------------
    # Each statement reads the live files once to find the files holding a
    # changed row, and how many rows (the predicate, or a semi-join with the
    # source keys, over a materialized ``input_file_name()``), reads just
    # those files again, and writes and commits their rewrite: untouched
    # files are shared with the previous snapshot.

    def _rewrite(self, m: Dict, operation: str, replaced: List[str],
                 df: DataFrame, stale=()) -> Tuple[int, int]:
        """Write ``df`` as new files and commit them on manifest ``m`` in
        place of its ``replaced`` files; returns (version, files written).
        A geometry column in ``stale`` was given new values, so its stored
        envelope is dropped and derived again."""
        added, extra = self._write(df.drop(*[
            _env(g) for g in m.get("geometry_columns", []) if g in stale]))
        gone = set(replaced)
        v = self._commit([f for f in m["files"] if f not in gone] + added,
                         operation, base_version=m["version"],
                         extra=extra or None)
        return v, len(added)

    def update_where(self, spark: SparkSession,
                     assignments: Dict[str, object], predicate) -> dict:
        """Copy-on-write UPDATE: rewrite only files containing matches; the
        untouched files are *shared* with the previous snapshot."""
        pred = _to_col(predicate)
        m = self._manifest()
        live = self._frame(spark, m, m["files"])
        _known("UPDATE SET", assignments, _user(live, m).columns)
        touched, n = bounded_file_list(live, lambda d: d.filter(pred),
                                       "update")
        if not touched:
            return {"version": m["version"], "files_rewritten": 0,
                    "rows_updated": 0}
        sub = self._frame(spark, m, touched)
        v, _ = self._rewrite(m, "update", touched, sub.select(*[
            F.when(pred, _to_col(assignments[c]).cast(sub.schema[c].dataType))
            .otherwise(F.col(c)).alias(c) if c in assignments else F.col(c)
            for c in sub.columns]), stale=assignments)
        return {"version": v, "files_rewritten": len(touched),
                "rows_updated": n}

    def delete_where(self, spark: SparkSession, predicate) -> dict:
        pred = _to_col(predicate)
        m = self._manifest()
        live = self._frame(spark, m, m["files"])
        touched, n = bounded_file_list(live, lambda d: d.filter(pred),
                                       "delete")
        if not touched:
            return {"version": m["version"], "files_rewritten": 0,
                    "rows_deleted": 0}
        v, _ = self._rewrite(m, "delete", touched, self._frame(
            spark, m, touched).filter(~pred | pred.isNull()))
        return {"version": v, "files_rewritten": len(touched),
                "rows_deleted": n}

    def merge_into(self, spark: SparkSession, source: DataFrame, on: str,
                   update_cols: Optional[List[str]] = None,
                   insert_when_not_matched: bool = True,
                   update_when_matched: bool = True) -> dict:
        """Snapshot-isolated ``MERGE INTO``: optional WHEN MATCHED THEN
        UPDATE (all or ``update_cols``), optional WHEN NOT MATCHED THEN
        INSERT — one new snapshot, untouched files shared with the parent.

        Touched files are found by semi-joining the materialized file-name
        column against the source keys (hash join at any key count — no
        driver-side key list, no full-rewrite fallback); duplicate source
        keys raise per SQL MERGE cardinality rules."""
        m = self._manifest()
        target = self._frame(spark, m, m["files"])
        cols = target.columns
        user = _user(target, m).columns
        update_cols = update_cols or [c for c in user if c != on]
        _known("MERGE UPDATE SET", update_cols, user)

        dup = (source.groupBy(on).agg(F.count(F.lit(1)).alias("_n"))
               .filter(F.col("_n") > 1).limit(1).collect())
        if dup:
            raise ValueError(
                f"MERGE: source has multiple rows for key {on}={dup[0][on]!r} "
                "(SQL MERGE forbids multiple matches per target row)")
        keys = source.select(on).distinct()
        # with no duplicate source key, each target row with a source key
        # is updated once
        touched, updated = bounded_file_list(
            target, lambda d: d.join(keys, on, "left_semi"), "merge") \
            if update_when_matched else ([], 0)

        src = source.select(*[F.col(c).alias(f"_src_{c}")
                              for c in source.columns])
        parts = []
        obs_i = None
        if touched:
            sub = self._frame(spark, m, touched)
            joined = sub.join(src, sub[on] == src[f"_src_{on}"], "left")
            parts.append(joined.select(*[
                (F.when(F.col(f"_src_{on}").isNotNull(), F.col(f"_src_{c}"))
                 .otherwise(F.col(c))).alias(c)
                if c in update_cols and f"_src_{c}" in joined.columns
                else F.col(c)
                for c in cols]))
        if insert_when_not_matched:
            obs_i = Observation()
            parts.append(
                src.join(target.select(on), src[f"_src_{on}"] == F.col(on),
                         "left_anti")
                .observe(obs_i, F.count(F.lit(1)).alias("n"))
                # the table's types, NULL where the source lacks a column — the
                # schema must not drift per-file on insert
                .select(*[(F.col(f"_src_{c}") if f"_src_{c}" in src.columns
                           else F.lit(None)).cast(target.schema[c].dataType)
                          .alias(c) for c in cols]))
        if not parts:
            return {"version": m["version"], "files_rewritten": 0,
                    "rows_updated": 0, "rows_inserted": 0}

        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        # an updated or inserted geometry has no valid stored envelope
        v, _ = self._rewrite(m, "merge", touched, out,
                             stale=user if insert_when_not_matched
                             else update_cols)
        return {"version": v, "files_rewritten": len(touched),
                "rows_updated": updated,
                "rows_inserted": obs_i.get["n"] if obs_i else 0}

    def compact(self, spark: SparkSession,
                target_file_bytes: int = 128 * 1024 * 1024) -> dict:
        """Small-file compaction — Iceberg's ``rewrite_data_files``: bin-pack
        data files smaller than the target into rewritten files of roughly
        ``target_file_bytes``, commit one new snapshot sharing every
        already-large file with its parent.  At 100 TB ingest produces
        drifts of small files (per-trigger streaming commits, skewed
        partitions); compaction is what keeps scan task counts sane.  Only
        the small files are read or written — O(small bytes), not O(table)."""
        m = self._manifest()
        sizes = {f: os.path.getsize(os.path.join(self.path, f))
                 for f in m["files"]}
        small = [f for f, sz in sizes.items() if sz < target_file_bytes]
        if len(small) <= 1:
            return {"version": m["version"], "files_compacted": 0,
                    "files_written": 0}
        total = sum(sizes[f] for f in small)
        n_out = max(1, -(-total // target_file_bytes))  # ceil
        # the logical frame: shape classes are keyed by the columns' current
        # names, and a column only some files carry is kept
        v, written = self._rewrite(m, "compact", small, self._frame(
            spark, m, small).repartition(n_out))
        return {"version": v, "files_compacted": len(small),
                "files_written": written}

    def rewrite_zorder(self, spark: SparkSession, cols: List[str],
                       bits: int = 10, n_files: Optional[int] = None) -> dict:
        """Z-order rewrite — Iceberg's ``rewrite_data_files(strategy =>
        'sort', sort_order => zorder(c1, c2, ...))``: rewrite the table
        range-partitioned and sorted by the interleaved-bit Z-value of the
        given numeric columns, so parquet min/max stats become tight on ALL
        the columns at once and multi-dimensional range queries (e.g. a
        spatial box over x,y) skip most files.  One full rewrite commit —
        run it like Iceberg maintenance, not per-query."""
        from ..sources.layout import zorder_value

        m = self._manifest()
        df = self._frame(spark, m, m["files"])
        stats = df.agg(*[F.min(c).alias(f"lo_{i}") for i, c in enumerate(cols)],
                       *[F.max(c).alias(f"hi_{i}") for i, c in enumerate(cols)]
                       ).collect()[0]
        mins = [stats[f"lo_{i}"] for i in range(len(cols))]
        maxs = [stats[f"hi_{i}"] for i in range(len(cols))]
        z = zorder_value([F.col(c) for c in cols], mins, maxs, bits)
        n_out = n_files or len(m["files"])
        out = (df.withColumn("_z", z)
               .repartitionByRange(n_out, "_z")
               .sortWithinPartitions("_z")
               .drop("_z"))
        v, written = self._rewrite(m, "zorder", m["files"], out)
        return {"version": v, "files_written": written}

    # -- metadata tables (Iceberg's  t.history / t.files  surface) ----------

    def history_df(self, spark: SparkSession) -> DataFrame:
        """The table's commit history as a DataFrame — Iceberg's
        ``SELECT * FROM t.history`` metadata table."""
        rows = [(h["version"], h["parent"], h["operation"],
                 h["timestamp_ms"], h["n_files"]) for h in self.history()]
        return spark.createDataFrame(
            rows, "version long, parent long, operation string, "
                  "timestamp_ms long, n_files long")

    def files_df(self, spark: SparkSession,
                 version: Optional[int] = None) -> DataFrame:
        """Live data files of a snapshot with sizes — Iceberg's
        ``SELECT * FROM t.files`` metadata table."""
        m = self._manifest(version)
        fps = m.get("file_partitions", {})
        rows = [(os.path.basename(f), os.path.getsize(f),
                 json.dumps(fps.get(os.path.basename(f), {}),
                            sort_keys=True))
                for f in self.files(version)]
        return spark.createDataFrame(
            rows, "file_name string, size_bytes long, partition string")


    def changes(self, spark: SparkSession, v_from: int,
                v_to: Optional[int] = None) -> DataFrame:
        """Iceberg-CDC-style changelog between two snapshots: the table
        rows added and removed going from ``v_from`` to ``v_to`` (latest
        when None), tagged ``_change_type`` = 'insert' | 'delete'.

        File-granular: only files NOT shared by both manifests are read
        (immutability means a shared file contributes no change), then the
        row-level diff is two hash anti-joins over just those files — an
        update written by CoW DML shows up as its delete + insert pair,
        exactly Iceberg's changelog contract."""
        m_from = self._manifest(v_from)
        m_to = self._manifest(v_to)
        only_from = sorted(set(m_from["files"]) - set(m_to["files"]))
        only_to = sorted(set(m_to["files"]) - set(m_from["files"]))

        def read_files(names, m):
            return _user(self._frame(spark, m, names), m) if names else None

        old = read_files(only_from, m_from)
        new = read_files(only_to, m_to)
        empty = self.read(spark, v_to).limit(0)                     .withColumn("_change_type", F.lit(""))
        out = empty
        if new is not None:
            ins = new if old is None else new.exceptAll(
                old.select(*new.columns))
            out = out.unionByName(
                ins.withColumn("_change_type", F.lit("insert")),
                allowMissingColumns=True)
        if old is not None:
            del_ = old if new is None else old.exceptAll(
                new.select(*old.columns))
            out = out.unionByName(
                del_.withColumn("_change_type", F.lit("delete")),
                allowMissingColumns=True)
        return out

    def rollback(self, version: int) -> int:
        """Append-only rollback: a new commit re-pointing at an old
        version's file set (the old files still exist — data files are
        immutable until expiry).  The target's schema ops come along too —
        Iceberg's rollback restores the snapshot's schema, so rolling back
        past an ALTER undoes the ALTER."""
        target = self._manifest(version)
        base = self._manifest()["version"]
        return self._commit(target["files"], f"rollback-to-{version}",
                            base_version=base,
                            extra={"schema": target.get("schema"),
                                   "schema_ops": target.get("schema_ops", []),
                                   "geometry_columns":
                                   target.get("geometry_columns", []),
                                   "new_file_shapes":
                                   target.get("file_shapes")})

    # ---- named refs (branches / tags) --------------------------------
    # Iceberg refs are mutable table-level pointers into the snapshot log
    # (metadata.refs) — stored here as a sidecar refs.json.  Branch WRITES
    # (divergent histories) are out of scope for this layer's linear
    # optimistic-concurrency model; branches behave as movable read
    # pointers (tags are immutable ones), with ``fast_forward`` advancing
    # a branch — the publish half of a write-audit-publish flow whose
    # audit half reads ``VERSION AS OF '<ref>'``.

    def _refs_path(self) -> str:
        return os.path.join(self.snap_dir, "refs.json")

    def refs(self) -> Dict[str, Dict]:
        try:
            with open(self._refs_path()) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {}

    def _write_refs(self, refs: Dict[str, Dict]) -> None:
        os.makedirs(self.snap_dir, exist_ok=True)
        tmp = f"{self._refs_path()}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as fh:
            json.dump(refs, fh)
        os.replace(tmp, self._refs_path())

    def create_ref(self, name: str, kind: str,
                   version: Optional[int] = None) -> int:
        if kind not in ("branch", "tag"):
            raise ValueError(f"ref kind must be branch or tag, got {kind!r}")
        refs = self.refs()
        if name in refs:
            raise ValueError(f"ref {name!r} already exists "
                             f"(a {refs[name]['type']})")
        v = int(version) if version is not None \
            else self._manifest()["version"]
        if v not in self.versions():
            raise ValueError(f"unknown snapshot {v}")
        refs[name] = {"version": v, "type": kind}
        self._write_refs(refs)
        return v

    def drop_ref(self, name: str, kind: Optional[str] = None) -> None:
        """Drop a branch or tag.  When ``kind`` is given (``'branch'`` /
        ``'tag'`` — the spelling the user typed in ``DROP BRANCH|TAG``),
        refuse to drop a ref of the other kind, matching real Iceberg:
        ``DROP TAG x`` must not silently delete a branch named ``x``."""
        refs = self.refs()
        if name not in refs:
            raise ValueError(f"unknown ref {name!r}")
        if kind is not None and refs[name]["type"] != kind:
            raise ValueError(
                f"ref {name!r} is a {refs[name]['type']}, not a {kind}")
        del refs[name]
        self._write_refs(refs)

    def resolve_ref(self, name: str) -> Optional[int]:
        r = self.refs().get(name)
        return None if r is None else r["version"]

    def fast_forward(self, branch: str, to: str) -> int:
        """Advance ``branch`` to another ref's (or ``'latest'``'s)
        snapshot — Iceberg's ``fast_forward`` procedure.  Tags are
        immutable and refuse to move.  Fast-forwarding ``main`` also
        re-points the table head (publish)."""
        refs = self.refs()
        ent = refs.get(branch)
        if ent is not None and ent["type"] == "tag":
            raise ValueError(f"cannot fast-forward tag {branch!r}")
        target = (self.versions()[-1] if to == "latest"
                  else self.resolve_ref(to))
        if target is None:
            raise ValueError(f"unknown target ref {to!r}")
        if branch == "main":
            newv = self.set_current(target)
            if ent is not None:
                refs[branch] = {"version": newv, "type": "branch"}
                self._write_refs(refs)
            return newv
        if ent is None:
            raise ValueError(f"unknown branch {branch!r}")
        refs[branch] = {"version": target, "type": "branch"}
        self._write_refs(refs)
        return target

    def set_current(self, version: int) -> int:
        """Re-point the table at ``version``'s file set + schema.  Unlike
        Iceberg's ``rollback_to_snapshot`` (ancestors only), Iceberg's
        ``set_current_snapshot`` accepts any snapshot — this layer's
        linear history makes the mechanics identical, so only the
        operation label differs."""
        target = self._manifest(version)
        base = self._manifest()["version"]
        return self._commit(target["files"], f"set-current-to-{version}",
                            base_version=base,
                            extra={"schema": target.get("schema"),
                                   "schema_ops": target.get("schema_ops", []),
                                   "geometry_columns":
                                   target.get("geometry_columns", []),
                                   "new_file_shapes":
                                   target.get("file_shapes")})

    def cherrypick(self, version: int) -> int:
        """Apply ``version``'s delta against its parent onto the CURRENT
        snapshot (Iceberg's ``cherrypick_snapshot``): files the snapshot
        added come in, files it removed go out, everything else in the
        current file set stays."""
        vs = self.versions()
        if version not in vs:
            raise ValueError(f"unknown snapshot {version}")
        idx = vs.index(version)
        parent = (set(self._manifest(vs[idx - 1])["files"])
                  if idx > 0 else set())
        picked = self._manifest(version)
        target = set(picked["files"])
        added, removed = target - parent, parent - target
        cur = self._manifest()
        new_files = ([f for f in cur["files"] if f not in removed]
                     + sorted(added - set(cur["files"])))
        # the picked files' schema joins the current one; unknown when the
        # picked snapshot recorded none
        schema = ({"new_schema": picked["schema"]} if "schema" in picked
                  else {"schema": None})
        return self._commit(new_files, f"cherrypick-{version}",
                            base_version=cur["version"],
                            extra={"new_file_shapes":
                                   picked.get("file_shapes"), **schema})

    def remove_orphans(self,
                       older_than_seconds: float = 3 * 24 * 3600) -> dict:
        """Delete data files in the table directory referenced by NO
        retained manifest (Iceberg's ``remove_orphan_files``) — the
        cleanup for crashed writes' leftovers.  Unlike ``expire``, no
        manifest is dropped, so time travel is unaffected.

        Files whose mtime is within ``older_than_seconds`` (default 3
        days, Iceberg's own default for ``older_than``) are kept: a
        concurrent in-flight append stages its data file BEFORE
        committing the manifest, so an ungated sweep in that window
        would delete a file the imminent commit references."""
        referenced = set()
        for v in self.versions():
            referenced.update(self._manifest(v)["files"])
        cutoff = time.time() - max(float(older_than_seconds), 0.0)
        n_removed, n_kept_recent = 0, 0
        for name in os.listdir(self.path):
            if name == _SNAP_DIR or not (
                    name.startswith(("snap-", "part-"))
                    or name.endswith(".parquet")):
                continue
            if name not in referenced:
                full = os.path.join(self.path, name)
                try:
                    if os.path.getmtime(full) > cutoff:
                        n_kept_recent += 1
                        continue
                    os.remove(full)
                except FileNotFoundError:
                    continue
                n_removed += 1
        return {"files_removed": n_removed,
                "files_kept_recent": n_kept_recent}

    def expire(self, keep_last: int = 2) -> dict:
        """Drop all but the last ``keep_last`` manifests, then delete any
        data file no retained manifest references (orphan cleanup)."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        vs = self.versions()
        drop, keep = vs[:-keep_last], vs[-keep_last:]
        referenced = set()
        for v in keep:
            referenced.update(self._manifest(v)["files"])
        for v in drop:
            os.remove(os.path.join(self.snap_dir, f"v{v}.json"))
        n_removed = 0
        for name in os.listdir(self.path):
            if name == _SNAP_DIR or not (
                    name.startswith(("snap-", "part-"))
                    or name.endswith(".parquet")):
                continue
            if name not in referenced:
                os.remove(os.path.join(self.path, name))
                n_removed += 1
        return {"manifests_dropped": len(drop), "files_removed": n_removed}
