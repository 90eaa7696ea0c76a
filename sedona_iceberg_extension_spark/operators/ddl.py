"""SQL DDL front door — the reference's ``USING ICEBERG`` table surface.

The reference App drives its whole lifecycle as plain SQL statements
(``example/.../App.scala:42-80``): ``CREATE TABLE ... USING ICEBERG``,
``INSERT INTO ... VALUES/SELECT``, ``DROP TABLE IF EXISTS``, ``CACHE
TABLE``, and a ``CREATE TABLE ... USING ICEBERG AS SELECT`` with a spatial
join.  The environment has no Iceberg runtime, so these statements map onto
the engine's snapshot tables (``operators.snapshots.SnapshotTable`` —
versioned manifests, CoW DML, time travel), which reproduce the semantics
the DDL spelling implies.

Statements are read from Spark's own parse tree (:class:`Statement`):
``session.sql`` dispatches on the root node's class to :data:`HANDLERS`,
which read names, column types, INSERT sources, CALL arguments and DML
clauses from the nodes and their exact ``origin`` spans.  A bare
``GEOMETRY`` type, which Spark rejects, is spliced to ``BINARY``; inline
``VALUES`` rows become ``SELECT … UNION ALL`` (an inline table cannot
evaluate a Python UDF); Iceberg's extension grammar (``ADD PARTITION
FIELD``, ``CREATE|DROP BRANCH|TAG``) is tried only after the parser rejects
the text.  A statement naming no catalog table runs on Spark as written.

Tables live in a session warehouse (``$SPARK_GRAFT_WAREHOUSE`` or a
tempdir) and are registered as temp views after every commit.  A query's
relations naming catalog tables are spliced at their spans, wherever they
stand and never inside a string literal: ``catalog.db.tbl`` becomes its view
``catalog_db_tbl`` (Spark would resolve the dots against a real catalog),
``t.history``/``t.files`` the metadata table, and ``t VERSION|TIMESTAMP AS
OF x`` that snapshot's view.

``GEOMETRY`` columns are WKB ``BINARY`` (SURVEY.md §2 Tier A) and declared
geometry columns of the snapshot table, as is a ``BINARY`` column whose
first inserted source carries ``geom_shape`` metadata (INSERT alignment
keeps it); their stored envelopes and per-file shape classes are
``operators.snapshots``'.  A table's view is its commit's frame without the
hidden envelopes; the envelope-carrying frame is kept for the spatial
planner (:func:`snapshot_frame`), which pushes range predicates into its
scan.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
from datetime import datetime, timezone
from typing import Dict, List, Optional, Tuple

from pyspark.errors import AnalysisException, ParseException
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import dml, sqltree as T
from .snapshots import SnapshotTable


def _state(spark: Optional[SparkSession] = None) -> dict:
    """Per-session DDL state: ``{"catalog": {name: SnapshotTable},
    "warehouse": path|None}``.  Scoped to the SparkSession (not the
    module), so two sessions in one process keep separate warehouse
    namespaces; sparkless accessors resolve the active session.  With no
    session at all, a detached empty state is returned (read paths become
    no-ops)."""
    if spark is None:
        spark = SparkSession.getActiveSession()
    if spark is None:
        return {"catalog": {}, "warehouse": None, "views": {}}
    st = getattr(spark, "_graft_ddl_state", None)
    if st is None:
        st = {"catalog": {}, "warehouse": None, "views": {}}
        spark._graft_ddl_state = st
    return st


def _catalog(spark: Optional[SparkSession] = None) -> Dict[str, SnapshotTable]:
    return _state(spark)["catalog"]


def _lookup(spark: SparkSession, name: str) -> Optional[str]:
    """The catalog's spelling of table ``name`` (Spark identifiers are
    case-insensitive), None when it has no such table."""
    return next((n for n in _catalog(spark) if n.lower() == name.lower()), None)


def iceberg_runtime_configured(extensions: str, conf: Dict[str, str]) -> bool:
    """True when the session was launched with a REAL Iceberg runtime — the
    reference's own launch shape (``example/launch.sh:16-20``,
    ``TestSedonaIcebergExtension.scala:44-48``): the Iceberg session
    extensions and/or a ``spark.sql.catalog.<name>`` bound to an Iceberg
    SparkCatalog/SparkSessionCatalog.  Pure function of the conf so the
    detection is unit-testable without jars."""
    if "IcebergSparkSessionExtensions" in (extensions or ""):
        return True
    return any(k.startswith("spark.sql.catalog.")
               and k.count(".") == 3       # the catalog binding itself
               and "iceberg" in (v or "").lower()
               for k, v in conf.items())


def delegate_to_iceberg(spark: SparkSession) -> bool:
    """Whether ``USING ICEBERG`` DDL/DML should be delegated to vanilla
    ``spark.sql`` (real Iceberg jars + catalog configured) instead of the
    snapshot-table emulation.  Cached per session; the env knob
    ``SPARK_GRAFT_FORCE_EMULATION=1`` pins the emulation for testing."""
    if os.environ.get("SPARK_GRAFT_FORCE_EMULATION"):
        return False
    cached = getattr(spark, "_graft_iceberg_delegate", None)
    if cached is None:
        cached = iceberg_runtime_configured(
            spark.conf.get("spark.sql.extensions", "") or "",
            dict(spark.sparkContext.getConf().getAll()))
        spark._graft_iceberg_delegate = cached
    return cached


# Iceberg's SQL-extension grammar, which Spark's parser lacks: tried only
# after the parser rejects a statement
_ALTER_ADD_PART_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>[\w.]+)\s+ADD\s+PARTITION\s+FIELD\s+"
    r"(?P<field>.+?)\s*$", re.IGNORECASE)

_ALTER_REF_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<name>[\w.]+)\s+"
    r"(?P<op>CREATE|DROP)\s+(?P<kind>BRANCH|TAG)\s+(?P<ref>\w+)"
    r"(?:\s+AS\s+OF\s+VERSION\s+(?P<v>\d+))?\s*$", re.IGNORECASE)


def _view_name(name: str) -> str:
    return name.replace(".", "_")


def _warehouse(spark: Optional[SparkSession] = None) -> str:
    st = _state(spark)
    if st["warehouse"] is None:
        st["warehouse"] = (os.environ.get("SPARK_GRAFT_WAREHOUSE")
                           or tempfile.mkdtemp(prefix="snapshot_warehouse_"))
    os.makedirs(st["warehouse"], exist_ok=True)
    return st["warehouse"]


def _temp_view_id(spark: SparkSession, view: str) -> Optional[int]:
    """Identity of the plan a temp view name is bound to now (None when
    unbound): tells a view this module registered from one a statement
    replaced since."""
    raw = spark._jsparkSession.sessionState().catalog().getRawTempView(view)
    if raw.isEmpty():
        return None
    return spark._jvm.System.identityHashCode(raw.get())


def _publish(spark: SparkSession, view: str, tbl: SnapshotTable,
             version: Optional[int] = None) -> None:
    """Register one snapshot of ``tbl`` as temp view ``view``: one read of
    the commit, projected to the table's columns; the envelope-carrying
    frame is kept for :func:`snapshot_frame`."""
    full, hidden = tbl.scan(spark, version)
    user = full.drop(*hidden) if hidden else full
    user.createOrReplaceTempView(view)
    _state(spark)["views"][view.lower()] = {
        "schema": user.schema, "frame": full if hidden else None,
        "hidden": hidden, "id": _temp_view_id(spark, view) if hidden else None}


def _register(spark: SparkSession, name: str) -> None:
    _publish(spark, _view_name(name), _catalog(spark)[name])


def snapshot_frame(spark: SparkSession, view: str):
    """(frame, hidden columns) of a registered snapshot-table view whose
    table stores geometry envelopes: the frame is the view's read with each
    geometry column's hidden ``<geo>_env`` struct and ``geom_shape`` stamp.
    None for any other name, or when the view was re-bound since."""
    ent = _state(spark)["views"].get(view.lower())
    if ent is None or ent["frame"] is None \
            or _temp_view_id(spark, view) != ent["id"]:
        return None
    return ent["frame"], ent["hidden"]


def _align(df: DataFrame, spark: SparkSession, name: str,
           columns: Optional[List[str]] = None) -> DataFrame:
    """Align an insert source to the table schema (names and types) the way
    SQL INSERT resolves columns: by position, or by name through an INSERT
    column list (a table column it leaves out reads NULL).  The schema is
    the registered view's; a source column's metadata (``geom_shape``) is
    kept, which is how a ``BINARY`` column learns it holds geometry."""
    schema = _state(spark)["views"][_view_name(name).lower()]["schema"]
    names = columns or schema.fieldNames()
    if len(df.columns) != len(names):
        raise ValueError(f"INSERT column count {len(df.columns)} != "
                         f"{'column list' if columns else 'table'} arity "
                         f"{len(names)}")
    # by position: a VALUES source may repeat a column name (``0.0, 0.0``)
    df = df.toDF(*[f"_c{i}" for i in range(len(names))])
    src = {n.lower(): f for n, f in zip(names, df.schema.fields)}
    unknown = set(src) - {n.lower() for n in schema.fieldNames()}
    if unknown:
        raise ValueError(f"INSERT names unknown column(s) {sorted(unknown)}")
    return df.select(*[
        F.col(src[f.name.lower()].name).cast(f.dataType).alias(
            f.name, metadata=src[f.name.lower()].metadata or None)
        if f.name.lower() in src else F.lit(None).cast(f.dataType).alias(f.name)
        for f in schema.fields])


def table(name: str, spark: Optional[SparkSession] = None) -> SnapshotTable:
    return _catalog(spark)[name]


def _column(expr) -> Optional[str]:
    ref = T.attribute(expr)
    return ref[0] if ref and len(ref) == 1 else None


def _partition_field(spark: SparkSession, field: str) -> Tuple[str, str]:
    """(source column, transform) of an Iceberg partition field: ``col``,
    ``bucket(N, col)``, ``truncate(W, col)``, ``year|month|day(col)``."""
    expr = T.parse(spark, field, expression=True)
    if _column(expr):
        return _column(expr), "identity"
    fn, args = T.call(expr) or (None, [])
    if fn in ("bucket", "truncate") and len(args) == 2 \
            and args[0].nodeName() == "Literal" and _column(args[1]):
        return _column(args[1]), f"{fn}[{T.literal(args[0])}]"
    if fn and fn.rstrip("s") in ("year", "month", "day") and len(args) == 1 \
            and _column(args[0]):
        return _column(args[0]), fn.rstrip("s")
    raise ValueError(f"unsupported partition field {field!r}")


# procedures that move the table to a snapshot: (its argument, the move)
_MOVES = {"rollback_to_snapshot": ("to_snapshot_id", SnapshotTable.rollback),
          "set_current_snapshot": ("snapshot_id", SnapshotTable.set_current),
          "cherrypick_snapshot": ("snapshot_id", SnapshotTable.cherrypick)}
_PROCEDURES = (*_MOVES, "expire_snapshots", "remove_orphan_files",
               "rewrite_data_files", "fast_forward")


def run_procedure(spark: SparkSession, proc: str, pos: list,
                  named: dict) -> dict:
    """Iceberg's maintenance procedures (``CALL catalog.system.<proc>``,
    SparkProcedures surface) over the snapshot layer: rollback_to_snapshot,
    expire_snapshots, rewrite_data_files (binpack default; ``strategy =>
    'sort', sort_order => 'zorder(a, b)'`` routes to the Z-order rewrite),
    set_current_snapshot, cherrypick_snapshot, remove_orphan_files,
    fast_forward."""
    if proc not in _PROCEDURES:
        raise ValueError(f"unknown procedure {proc!r} (supported: "
                         f"{', '.join(_PROCEDURES)})")
    name = named.get("table") or (pos[0] if pos else None)
    if name is None:
        raise ValueError(f"CALL {proc}: missing table argument")
    name = _lookup(spark, str(name)) or name
    tbl = _catalog(spark)[name]

    def arg(key, i, default=None):
        return named.get(key, pos[i] if len(pos) > i else default)

    out = {"proc": proc, "table": name}
    if proc == "expire_snapshots":
        return {**out, **tbl.expire(int(arg("retain_last", 1, 2)))}
    if proc == "remove_orphan_files":
        grace = named.get("older_than_seconds")
        return {**out, **tbl.remove_orphans(**(
            {} if grace is None else {"older_than_seconds": float(grace)}))}
    if proc in _MOVES:
        key, move = _MOVES[proc]
        if arg(key, 1) is None:
            raise ValueError(f"{proc} needs {key}")
        out["version"] = move(tbl, int(arg(key, 1)))
    elif proc == "rewrite_data_files":
        if str(named.get("strategy", "")).lower() == "sort":
            order = str(named.get("sort_order", ""))
            fn, args = T.call(T.parse(spark, order, expression=True)) or ("", [])
            cols = [_column(a) for a in args]
            if fn != "zorder" or not cols or None in cols:
                raise ValueError(f"unsupported sort_order {order!r} (this "
                                 "engine sorts by zorder(col, ...))")
            out.update(tbl.rewrite_zorder(spark, cols))
        else:
            out.update(tbl.compact(spark, target_file_bytes=int(named.get(
                "target_file_size_bytes", 128 * 1024 * 1024))))
    else:
        branch, to = arg("branch", 1), arg("to", 2)
        if branch is None or to is None:
            raise ValueError("fast_forward needs branch and to")
        out.update(branch=branch, version=tbl.fast_forward(str(branch), str(to)))
    _register(spark, name)
    return out


class Statement:
    """One statement as Spark's parser reads it.  ``sql`` is the text with
    each bare ``GEOMETRY`` column type spliced to ``BINARY`` at the span the
    parser's ``UNSUPPORTED_DATATYPE`` error gives (``geometry``: those
    offsets); the spans of ``tree`` index ``sql``.  ``original`` is the text
    as written."""

    def __init__(self, spark: SparkSession, original: str):
        self.spark, self.original = spark, original
        self.sql, self.geometry = original, []
        while True:
            try:
                self.tree = T.parse(spark, self.sql)
                return
            except ParseException as e:
                ctx = e.getQueryContext()
                if e.getCondition() != "UNSUPPORTED_DATATYPE" or not ctx \
                        or ctx[0].fragment().upper() != "GEOMETRY":
                    raise
                start = ctx[0].startIndex()
                self.sql = (self.sql[:start] + "BINARY"
                            + self.sql[ctx[0].stopIndex() + 1:])
                self.geometry.append(start)

    def declares_geometry(self, node) -> bool:
        start, stop = T.span(node)
        return any(start <= g < stop for g in self.geometry)

    def table(self, node) -> Tuple[str, Optional[str]]:
        """(dotted name, catalog name or None) of a name-carrying node."""
        name = ".".join(T.parts(node))
        return name, _lookup(self.spark, name)

    def select(self, node) -> DataFrame:
        """A query node's rows, through the spatial join planner."""
        from .sql_join import spatial_sql

        start, stop = T.query_span(node)
        return spatial_sql(self.spark,
                           T.splice(self.sql, self.edits(node), start, stop))

    def edits(self, node) -> List[Tuple[int, int, str]]:
        """Splices for the relations under ``node`` naming catalog tables."""
        low, out = self.sql.lower(), []
        if any(n.rpartition(".")[2].lower() in low
               for n in _catalog(self.spark)):
            self._relations(node, out)
        return out

    def _relations(self, node, out: list) -> None:
        kind = node.nodeName()
        if kind == "UnresolvedRelation":
            view = self._view(T.parts(node))
            if view:
                out.append((*T.span(node), view))
        elif kind == "RelationTimeTravel":
            _, name = self.table(node.relation())
            if name:
                out.append((T.span(node.relation())[0], T.span(node)[1],
                            self._travel(name, node)))
        else:   # CTE definitions are inner children, subqueries expressions
            for sub in (T.seq(node.children()) + T.seq(node.innerChildren())
                        + T.seq(node.subqueries())):
                self._relations(sub, out)

    def _view(self, parts: List[str]) -> Optional[str]:
        """A dotted catalog table's view, or its ``history``/``files``
        metadata table registered on demand; None: no rewrite."""
        name = _lookup(self.spark, ".".join(parts))
        if name is not None:
            return _view_name(name) if "." in name else None
        meta = parts[-1].lower()
        base = _lookup(self.spark, ".".join(parts[:-1])) \
            if len(parts) > 1 and meta in ("history", "files") else None
        if base is None:
            return None
        tbl, view = _catalog(self.spark)[base], f"{_view_name(base)}__{meta}"
        (tbl.history_df if meta == "history" else tbl.files_df)(
            self.spark).createOrReplaceTempView(view)
        return view

    def _travel(self, name: str, node) -> str:
        """The view of the snapshot ``VERSION AS OF <n|'ref'>`` or
        ``TIMESTAMP AS OF '<ts>'`` selects, registered on demand."""
        tbl = _catalog(self.spark)[name]
        if node.version().isDefined():
            ref = str(node.version().get())
            v = int(ref) if ref.isdigit() else tbl.resolve_ref(ref)
            if v is None:
                raise ValueError(f"unknown branch/tag {ref!r} on {name!r}")
        else:
            ts = str(T.literal(node.timestamp().get()))
            dt = datetime.fromisoformat(ts)
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            eligible = [h["version"] for h in tbl.history()
                        if h["timestamp_ms"] <= dt.timestamp() * 1000]
            if not eligible:
                raise ValueError(f"no snapshot of {name!r} at or before {ts!r}")
            v = max(eligible)
        view = f"{_view_name(name)}__v{v}"
        _publish(self.spark, view, tbl, v)
        return view


# The handlers below return None for a statement naming no catalog table:
# the front door runs it on Spark as written.

def run_query(spark: SparkSession, st: Statement):
    """Any other statement: Spark's, with its catalog relations spliced to
    their views, through the spatial join planner."""
    from .sql_join import spatial_sql

    if st.geometry:
        return spark.sql(st.original)   # Spark reports the GEOMETRY type
    edits = st.edits(st.tree)
    if edits:
        return spatial_sql(spark, T.splice(st.sql, edits))
    return spatial_sql(spark, st.sql, st.tree)


def _create(spark: SparkSession, st: Statement):
    tree = st.tree
    provider = tree.tableSpec().provider()
    if not (provider.isDefined() and provider.get().lower() == "iceberg"):
        return run_query(spark, st)
    ctas = tree.nodeName() == "CreateTableAsSelect"
    kind = "ctas" if ctas else "create"
    name, known = st.table(tree.name())
    if known is not None:
        if not tree.ignoreIfExists():
            # Spark/Iceberg raise TABLE_ALREADY_EXISTS for a plain CREATE
            # TABLE — a silent no-op would keep stale data
            raise ValueError(
                f"[TABLE_OR_VIEW_ALREADY_EXISTS] Cannot create table {known} "
                "because it already exists. Use CREATE TABLE IF NOT EXISTS "
                "to tolerate a pre-existing table.")
        return {"ddl": kind, "table": known, "existed": True}
    if tree.partitioning().size():
        raise ValueError("CREATE TABLE … PARTITIONED BY is not supported; "
                         "use ALTER TABLE … ADD PARTITION FIELD")
    path = os.path.join(_warehouse(spark), _view_name(name))
    if ctas:
        df = st.select(tree.query())
        _catalog(spark)[name] = SnapshotTable.create(spark, path, df)
        res = {"ddl": kind, "table": name, "rows": df.count()}
    else:
        cols = T.seq(tree.columns())
        empty = spark.createDataFrame([], ", ".join(
            f"`{c.name()}` {c.dataType().sql()}" for c in cols))
        _catalog(spark)[name] = SnapshotTable.create(
            spark, path, empty,
            geometry=[c.name() for c in cols if st.declares_geometry(c)])
        res = {"ddl": kind, "table": name, "existed": False}
    _register(spark, name)
    return res


def _drop(spark: SparkSession, st: Statement):
    """PURGE also deletes the table's files."""
    name, known = st.table(st.tree.child())
    if known is None:
        if not st.tree.ifExists():
            return None
        try:
            if spark.catalog.tableExists(name):
                return None
        except AnalysisException:
            pass        # a name no Spark catalog can hold (``demo.db.t``)
        return {"ddl": "drop", "table": name, "existed": False}
    tbl = _catalog(spark).pop(known)
    # the table's view and those its time-travel and metadata-table reads
    # registered
    view, views = _view_name(known), _state(spark)["views"]
    travel = f"{view.lower()}__v"
    for v in [view, f"{view}__history", f"{view}__files",
              *[k for k in views
                if k.startswith(travel) and k[len(travel):].isdigit()]]:
        spark.catalog.dropTempView(v)
        views.pop(v.lower(), None)
    if st.tree.purge():
        shutil.rmtree(tbl.path, ignore_errors=True)
    return {"ddl": "drop", "table": known, "existed": True}


def _insert(spark: SparkSession, st: Statement):
    """``INSERT INTO|OVERWRITE t [(cols)|BY NAME] VALUES …|<query>``."""
    tree = st.tree
    _, known = st.table(tree.table())
    if known is None:
        return None
    if tree.partitionSpec().size():
        raise ValueError("INSERT … PARTITION (…) is not supported: the "
                         "table's partition spec places the rows")
    query = tree.query()
    if query.nodeName() == "UnresolvedInlineTable":
        # an inline table cannot evaluate a Python UDF (the reference
        # inserts IcebergSTGeomFromText(...) rows, App.scala:46-52)
        src = spark.sql(" UNION ALL ".join(
            "SELECT " + ", ".join(T.text(st.sql, e) for e in T.seq(row))
            for row in T.seq(query.rows())))
    else:
        src = st.select(query)
    cols = [str(c) for c in T.seq(tree.userSpecifiedCols())] \
        or (src.columns if tree.byName() else None)
    aligned = _align(src, spark, known, cols)
    tbl = _catalog(spark)[known]
    (tbl.overwrite if tree.overwrite() else tbl.append)(spark, aligned)
    _register(spark, known)
    return {"ddl": "insert_overwrite" if tree.overwrite() else "insert",
            "table": known, "version": tbl.versions()[-1]}


def _cache(spark: SparkSession, st: Statement):
    un = st.tree.nodeName() == "UncacheTable"
    _, known = st.table(st.tree.table())
    if known is None:
        return None
    (spark.catalog.uncacheTable if un else spark.catalog.cacheTable)(
        _view_name(known))
    return {"ddl": "uncache" if un else "cache", "table": known}


def _call(spark: SparkSession, st: Statement):
    """Positional and ``name =>`` literal arguments."""
    pos, named = [], {}
    for a in T.seq(st.tree.args()):
        if a.nodeName() == "NamedArgumentExpression":
            named[str(a.key()).lower()] = T.literal(a.value())
        else:
            pos.append(T.literal(a))
    target = named.get("table", pos[0] if pos else None)
    if target is None or _lookup(spark, str(target)) is None:
        return None
    return run_procedure(spark, T.parts(st.tree.procedure())[-1].lower(),
                         pos, named)


def _field(parts: List[str]) -> str:
    if len(parts) != 1:
        raise ValueError(f"nested column {'.'.join(parts)!r} is not supported")
    return parts[0]


def _alter(spark: SparkSession, st: Statement):
    """``ADD COLUMN(S)``, ``RENAME COLUMN``, ``DROP COLUMN(S)``."""
    tree, kind = st.tree, st.tree.nodeName()
    _, known = st.table(tree.table())
    if known is None:
        return None
    tbl = _catalog(spark)[known]
    if kind == "RenameColumn":
        tbl.rename_column(spark, _field(T.seq(tree.column().name())),
                          tree.newName())
    elif kind == "DropColumns":
        for f in T.seq(tree.columnsToDrop()):
            col = _field(T.seq(f.name()))
            if not tree.ifExists() or col in tbl.read(spark).columns:
                tbl.drop_column(spark, col)
    else:
        for c in T.seq(tree.columnsToAdd()):
            tbl.add_column(spark, _field(T.seq(c.name())),
                           c.dataType().sql(), st.declares_geometry(c))
    _register(spark, known)
    return {"ddl": "alter_" + {"RenameColumn": "rename", "DropColumns": "drop",
                               "AddColumns": "add"}[kind],
            "table": known, "version": tbl.versions()[-1]}


def _dml(spark: SparkSession, st: Statement):
    """A catalog table's versioned CoW (time travel spans the DML)."""
    d = dml.read_dml(st.sql, st.tree)
    known = _lookup(spark, d.target)
    if known is None:
        return None
    tbl = _catalog(spark)[known]
    if d.kind == "update":
        res = tbl.update_where(spark, d.assignments, d.condition)
    elif d.kind == "delete":
        res = tbl.delete_where(spark, d.condition)
    else:
        src = d.source and _lookup(spark, d.source)
        source = st.select(d.query) if d.query is not None else \
            spark.table(_view_name(src) if src else d.source)
        res = tbl.merge_into(spark, source, d.on, update_cols=d.update_cols,
                             insert_when_not_matched=d.insert,
                             update_when_matched=d.update)
    _register(spark, known)
    return res


def _show(spark: SparkSession, st: Statement):
    """``SHOW TABLES`` over the snapshot catalog — Spark's result shape,
    with dotted names split into their namespace and table parts."""
    if st.tree.pattern().isDefined() \
            or not st.tree.namespace().nodeName().startswith("CurrentNamespace"):
        return None
    return spark.createDataFrame(
        [(*n.rpartition(".")[::2], False) for n in sorted(_catalog(spark))],
        "namespace string, tableName string, isTemporary boolean")


def _describe(spark: SparkSession, st: Statement):
    """``DESCRIBE t`` — Spark's result shape, from the table's current
    logical schema, then the partition spec under Spark's "# Partition
    Information" heading."""
    _, known = st.table(st.tree.relation())
    if known is None or st.tree.partitionSpec().size():
        return None
    schema = _state(spark)["views"][_view_name(known).lower()]["schema"]
    rows = [(f.name, f.dataType.simpleString(), None) for f in schema.fields]
    spec = _catalog(spark)[known].partition_spec()
    if spec:
        rows += [("# Partition Information", "", None)] + [
            (fld["name"], fld["transform"], None) for fld in spec]
    return spark.createDataFrame(
        rows, "col_name string, data_type string, comment string")


# root node class -> handler; any other statement runs through run_query
HANDLERS = {
    "CreateTable": _create, "CreateTableAsSelect": _create,
    "DropTable": _drop, "InsertIntoStatement": _insert,
    "CacheTable": _cache, "UncacheTable": _cache, "Call": _call,
    "AddColumns": _alter, "RenameColumn": _alter, "DropColumns": _alter,
    "UpdateTable": _dml, "DeleteFromTable": _dml, "MergeIntoTable": _dml,
    "ShowTables": _show, "DescribeRelation": _describe,
}


def run_extension(spark: SparkSession, statement: str) -> Optional[dict]:
    """Iceberg's SQL-extension statements on a catalog table, which Spark's
    parser rejects: ``ALTER TABLE t ADD PARTITION FIELD <field>`` and
    ``ALTER TABLE t CREATE|DROP BRANCH|TAG <ref> [AS OF VERSION n]``."""
    m = _ALTER_REF_RE.match(statement) or _ALTER_ADD_PART_RE.match(statement)
    name = m and _lookup(spark, m.group("name"))
    if not name:
        return None
    tbl = _catalog(spark)[name]
    if m.re is _ALTER_ADD_PART_RE:
        v = tbl.add_partition_field(*_partition_field(spark, m.group("field")))
        _register(spark, name)
        return {"ddl": "alter_partition", "table": name, "version": v}
    kind, ref = m.group("kind").lower(), m.group("ref")
    out = {"ddl": "alter_ref", "table": name, "op": m.group("op").lower(),
           "kind": kind, "ref": ref}
    if out["op"] == "create":
        out["version"] = tbl.create_ref(
            ref, kind, int(m.group("v")) if m.group("v") else None)
    else:
        tbl.drop_ref(ref, kind=kind)
    return out


def reset(spark: Optional[SparkSession] = None) -> None:
    """Drop the session's in-memory catalog (tests)."""
    st = _state(spark)
    st["catalog"].clear()
    st["views"].clear()
    st["warehouse"] = None
