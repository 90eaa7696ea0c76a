"""Row-level DML over parquet tables: UPDATE / DELETE / MERGE with
file-granularity copy-on-write.

The reference's row-level surface is Iceberg copy-on-write DML with spatial
predicates pushed to the scan (``example/.../App.scala:66`` —
``UPDATE ... WHERE ST_Contains(...)``; test assertions on the UPDATE's scan at
``TestSedonaIcebergExtension.scala:82-87``).  Without an Iceberg runtime the
engine reproduces the same semantics over a plain parquet directory:

1. **Plan**: find the files that contain matching rows —
   ``filter(pred).select(input_file_name()).distinct()``.  The predicate
   (including its envelope prefilter, SURVEY.md §2 Tier B) is pushed to the
   scan, so non-matching files are skipped via parquet min/max stats without
   being read — the analogue of Iceberg's manifest-level file pruning.
2. **Rewrite**: only the touched files are read again and rewritten
   (``CASE WHEN pred THEN new ELSE old``); untouched files are never opened.
   At 100 TB a selective UPDATE rewrites a handful of files, not the table.
3. **Commit**: new files are written to a staging directory and swapped in
   with atomic per-file renames; touched originals are removed last.
   (Single-writer semantics — full snapshot isolation needs a real table
   format; this mirrors what Iceberg's CoW writer does per file.)

SQL surface: :func:`read_dml` reads an UPDATE, DELETE or MERGE from Spark's
parse tree (target name parts, the exact text of the condition and each
assigned value, the MERGE key and clauses), so spelling is the parser's
business; a MERGE clause this engine does not implement raises
``ValueError`` naming it.  :func:`sql_dml` runs a statement on parquet
paths; the session front door runs a catalog table's through its snapshots.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F

from . import sqltree as T


def _to_col(expr) -> Column:
    return F.expr(expr) if isinstance(expr, str) else expr


def bounded_file_list(df: DataFrame, what: str = "rewrite") -> list:
    """Driver-side matched-file list (column ``_f``) for a copy-on-write
    commit, bounded.

    The emulation layer keeps manifests driver-side, so the matched-file
    set must land on the driver — but collected unbounded, a wide predicate
    over a 100 TB table (millions of files) is a silent driver OOM that
    real Iceberg avoids with distributed manifest reads.  A hard cap (env
    ``SPARK_GRAFT_MAX_COW_FILES``, default 100k paths ≈ ~10 MB of strings)
    turns that into a clear, actionable error instead of an OOM."""
    cap = int(os.environ.get("SPARK_GRAFT_MAX_COW_FILES", "100000"))
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        raise RuntimeError(
            f"copy-on-write {what} matches more than {cap} data files; "
            "this snapshot emulation keeps the matched-file manifest on "
            "the driver — raise SPARK_GRAFT_MAX_COW_FILES if the driver "
            "has memory for it, or narrow the predicate")
    return [r["_f"].replace("file://", "") or r["_f"] for r in rows]


def _table_files(spark: SparkSession, path: str, predicate) -> list:
    """Paths of data files containing at least one matching row (the
    predicate reaches the parquet scan, so stats-skipped files cost nothing)."""
    df = spark.read.parquet(path)
    # the file name must be materialized as a column BEFORE the predicate:
    # pandas-UDF filters re-batch rows across file boundaries, making a
    # post-filter input_file_name() attribute rows to the wrong file
    return bounded_file_list(
        df.withColumn("_f", F.input_file_name())
        .filter(_to_col(predicate))
        .select("_f").distinct(), "update/delete")


def _swap_in(path: str, df: DataFrame, touched: list) -> int:
    """Per-file rename commit: write ``df`` to a staging dir, move its part
    files into the table dir, then drop the rewritten originals."""
    staged_dir = os.path.join(os.path.dirname(path.rstrip("/")),
                              f".staged-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staged_dir)
    n_new = 0
    for name in os.listdir(staged_dir):
        if name.startswith("part-") or name.endswith(".parquet"):
            os.rename(os.path.join(staged_dir, name),
                      os.path.join(path, f"cow-{uuid.uuid4().hex}-{name}"))
            n_new += 1
    shutil.rmtree(staged_dir, ignore_errors=True)
    for f in touched:
        if os.path.exists(f):
            os.remove(f)
    return n_new


def update_where(spark: SparkSession, path: str,
                 assignments: Dict[str, object], predicate) -> dict:
    """Copy-on-write ``UPDATE path SET assignments WHERE predicate``.

    ``assignments``: column → Column or SQL-expression string.
    Returns ``{"files_rewritten": n, "rows_updated": n}``.
    """
    pred = _to_col(predicate)
    cols = set(spark.read.parquet(path).columns)
    unknown = set(assignments) - cols
    if unknown:
        raise ValueError(f"UPDATE SET references unknown column(s) "
                         f"{sorted(unknown)} (table has {sorted(cols)})")
    touched = _table_files(spark, path, pred)
    if not touched:
        return {"files_rewritten": 0, "rows_updated": 0}

    df = spark.read.parquet(*touched)
    # row count rides the rewrite job itself (Observation metric) — no
    # second scan of the touched files just to count
    obs = Observation()
    dfo = df.observe(obs, F.count(F.when(pred, 1)).alias("n"))
    updated = dfo.select(*[
        (F.when(pred, _to_col(assignments[c]).cast(df.schema[c].dataType))
         .otherwise(F.col(c))).alias(c) if c in assignments else F.col(c)
        for c in df.columns
    ])
    _swap_in(path, updated, touched)
    return {"files_rewritten": len(touched), "rows_updated": obs.get["n"]}


def delete_where(spark: SparkSession, path: str, predicate) -> dict:
    """Copy-on-write ``DELETE FROM path WHERE predicate``."""
    pred = _to_col(predicate)
    touched = _table_files(spark, path, pred)
    if not touched:
        return {"files_rewritten": 0, "rows_deleted": 0}
    df = spark.read.parquet(*touched)
    obs = Observation()
    dfo = df.observe(obs, F.count(F.when(pred, 1)).alias("n"))
    kept = dfo.filter(~pred | pred.isNull())
    _swap_in(path, kept, touched)
    return {"files_rewritten": len(touched), "rows_deleted": obs.get["n"]}


def merge_into(spark: SparkSession, target_path: str, source: DataFrame,
               on: str, update_cols: Optional[list] = None,
               insert_when_not_matched: bool = True,
               update_when_matched: bool = True) -> dict:
    """``MERGE INTO target USING source ON target.on = source.on`` with
    WHEN MATCHED THEN UPDATE (all or ``update_cols``) and optional
    WHEN NOT MATCHED THEN INSERT.

    Scale shape: touched files are found by *semi-joining* the materialized
    file-name column against the source keys — a hash join (broadcast when
    the key side is small, shuffle otherwise) at ANY key count.  No key set
    is ever collected to the driver, and there is no full-table-rewrite
    fallback; only the file *list* (metadata-scale, like an Iceberg
    manifest) comes back.  Duplicate source join keys raise — SQL MERGE
    cardinality semantics (a second match for the same target row is an
    error, not a silent row multiplication).
    """
    target = spark.read.parquet(target_path)
    cols = target.columns
    update_cols = update_cols or [c for c in cols if c != on]
    unknown = set(update_cols) - set(cols)
    if unknown:
        raise ValueError(f"MERGE UPDATE SET references unknown column(s) "
                         f"{sorted(unknown)} (table has {sorted(cols)})")

    keys = source.select(on).distinct()
    dup = (source.groupBy(on).agg(F.count(F.lit(1)).alias("_n"))
           .filter(F.col("_n") > 1).limit(1).collect())
    if dup:
        raise ValueError(
            f"MERGE: source has multiple rows for key {on}={dup[0][on]!r} "
            "(SQL MERGE forbids multiple matches per target row)")

    touched = [] if not update_when_matched else bounded_file_list(
        target.withColumn("_f", F.input_file_name())
        .join(keys, on, "left_semi")
        .select("_f").distinct(), "merge")

    src = source.select(*[F.col(c).alias(f"_src_{c}") for c in source.columns])
    obs_u = None
    rewritten = None
    if touched:
        matched_files_df = spark.read.parquet(*touched)
        joined = matched_files_df.join(
            src, matched_files_df[on] == src[f"_src_{on}"], "left")
        obs_u = Observation()
        joined = joined.observe(obs_u, F.count(F.col(f"_src_{on}")).alias("n"))
        rewritten = joined.select(*[
            (F.when(F.col(f"_src_{on}").isNotNull(), F.col(f"_src_{c}"))
             .otherwise(F.col(c))).alias(c)
            if c in update_cols and f"_src_{c}" in joined.columns else F.col(c)
            for c in cols
        ])
    obs_i = None
    inserts = None
    if insert_when_not_matched:
        obs_i = Observation()
        inserts = (src.join(target.select(on),
                            src[f"_src_{on}"] == F.col(on), "left_anti")
                   .observe(obs_i, F.count(F.lit(1)).alias("n"))
                   # the table's types, NULL where the source lacks a column
                   # — the schema must not drift per-file on insert
                   .select(*[(F.col(f"_src_{c}") if f"_src_{c}" in src.columns
                              else F.lit(None)).cast(target.schema[c].dataType)
                             .alias(c) for c in cols]))
    if rewritten is None and inserts is None:
        return {"files_rewritten": 0, "rows_updated": 0, "rows_inserted": 0}

    if rewritten is not None and inserts is not None:
        out = rewritten.unionByName(inserts, allowMissingColumns=True)
    else:
        out = rewritten if rewritten is not None else inserts
    _swap_in(target_path, out, touched)
    return {"files_rewritten": len(touched),
            "rows_updated": obs_u.get["n"] if obs_u is not None else 0,
            "rows_inserted": obs_i.get["n"] if obs_i is not None else 0}


# ---------------------------------------------------------------------------
# SQL statement surface, read from Spark's parse tree
# ---------------------------------------------------------------------------

@dataclass
class Dml:
    """What copy-on-write needs from one UPDATE, DELETE or MERGE: the
    target's dotted name; the SQL text of the condition and of each
    assigned value; for MERGE the key column ``on``, whether matched rows
    update (``update_cols`` None: every column) and unmatched source rows
    insert, and the source: a relation name, or its ``query`` node."""
    kind: str
    target: str
    condition: str = "TRUE"
    assignments: Dict[str, str] = field(default_factory=dict)
    on: Optional[str] = None
    update: bool = False
    update_cols: Optional[List[str]] = None
    insert: bool = False
    source: Optional[str] = None
    query: object = None


def _relation(node) -> Tuple[str, str]:
    """(dotted name, alias) of a relation."""
    alias = node.alias() if node.nodeName() == "SubqueryAlias" else None
    parts = T.parts(node.child() if alias else node)
    return ".".join(parts), alias or parts[-1]


def read_dml(sql: str, tree) -> Dml:
    """The :class:`Dml` of a parsed UPDATE, DELETE or MERGE."""
    kind = tree.nodeName()
    if kind not in ("UpdateTable", "DeleteFromTable", "MergeIntoTable"):
        raise ValueError(f"unsupported DML statement: {sql[:80]}")
    if kind == "MergeIntoTable":
        return _read_merge(sql, tree)
    cond = tree.condition()
    if kind == "UpdateTable":
        cond = cond.get() if cond.isDefined() else None
    # no WHERE: no condition, or the literal TRUE with no text
    d = Dml("update" if kind == "UpdateTable" else "delete",
            _relation(tree.table())[0],
            (T.text(sql, cond) if cond is not None else "") or "TRUE")
    if kind == "UpdateTable":
        d.assignments = {T.attribute(a.key())[-1]: T.text(sql, a.value())
                         for a in T.seq(tree.assignments())}
    return d


def _refuse(clause: str):
    raise ValueError(f"MERGE clause {clause} is not supported by this engine")


def _read_merge(sql: str, tree) -> Dml:
    target, talias = _relation(tree.targetTable())
    src = tree.sourceTable()
    if src.nodeName() == "SubqueryAlias" \
            and src.child().nodeName() != "UnresolvedRelation":
        d, salias = Dml("merge", target, query=src.child()), src.alias()
    else:
        name, salias = _relation(src)
        d = Dml("merge", target, source=name)
    cond = tree.mergeCondition()
    refs = [T.attribute(c) for c in T.seq(cond.children())] \
        if cond.nodeName() == "EqualTo" else []
    if len(refs) != 2 or not all(r and len(r) > 1 for r in refs) \
            or refs[0][-1].lower() != refs[1][-1].lower() \
            or {r[-2].lower() for r in refs} != {talias.lower(), salias.lower()}:
        _refuse(f"ON {T.text(sql, cond)} (it merges on target.k = source.k)")
    d.on = refs[0][-1]
    for when, actions in (("WHEN MATCHED", tree.matchedActions()),
                          ("WHEN NOT MATCHED", tree.notMatchedActions()),
                          ("WHEN NOT MATCHED BY SOURCE",
                           tree.notMatchedBySourceActions())):
        for a in T.seq(actions):
            act = a.nodeName()
            if a.condition().isDefined():
                _refuse(f"{when} AND {T.text(sql, a.condition().get())}")
            if (when, act) == ("WHEN MATCHED", "UpdateStarAction"):
                d.update = True
            elif (when, act) == ("WHEN MATCHED", "UpdateAction"):
                d.update = True
                d.update_cols = [_source_column(sql, x, salias)
                                 for x in T.seq(a.assignments())]
            elif (when, act) == ("WHEN NOT MATCHED", "InsertStarAction"):
                d.insert = True
            else:       # DeleteAction -> DELETE, InsertAction -> INSERT, ...
                _refuse(f"{when} THEN {act[:-len('Action')].upper()}")
    if tree.withSchemaEvolution():
        _refuse("WITH SCHEMA EVOLUTION")
    return d


def _source_column(sql: str, assignment, salias: str) -> str:
    """The column of ``c = s.c``: this engine's MERGE sets a column from the
    source column of the same name."""
    key, value = T.attribute(assignment.key()), T.attribute(assignment.value())
    if value and value[-1].lower() == key[-1].lower() \
            and (len(value) == 1 or value[-2].lower() == salias.lower()):
        return key[-1]
    _refuse(f"UPDATE SET {key[-1]} = {T.text(sql, assignment.value())} "
            "(a column takes the source column of its name)")


def sql_dml(spark: SparkSession, stmt: str,
            tables: Dict[str, str]) -> dict:
    """Run an ``UPDATE``/``DELETE``/``MERGE`` statement against parquet-backed
    tables.  ``tables`` maps table names used in the statement to directory
    paths."""
    d = read_dml(stmt, T.parse(spark, stmt))
    path = tables[d.target]
    if d.kind == "update":
        return update_where(spark, path, d.assignments, d.condition)
    if d.kind == "delete":
        return delete_where(spark, path, d.condition)
    source = spark.table(d.source) if d.source else \
        spark.sql(stmt[slice(*T.query_span(d.query))])
    return merge_into(spark, path, source, d.on, update_cols=d.update_cols,
                      insert_when_not_matched=d.insert,
                      update_when_matched=d.update)
