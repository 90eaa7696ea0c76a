"""UPDATE / DELETE / MERGE statements, read from Spark's parse tree.

The reference's row-level surface is Iceberg copy-on-write DML with spatial
predicates pushed to the scan (``example/.../App.scala:66`` —
``UPDATE ... WHERE ST_Contains(...)``; test assertions on the UPDATE's scan at
``TestSedonaIcebergExtension.scala:82-87``).  The copy-on-write itself is
the snapshot table's (``operators.snapshots.SnapshotTable.update_where`` /
``delete_where`` / ``merge_into``): the session front door runs a catalog
table's statement there.

:func:`read_dml` reads what that needs from the parsed statement: the
target's name, the exact text of the condition and of each assigned value
(a column qualified by the target's alias or name is spliced to its bare
name, since the rewrite reads the target unaliased), the MERGE key and
clauses.  Spelling is the parser's business; a MERGE clause this engine
does not implement raises ``ValueError`` naming it.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

from . import sqltree as T


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
    name, alias = _relation(tree.table())
    # Spark resolves the target's columns qualified by its alias, or without
    # one by any suffix of its name (longest first)
    parts = name.lower().split(".")
    quals = [[alias.lower()]] if tree.table().nodeName() == "SubqueryAlias" \
        else [parts[i:] for i in range(len(parts))]
    # no WHERE: no condition, or the literal TRUE with no text
    d = Dml("update" if kind == "UpdateTable" else "delete", name,
            (_unqualified(sql, cond, quals) if cond is not None else "")
            or "TRUE")
    if kind == "UpdateTable":
        d.assignments = {T.attribute(a.key())[-1]:
                         _unqualified(sql, a.value(), quals)
                         for a in T.seq(tree.assignments())}
    return d


def _unqualified(sql: str, expr, quals: List[List[str]]) -> str:
    """The text of ``expr`` with each column reference qualified by one of
    ``quals`` (lower-case name parts) spliced to its bare name."""
    edits = []

    def walk(e):
        ref = T.attribute(e)
        q = ref and next((q for q in quals if len(ref) > len(q) and
                          [p.lower() for p in ref[:len(q)]] == q), None)
        if q:
            edits.append((*T.span(e), ".".join(
                "`" + p.replace("`", "``") + "`" for p in ref[len(q):])))
        for c in T.seq(e.children()):
            walk(c)

    if not T.text(sql, expr):
        return ""
    walk(expr)
    return T.splice(sql, edits, *T.span(expr))


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
