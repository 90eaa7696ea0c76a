"""SQL-text spatial join planning — the ``JoinQueryDetector`` front door.

The reference plans a *plain SQL* spatial join —
``SELECT ... FROM l JOIN r ON ST_Contains(r.geo, l.geo)`` — into
``BroadcastIndexJoin``/``RangeJoin`` via an injected planner strategy
(``SedonaIcebergExtensions.scala:47``, asserted by plan-string regex at
``TestSedonaIcebergExtension.scala:117-142``).  PySpark cannot inject a
Catalyst strategy, so this module reads the statement's **parse tree**
(``sessionState.sqlParser.parsePlan``: the unresolved Catalyst plan) and
rewrites the text at the exact ``origin`` spans the parser records:

1. every inner or left ``Join`` whose left and right inputs are FROM
   relations (tables, CTE references, aliased subqueries) or an already
   planned pair looks for an ``ST_pred(x.col, y.col[, d])`` conjunct over one
   column from each side — in its own ``ON`` condition or, for inner joins
   (comma joins parse as ``Filter(cond, Join(a, b, Inner))``), in the
   enclosing ``WHERE``;
2. the join is planned through :func:`operators.spatial_join.spatial_join`
   (grid cell equi-join — sort-merge/shuffled-hash + AQE, never a
   BroadcastNestedLoopJoin/CartesianProduct) into a *pair* DataFrame with
   one **struct column per table alias**, so every ``a.col`` reference in
   the rest of the statement keeps resolving (struct field access);
3. the text is spliced: the relations become the pair (a ``spark.sql``
   DataFrame named arg — no temp view outlives the call), a consumed
   ``WHERE`` conjunct becomes ``TRUE``, a bare ``*`` becomes
   ``a.*, b.*`` in FROM order, and a constant-envelope range conjunct over
   a point/rect shape-hinted column becomes its native envelope bounds.

A FROM relation naming a snapshot table whose geometry envelopes are stored
(``operators.ddl.snapshot_frame``) is read as that envelope-carrying frame:
as a join input, its shape hint and envelope make the join condition
native; under a range conjunct the WHERE reaches, the relation becomes its
frame filtered by the envelope bounds (a named arg, hidden envelopes
dropped) — exact for a ``points`` table, whose conjunct becomes ``TRUE``,
else the relaxed prefilter under the kept exact call.

Extra ``ON`` conjuncts filter the pair on inner joins; on a left join they
may only read the right side, and then filter the right input.  An ``ST_*``
call under an ``OR`` is not a conjunct and is never planned.  Chains
(``a JOIN b ON ST_p JOIN c ON ST_q`` and comma chains) plan left to right:
a planned pair is the left input of the next join, its geometry extracted
from the alias struct with the shape-hint metadata kept.  A CTE or subquery
input is built from its own text (``WITH <defs> SELECT * FROM <relation>``),
through this same front door.

Anything else runs through ``spark.sql`` unchanged: the registered ST_*
UDFs still evaluate it correctly, just without the planner upgrade (the
same correct-but-unindexed fallback the reference has for non-join
predicates).  A statement whose text has no ``st_`` is never parsed here.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

from pyspark.errors import AnalysisException, ParseException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from . import sqltree as T
from .ddl import snapshot_frame
from .spatial_join import spatial_join

# SQL name -> (internal predicate, inverse when arg order is (right, left))
_PREDICATES = {
    "st_contains": ("contains", "within"),
    "st_within": ("within", "contains"),
    "st_covers": ("covers", "covered_by"),
    "st_coveredby": ("covered_by", "covers"),
    "st_covered_by": ("covered_by", "covers"),
    "st_intersects": ("intersects", "intersects"),
    "st_touches": ("touches", "touches"),
    "st_crosses": ("crosses", "crosses"),
    "st_overlaps": ("overlaps", "overlaps"),
    "st_equals": ("equals", "equals"),
    "st_dwithin": ("dwithin", "dwithin"),
}

_RANGE_PREDS = ("st_contains", "st_within", "st_intersects",
                "st_covers", "st_coveredby", "st_covered_by")

# JoinType.sql -> spatial_join ``how``; other join types are not planned
_HOW = {"INNER": "inner", "CROSS": "inner", "LEFT OUTER": "left"}

# expression nodes whose inner plan a conjunct walk cannot see
_OPAQUE_EXPRS = ("ScalarSubquery", "Exists", "ListQuery", "InSubquery",
                 "LateralSubquery", "UnresolvedNamedLambdaVariable")


class _Decline(Exception):
    """The tree has a shape whose rewrite would change the statement's
    output (a bare ``*`` over an input without a qualifier, a planned join
    under a node that re-exposes its columns): run it unplanned."""


class _Conj:
    """One AND-conjunct of a join or filter condition."""

    def __init__(self, expr):
        self.expr = expr
        self.consumed = False
        self.call = None        # cached (name, args) of an ST_* call


class _Side:
    """One join input: a FROM relation (``aliases`` = [its alias], its
    frame built on demand from its text), a planned pair (``df`` has one
    struct column per alias), or an opaque input (``aliases`` None).

    ``reach``: the enclosing WHERE's conjuncts reach the relation (filtering
    it is the same as filtering the statement's rows).  A snapshot-table
    relation's frame carries ``hidden`` envelope columns, never exposed;
    ``pushed`` are the range filters moved into it."""

    def __init__(self, node=None, kind=None, df=None, aliases=None,
                 span=None, reach=False):
        self.node, self.kind, self.df = node, kind, df
        self._aliases, self._span = aliases, span
        self.pair = df is not None
        self.reach = reach
        self.hidden: List[str] = []
        self.pushed: List[str] = []

    @property
    def aliases(self) -> Optional[List[str]]:
        if self._aliases is None and self.kind == "SubqueryAlias":
            self._aliases = [self.node.alias()]
        elif self._aliases is None and self.kind == "UnresolvedRelation":
            self._aliases = [self.node.multipartIdentifier().last()]
        return self._aliases

    def owns(self, alias: str) -> bool:
        return alias.lower() in (a.lower() for a in self.aliases or ())


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


class _Rewrite:
    """One statement's tree walk; collects text edits and the frames they
    name (planned pairs, range-filtered snapshot tables)."""

    def __init__(self, spark: SparkSession, sql: str):
        self.spark, self.sql = spark, sql
        self.edits: List[Tuple[int, int, str]] = []
        self.args: Dict[str, DataFrame] = {}
        self.ctes: List[Tuple[str, str]] = []   # in-scope (name, CTE text)

    # --- plan nodes ------------------------------------------------------

    def walk(self, node) -> None:
        kind = node.nodeName()
        if kind in ("Project", "Aggregate"):
            leaves, planned = self.from_clause(node.child())
            if planned and kind == "Project":
                self.expand_stars(node.projectList(), leaves)
        elif kind in ("Join", "Filter"):
            if self.from_clause(node)[1]:
                raise _Decline(kind)
        elif kind == "UnresolvedWith":
            # a definition sees the ones before it; the query sees all
            rels = node.cteRelations()
            defs = [rels.apply(i) for i in range(rels.size())]
            outer = self.ctes
            for d in defs:
                self.walk(d._2().child())
                start, stop = T.span(d._2())
                self.ctes = self.ctes + [(d._1().lower(), self.sql[start:stop])]
            self.walk(node.child())
            self.ctes = outer
        else:
            ch = node.children()
            for i in range(ch.size()):
                self.walk(ch.apply(i))

    def from_clause(self, node) -> Tuple[List[_Side], bool]:
        """Plan the FROM tree under a select list (and its WHERE filters);
        returns its inputs in FROM order and whether one is a pair."""
        conjs: List[_Conj] = []
        while node.nodeName() == "Filter":
            conjs += self.conjuncts(node.condition())
            node = node.child()
        leaves = self.tree(node, conjs)
        planned = False
        for s in leaves:
            if s.pair:
                self.edits.append((*s._span, self.arg(s.df)))
                planned = True
            elif s.kind == "SubqueryAlias" \
                    and s.node.child().nodeName() != "UnresolvedRelation":
                self.walk(s.node.child())
        if leaves:
            self.rewrite_ranges(conjs, leaves)
        for s in leaves:
            if s.pushed:
                # the relation becomes its filtered frame, under its name
                df = s.df.where(" AND ".join(s.pushed)).drop(*s.hidden)
                if s.kind == "UnresolvedRelation":
                    self.edits.append((*T.span(s.node), f"{self.arg(df)} AS "
                                       f"{_quote(s.aliases[0])}"))
                else:
                    self.edits.append((*T.span(s.node.child()), self.arg(df)))
        return leaves, planned

    def arg(self, df: DataFrame) -> str:
        """The statement text naming ``df`` (a ``spark.sql`` named arg)."""
        name = f"_sj{len(self.args)}"
        self.args[name] = df
        return "{" + name + "}"

    def tree(self, node, conjs: List[_Conj]) -> List[_Side]:
        kind = node.nodeName()
        if kind == "Join":
            return self.join(node, conjs)
        if kind in ("SubqueryAlias", "UnresolvedRelation"):
            return [_Side(node, kind, reach=bool(conjs))]
        self.walk(node)
        return [_Side()]

    def join(self, node, conjs: List[_Conj]) -> List[_Side]:
        """Inputs of one Join node, collapsed to a pair when it plans.
        ``conjs`` are the enclosing WHERE's conjuncts; they reach a join
        only through inner joins and the left input of a left join, where
        filtering the join is the same as filtering its result."""
        how = _HOW.get(node.joinType().sql())
        cond = node.condition()
        own = self.conjuncts(cond.get()) if cond.isDefined() else []
        lefts = self.tree(node.left(), conjs if how else [])
        rights = self.tree(node.right(), conjs if how == "inner" else [])
        if how and len(lefts) == 1 and len(rights) == 1 \
                and not rights[0].pair:
            pair = self.plan(node, how, lefts[0], rights[0], own,
                             conjs if how == "inner" else [])
            if pair is not None:
                return [pair]
        return lefts + rights

    def plan(self, node, how: str, left: _Side, right: _Side,
             own: List[_Conj], conjs: List[_Conj]) -> Optional[_Side]:
        pick = next(filter(None, (self.join_call(c, left, right)
                                  for c in own + conjs)), None)
        if pick is None:
            return None
        extras = [c for c in own if c is not pick[0]]
        if how == "left" and not all(
                self.reads_only(c.expr, right.aliases[0]) for c in extras):
            return None     # it would filter the left rows, not the right
        try:
            rdf = self.frame(right)
            if how == "left" and extras:
                rdf = rdf.alias(right.aliases[0]).where(self.and_text(extras))
            pair = plan_spatial_join_sql(
                self.frame(left), left, rdf, right, *pick[1:], how=how)
            if pair is not None and how == "inner" and extras:
                pair = pair.where(self.and_text(extras))
        except AnalysisException:
            # an input or extra conjunct that does not resolve on its own
            # (a missing table, an outer reference): Spark runs the
            # statement as written and reports any error itself
            return None
        if pair is None:
            return None
        if pick[0] in conjs:
            pick[0].consumed = True
            self.edits.append((*T.span(pick[0].expr), "TRUE"))
        lspan, rspan = self.span(left), self.span(right)
        jstart, jstop = T.span(node)
        # an explicit JOIN node spans "JOIN r ON ..."; a comma join's
        # node spans the whole FROM clause, so its text ends at the right
        stop = jstop if jstart >= lspan[1] else rspan[1]
        return _Side(df=pair, aliases=left.aliases + right.aliases,
                     span=(lspan[0], stop))

    def span(self, side: _Side) -> Tuple[int, int]:
        if side._span is None:
            side._span = T.span(side.node)
        return side._span

    def frame(self, side: _Side) -> DataFrame:
        """The input as a DataFrame: a snapshot table's envelope-carrying
        frame, else built from its own text through this front door (so a
        subquery's own spatial joins plan too)."""
        if side.df is None:
            snap = self.snapshot(side)
            if snap is not None:
                side.df, side.hidden = snap
                return side.df
            start, stop = self.span(side)
            prefix = ""
            if self.ctes and self.may_read_cte(side):
                prefix = f"WITH {', '.join(t for _, t in self.ctes)} "
            side.df = spatial_sql(
                self.spark, f"{prefix}SELECT * FROM {self.sql[start:stop]}")
        return side.df

    def snapshot(self, side: _Side):
        """(frame, hidden columns) when the input names a snapshot table
        that stores geometry envelopes (and no CTE shadows the name)."""
        rel = side.node if side.kind == "UnresolvedRelation" \
            else side.node.child()
        if rel.nodeName() != "UnresolvedRelation":
            return None
        ident = rel.multipartIdentifier()
        name = ident.head()
        if ident.size() != 1 or name.lower() in (n for n, _ in self.ctes):
            return None
        return snapshot_frame(self.spark, name)

    def may_read_cte(self, side: _Side) -> bool:
        rel = side.node if side.kind == "UnresolvedRelation" \
            else side.node.child()
        if rel.nodeName() != "UnresolvedRelation":
            return True          # a subquery may read any CTE in scope
        ident = rel.multipartIdentifier()
        return ident.size() == 1 \
            and ident.head().lower() in (n for n, _ in self.ctes)

    def expand_stars(self, items, leaves: List[_Side]) -> None:
        """A bare ``*`` over a pair would return its alias structs; expand
        it to every input's columns in FROM order."""
        for i in range(items.size()):
            it = items.apply(i)
            if it.nodeName() != "UnresolvedStar" or it.target().isDefined():
                continue
            if any(s.aliases is None for s in leaves):
                raise _Decline("* over an input without a qualifier")
            cols = ", ".join(f"{_quote(a)}.*" for s in leaves for a in s.aliases)
            self.edits.append((*T.span(it), cols))

    # --- conjuncts -------------------------------------------------------

    def conjuncts(self, expr) -> List[_Conj]:
        if expr.nodeName() == "And":
            return self.conjuncts(expr.left()) + self.conjuncts(expr.right())
        return [_Conj(expr)]

    def and_text(self, conjs: List[_Conj]) -> str:
        return " AND ".join(f"({T.text(self.sql, c.expr)})" for c in conjs)

    def st_call(self, c: _Conj, names) -> Optional[Tuple[str, list]]:
        if c.call is None:
            c.call = _call(c.expr) or ()
        return c.call if c.call and c.call[0] in names else None

    def join_call(self, c: _Conj, left: _Side, right: _Side):
        """(conjunct, predicate, left column, right column, distance) when
        ``c`` is ``ST_pred(a.col, b.col[, d])`` over one column per side."""
        call = self.st_call(c, _PREDICATES)
        if not call:
            return None
        name, args = call
        d = 0.0
        if name == "st_dwithin":
            if len(args) != 3:
                return None
            d = _number(args[2])
            if d is None:
                return None
            args = args[:2]
        if len(args) != 2:
            return None
        a, b = _colref(args[0]), _colref(args[1])
        if not (a and b and a[0] and b[0]):
            return None
        fwd, inv = _PREDICATES[name]
        if left.owns(a[0]) and right.owns(b[0]):
            return c, fwd, a, b, d
        if left.owns(b[0]) and right.owns(a[0]):
            return c, inv, b, a, d
        return None

    def reads_only(self, expr, alias: str) -> bool:
        kind = expr.nodeName()
        if kind == "UnresolvedAttribute":
            ref = _colref(expr)
            return bool(ref and ref[0] and ref[0].lower() == alias.lower())
        if kind in _OPAQUE_EXPRS:
            return False
        ch = expr.children()
        return all(self.reads_only(ch.apply(i), alias)
                   for i in range(ch.size()))

    # --- range predicates ------------------------------------------------

    def rewrite_ranges(self, conjs: List[_Conj], leaves: List[_Side]) -> None:
        """Rewrite each WHERE conjunct ``ST_pred(ST_PolygonFromEnvelope(
        x1, y1, x2, y2), col)`` (either arg order) over a geometry with a
        ``<col>_env`` companion into native envelope comparisons, which
        reach the scan.  Over a point (or, where exact, rect) shape hint
        they are the predicate: no Python.  Over a snapshot table they move
        into the table's frame (the Tier-B pushdown of
        SedonaPredicatePushDown.scala): exact for a ``points`` table, else
        the relaxed envelope prefilter under the kept exact call."""
        for c in conjs:
            call = None if c.consumed else self.st_call(c, _RANGE_PREDS)
            if not call or len(call[1]) != 2:
                continue
            name, (a0, a1) = call
            b0, b1 = _envelope(a0), _envelope(a1)
            if (b0 is None) == (b1 is None):      # exactly one literal box
                continue
            box, colarg, box_first = (b0, a1, True) if b0 else (b1, a0, False)
            ref = _colref(colarg)
            if ref is None:
                continue
            side, shape, env = self.env_ref(leaves, *ref)
            native = _native_range(name, box, box_first, shape, env)
            if side is None or env not in side.hidden:
                if native:
                    self.edits.append((*T.span(c.expr), f"({native})"))
                continue
            if not side.reach or (ref[0] is None and len(leaves) > 1):
                continue     # filtering the table would not filter the rows
            if native:
                side.pushed.append(f"({native})")
                c.consumed = True
                self.edits.append((*T.span(c.expr), "TRUE"))
            else:
                side.pushed.append(
                    f"({env}.xmin IS NULL OR "
                    f"({_relaxed_range(name, box, box_first, env)}))")

    def env_ref(self, leaves: List[_Side], alias: Optional[str], col: str):
        """(side, shape hint, SQL path of the ``_env`` companion) of a
        geometry column: flat in a FROM relation or inside a pair's alias
        struct.  A snapshot table's path is the bare (hidden) column."""
        for s in leaves:
            if s.aliases is None or (alias is not None and not s.owns(alias)):
                continue
            try:
                schema = self.frame(s).schema
            except AnalysisException:
                return None, None, None   # Spark reports the relation itself
            if s.pair:
                if alias is None:
                    continue
                struct = next(f for f in schema.fields
                              if f.name.lower() == alias.lower())
                schema = struct.dataType
                if not isinstance(schema, StructType):
                    return None, None, None
            if col in schema.fieldNames():
                env = f"{col}_env"
                if env not in schema.fieldNames():
                    return None, None, None
                if alias and env not in s.hidden:
                    env = f"{alias}.{env}"
                return s, (schema[col].metadata or {}).get("geom_shape"), env
        return None, None, None


def _call(expr) -> Optional[Tuple[str, list]]:
    """(lower-case name, argument nodes) of an ``ST_*`` call."""
    call = T.call(expr)
    return call if call and call[0].startswith("st_") else None


def _colref(expr) -> Optional[Tuple[Optional[str], str]]:
    """(qualifier or None, column) of a ``col`` / ``alias.col`` reference."""
    parts = T.attribute(expr)
    if not parts or len(parts) > 2:
        return None
    return (None, parts[0]) if len(parts) == 1 else (parts[0], parts[1])


def _number(expr) -> Optional[float]:
    if expr.nodeName() != "Literal":
        return None
    try:
        return float(expr.toString())
    except ValueError:
        return None          # a string, boolean or NULL literal


def _envelope(expr) -> Optional[Tuple[float, float, float, float]]:
    """(x1, y1, x2, y2) of ``ST_PolygonFromEnvelope`` over four numeric
    literals, else None."""
    call = _call(expr)
    if not call or call[0] != "st_polygonfromenvelope" or len(call[1]) != 4:
        return None
    box = tuple(_number(a) for a in call[1])
    return None if None in box else box


def _native_range(pred: str, box, box_first: bool, shape: Optional[str],
                  env: Optional[str]) -> Optional[str]:
    """Native envelope comparisons for a constant-box range predicate — the
    SQL-text face of the Tier-B range pushdown (SedonaPredicatePushDown.scala
    relaxation table), exact rather than relaxed because it only fires for
    point/rect shape-hinted columns, where the envelope IS the geometry."""
    if shape not in ("points", "rects"):
        return None
    x1, y1, x2, y2 = box
    if pred == "st_intersects":
        return (f"{env}.xmax >= {x1!r} AND {env}.xmin <= {x2!r}"
                f" AND {env}.ymax >= {y1!r} AND {env}.ymin <= {y2!r}")
    box_contains = box_first if pred in ("st_contains", "st_covers") \
        else not box_first
    if not box_contains:
        return None    # a point/rect column containing a box — leave to UDF
    strict = pred in ("st_contains", "st_within")
    if strict and shape == "rects":
        # closed bounds would claim a zero-area rect on the box's boundary,
        # which is covered but not contained: the UDF decides
        return None
    # OGC contains puts a point in the *interior* → strict bounds
    # (functions/api.py st_contains); covers is inclusive
    lt, gt = ("<", ">") if strict else ("<=", ">=")
    return (f"{env}.xmin {gt} {x1!r} AND {env}.xmax {lt} {x2!r}"
            f" AND {env}.ymin {gt} {y1!r} AND {env}.ymax {lt} {y2!r}")


def _relaxed_range(pred: str, box, box_first: bool, env: str) -> str:
    """The envelope prefilter of a constant-box range predicate over any
    geometry (SURVEY §Tier B: the ``stIntersects``/``stCovers``/
    ``stCoveredBy`` relaxations): every row the predicate accepts passes
    it; the exact call stays above it.  Where the box holds the geometry
    (or they intersect) that is the closed rect test of the envelope."""
    closed = {"st_contains": "st_covers", "st_within": "st_coveredby"}
    rect = _native_range(closed.get(pred, pred), box, box_first, "rects", env)
    if rect:
        return rect
    x1, y1, x2, y2 = box      # the geometry holds the box: so does its envelope
    return (f"{env}.xmin <= {x1!r} AND {env}.xmax >= {x2!r}"
            f" AND {env}.ymin <= {y1!r} AND {env}.ymax >= {y2!r}")


def _resolve_geom(df: DataFrame, side: _Side, alias: str,
                  col: str) -> Optional[Tuple[DataFrame, str, List[str]]]:
    """Resolve a predicate argument ``alias.col`` against one join side.
    Plain relation: the column itself.  Pair: the alias is a struct column
    of a prior planned join — extract the geometry (and its ``_env``
    companion) into flat temp columns, re-stamping shape-hint metadata so
    the native envelope paths survive.  Returns (df, flat_geom_col,
    temp_cols) or None."""
    if not side.pair:
        return (df, col, []) if col in df.columns else None
    name = next(a for a in side.aliases if a.lower() == alias.lower())
    inner = df.schema[name].dataType
    if not isinstance(inner, StructType) or col not in inner.fieldNames():
        return None
    tmp = f"__geo_{name}_{col}"
    md = inner[col].metadata
    extract = [F.col(f"`{name}`.`{col}`").alias(tmp, metadata=md or None)]
    tmps = [tmp]
    env = f"{col}_env"
    if env in inner.fieldNames():
        extract.append(F.col(f"`{name}`.`{env}`").alias(f"{tmp}_env"))
        tmps.append(f"{tmp}_env")
    return df.select("*", *extract), tmp, tmps


def plan_spatial_join_sql(ldf: DataFrame, left: _Side, rdf: DataFrame,
                          right: _Side, predicate: str,
                          lref: Tuple[str, str], rref: Tuple[str, str],
                          d: float, how: str = "inner") -> Optional[DataFrame]:
    """Plan one detected join through the grid spatial join; returns the
    pair: one struct column per table alias (a left pair's alias structs
    pass through unchanged; a snapshot table's hidden envelopes stay out),
    or None when a geometry column is missing."""
    ralias = right.aliases[0]
    left_res = _resolve_geom(ldf, left, *lref)
    right_res = _resolve_geom(rdf, right, *rref)
    if not (left_res and right_res):
        return None
    ldf2, lgeo, ltmps = left_res
    rdf2, rgeo, _ = right_res
    joined = spatial_join(ldf2, rdf2, predicate=predicate, on=(lgeo, rgeo),
                          how=how, strategy="grid", d=d)

    lcols, rcols = ldf2.columns, rdf2.columns
    common = set(lcols) & set(rcols)
    rstruct = F.struct(*[F.col(f"`r_{c}`" if c in common else f"`{c}`").alias(c)
                         for c in rcols if c not in right.hidden]).alias(ralias)
    if left.pair:
        keep = [F.col(f"`{c}`").alias(c) for c in lcols if c not in ltmps]
        return joined.select(*keep, rstruct)
    return joined.select(
        F.struct(*[F.col(f"`{c}`").alias(c) for c in lcols
                   if c not in ltmps and c not in left.hidden]
                 ).alias(left.aliases[0]),
        rstruct)


def _plan_statement(spark: SparkSession, sql: str, tree=None
                    ) -> Optional[Tuple[str, Dict[str, DataFrame]]]:
    """The rewritten statement text and its DataFrame named args, or None
    when the statement has nothing to plan (``tree``: its parse, if the
    caller has it)."""
    if "st_" not in sql.lower():
        return None
    if tree is None:
        try:
            tree = T.parse(spark, sql)
        except ParseException:
            return None      # spark.sql reports the parse error itself
    rw = _Rewrite(spark, sql)
    try:
        rw.walk(tree)
    except _Decline:
        return None
    if not rw.edits:
        return None
    # the named-arg formatter reads {...}
    return T.splice(sql, rw.edits, escape=bool(rw.args)), rw.args


def spatial_sql(spark: SparkSession, sql: str, tree=None) -> DataFrame:
    """Run a SQL statement, planning every recognized spatial join
    (``JOIN ... ON ST_pred``, ``FROM a, b WHERE ST_pred``, and chains of
    them) through the distributed spatial join instead of Spark's default
    BroadcastNestedLoopJoin-over-UDF.  ``tree``: the statement's parse, when
    the caller already has it.

    Unrecognized statements run unchanged (correct, unoptimized)."""
    planned = _plan_statement(spark, sql, tree)
    if planned is None:
        return spark.sql(sql)
    text, args = planned
    return spark.sql(text, **args)
