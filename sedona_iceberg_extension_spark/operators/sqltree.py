"""Reading SQL statements from Spark's own parse tree.

:func:`parse` returns the unresolved Catalyst plan
(``sessionState.sqlParser.parsePlan``).  Every node records the exact
``origin`` span of its text, so names, expressions and queries are read
from the statement there and a rewrite is a splice there: comments,
quoting and string literals stay the parser's business.
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Tuple

from pyspark.logger import PySparkLogger
from pyspark.sql import SparkSession


def _quiet(call, text: str):
    """A parser call whose ParseException propagates without PySpark's
    query-context error log: the caller decides whether it is an error."""
    log = PySparkLogger.getLogger("SQLQueryContextLogger")
    was, log.disabled = log.disabled, True
    try:
        return call(text)
    finally:
        log.disabled = was


def parse(spark: SparkSession, text: str, expression: bool = False):
    """A statement's (or, with ``expression``, one expression's) tree."""
    parser = spark._jsparkSession.sessionState().sqlParser()
    return _quiet(parser.parseExpression if expression else parser.parsePlan,
                  text)


def seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def span(node) -> Tuple[int, int]:
    """[start, stop) of a parse-tree node in the statement text."""
    o = node.origin()
    return o.startIndex().get(), o.stopIndex().get() + 1


def text(sql: str, node) -> str:
    """The node's text; empty for a node the parser made up (no span)."""
    if not node.origin().startIndex().isDefined():
        return ""
    start, stop = span(node)
    return sql[start:stop]


def query_span(node) -> Tuple[int, int]:
    """[start, stop) of a query.  A plan node's span may cover only its own
    clause (a LIMIT's is ``ORDER BY … LIMIT n``), so the query runs from the
    earliest start down the first-child chain to the latest stop down the
    last-child chain."""
    start, stop = span(node)
    for pick in (0, -1):
        n = node
        while n.children().size():
            n = n.children().apply(pick % n.children().size())
            if n.origin().startIndex().isDefined():
                start, stop = min(start, span(n)[0]), max(stop, span(n)[1])
    return start, stop


def parts(node) -> List[str]:
    """Name parts of a relation, table, identifier or procedure node."""
    if node.nodeName() in ("UnresolvedIdentifier", "UnresolvedProcedure"):
        return [str(p) for p in seq(node.nameParts())]
    return [str(p) for p in seq(node.multipartIdentifier())]


def attribute(expr) -> Optional[List[str]]:
    """Name parts of a column reference, None for other expressions."""
    if expr.nodeName() != "UnresolvedAttribute":
        return None
    return [str(p) for p in seq(expr.nameParts())]


def call(expr) -> Optional[Tuple[str, list]]:
    """(lower-case name, argument nodes) of a function call."""
    if expr.nodeName() != "UnresolvedFunction":
        return None
    return str(expr.nameParts().mkString(".")).lower(), seq(expr.arguments())


def literal(expr):
    """The Python value of a literal."""
    if expr.nodeName() != "Literal":
        raise ValueError(f"expected a literal, got {expr.toString()}")
    value, kind = expr.value(), expr.dataType().typeName()
    if value is None or kind in ("integer", "long", "short", "byte",
                                 "boolean", "double", "float"):
        return value
    return (float if kind.startswith("decimal") else str)(value.toString())


def splice(sql: str, edits: Sequence[Tuple[int, int, str]], start: int = 0,
           stop: Optional[int] = None, escape: bool = False) -> str:
    """``sql[start:stop]`` with the ``(start, stop, text)`` edits inside it
    applied; ``escape`` doubles the braces of the untouched text (for the
    ``spark.sql`` named-arg formatter)."""
    stop = len(sql) if stop is None else stop
    out, pos = [], start
    for a, b, new in sorted(e for e in edits if start <= e[0] and e[1] <= stop):
        out += [sql[pos:a], new]
        pos = b
    out.append(sql[pos:stop])
    if escape:
        out[::2] = [s.replace("{", "{{").replace("}", "}}") for s in out[::2]]
    return "".join(out)
