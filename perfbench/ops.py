"""Op sequences for the benchmark workloads.

The workload seed picks statement parameters only (windows, distances, k,
inserted keys, spelling choice and order); every round of a workload has
the same class counts whatever the seed.  The engine receives only the
generated SQL text.  Each read op carries a DuckDB mirror of its statement,
written as plain x/y comparisons: the points and boxes are axis-aligned, so
``ST_Contains`` / ``ST_DWithin`` / ``ST_Distance`` reduce to arithmetic on
the same integer coordinates the views are built from.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

# point and box synthesis shared by the Spark views and the DuckDB mirror
CUST_X = "CAST(c_custkey % 360 - 180 AS DOUBLE)"
CUST_Y = "CAST((c_custkey * 7) % 180 - 90 AS DOUBLE)"
SUPP_X = "CAST(s_suppkey % 360 - 180 AS DOUBLE)"
SUPP_Y = "CAST((s_suppkey * 11) % 180 - 90 AS DOUBLE)"
BOX_XMIN = "CAST(n_nationkey * 14 - 180 AS DOUBLE)"
BOX_XMAX = "CAST(n_nationkey * 14 - 166 AS DOUBLE)"

N_CUSTOMER = 15_000
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

READ, WRITE = "read", "write"


@dataclass
class Op:
    """One timed statement (or, for MERGE, its source view plus the MERGE)."""
    cls: str
    kind: str                       # READ or WRITE
    sql: List[str]
    mirror: Optional[str] = None    # DuckDB SQL giving the same rows (reads)
    replay: List[str] = field(default_factory=list)  # DuckDB DML (writes)
    fresh: bool = True              # False: repeats an earlier statement
    spatial_join: bool = False      # a JOIN ... ON ST_pred statement
    detector_miss: bool = False     # spelling the regex detector misses

    @property
    def key(self) -> str:
        return "\n".join(self.sql)


# ---------------------------------------------------------------------------
# spatial_serve
# ---------------------------------------------------------------------------

# per 16-op round: class -> (fresh, repeat).  Counts are fixed so that, over
# the three rounds of a timed phase (48 reads), the p50 rank and the tail
# rank (p79.2, ten reads beyond it) fall inside the contains-join band (see
# BENCHMARK.json): 9 range reads sit below it and 6 centroid and missed-
# spelling reads above it.  Half the statements repeat an earlier one
# verbatim, and one in sixteen uses a spelling the regex detector misses.
SERVE_ROUND: Dict[str, Tuple[int, int]] = {
    "range": (1, 2),
    "knn": (1, 0),
    "dwithin": (1, 1),
    "contains_join": (3, 5),
    "centroid": (1, 0),
    "missed_join": (1, 0),
}
SERVE_ROUND_OPS = sum(f + r for f, r in SERVE_ROUND.values())

# the four join spellings the regex detector misses (all against the
# 25-row boxes); each is the planned contains-join statement re-spelled
MISSED_SPELLINGS = ("comment", "backticks", "paren_on", "cte")

_JOIN_SELECT = "SELECT c.c_custkey AS id_l, b.n_nationkey AS id_r"
_JOIN_ORDER = "ORDER BY id_l, id_r"


def _half(rng: random.Random, lo: int, hi: int) -> float:
    """A half-integer in [lo, hi): never on an integer point coordinate or
    box edge, so strict containment has no boundary ties."""
    return rng.randrange(lo, hi) + 0.5


# Window sizes, distances and k vary little between seeds, so a seed moves
# where an op reads, not how much work it does.

def _range_op(rng: random.Random) -> Op:
    w, h = 50, 36
    x0, y0 = _half(rng, -180, 180 - w), _half(rng, -90, 90 - h)
    x1, y1 = x0 + w, y0 + h
    sql = ("SELECT c_custkey, c_acctbal FROM cust WHERE ST_Contains("
           f"ST_PolygonFromEnvelope({x0}, {y0}, {x1}, {y1}), geo) "
           "ORDER BY c_custkey")
    mirror = (f"SELECT c_custkey, c_acctbal FROM customer WHERE "
              f"{CUST_X} > {x0} AND {CUST_X} < {x1} AND "
              f"{CUST_Y} > {y0} AND {CUST_Y} < {y1} ORDER BY c_custkey")
    return Op("range", READ, [sql], mirror)


def _knn_op(rng: random.Random) -> Op:
    qx = round(rng.uniform(-170.0, 170.0), 3)
    qy = round(rng.uniform(-80.0, 80.0), 3)
    k = rng.randrange(8, 13)
    sql = (f"SELECT s_suppkey, ST_Distance(geo, ST_Point({qx}, {qy})) AS dist "
           f"FROM supp ORDER BY dist, s_suppkey LIMIT {k}")
    d = f"SQRT(({SUPP_X} - {qx}) * ({SUPP_X} - {qx}) + ({SUPP_Y} - {qy}) * ({SUPP_Y} - {qy}))"
    mirror = (f"SELECT s_suppkey, {d} AS dist FROM supplier "
              f"ORDER BY dist, s_suppkey LIMIT {k}")
    return Op("knn", READ, [sql], mirror)


def _dwithin_op(rng: random.Random) -> Op:
    d = 3.0
    lo = rng.randrange(0, N_CUSTOMER - 6000)
    hi = lo + 5999
    sql = ("SELECT c.c_custkey AS id_l, s.s_suppkey AS id_r FROM cust c "
           f"JOIN supp s ON ST_DWithin(c.geo, s.geo, {d}) "
           f"WHERE c.c_custkey BETWEEN {lo} AND {hi} {_JOIN_ORDER}")
    mirror = ("SELECT c_custkey AS id_l, s_suppkey AS id_r FROM customer, supplier "
              f"WHERE ({CUST_X} - {SUPP_X}) * ({CUST_X} - {SUPP_X}) + "
              f"({CUST_Y} - {SUPP_Y}) * ({CUST_Y} - {SUPP_Y}) <= {d * d} "
              f"AND c_custkey BETWEEN {lo} AND {hi} {_JOIN_ORDER}")
    return Op("dwithin", READ, [sql], mirror, spatial_join=True)


def _contains_mirror(lo: int, hi: int) -> str:
    return ("SELECT c_custkey AS id_l, n_nationkey AS id_r FROM customer, nation "
            f"WHERE {CUST_X} > {BOX_XMIN} AND {CUST_X} < {BOX_XMAX} "
            f"AND {CUST_Y} > -90.0 AND {CUST_Y} < 90.0 "
            f"AND c_custkey BETWEEN {lo} AND {hi} {_JOIN_ORDER}")


def _key_window(rng: random.Random, width: int) -> Tuple[int, int]:
    lo = rng.randrange(0, N_CUSTOMER - width)
    return lo, lo + width - 1


def _contains_op(rng: random.Random) -> Op:
    lo, hi = _key_window(rng, 3000)
    sql = (f"{_JOIN_SELECT} FROM cust c JOIN boxes b "
           f"ON ST_Contains(b.geo, c.geo) "
           f"WHERE c.c_custkey BETWEEN {lo} AND {hi} {_JOIN_ORDER}")
    return Op("contains_join", READ, [sql], _contains_mirror(lo, hi),
              spatial_join=True)


def missed_join_sql(spelling: str, lo: int, hi: int) -> str:
    """The contains-join statement in one of the spellings the regex
    detector misses; rows are identical to the planned spelling."""
    where = f"WHERE c.c_custkey BETWEEN {lo} AND {hi}"
    on = "ON ST_Contains(b.geo, c.geo)"
    if spelling == "comment":
        return (f"{_JOIN_SELECT} FROM cust c /* nation boxes */ JOIN boxes b "
                f"{on} {where} {_JOIN_ORDER}")
    if spelling == "backticks":
        return (f"{_JOIN_SELECT} FROM `cust` c JOIN `boxes` b "
                f"{on} {where} {_JOIN_ORDER}")
    if spelling == "paren_on":
        return (f"{_JOIN_SELECT} FROM cust c JOIN boxes b "
                f"ON (ST_Contains(b.geo, c.geo)) {where} {_JOIN_ORDER}")
    if spelling == "cte":
        return (f"WITH c AS (SELECT * FROM cust WHERE c_custkey BETWEEN {lo} "
                f"AND {hi}) {_JOIN_SELECT} FROM c JOIN boxes b {on} "
                f"{_JOIN_ORDER}")
    raise ValueError(f"unknown spelling {spelling!r}")


def _missed_op(rng: random.Random, spelling: Optional[str] = None) -> Op:
    spelling = spelling or rng.choice(MISSED_SPELLINGS)
    lo, hi = _key_window(rng, 300)
    return Op("missed_join", READ, [missed_join_sql(spelling, lo, hi)],
              _contains_mirror(lo, hi), spatial_join=True, detector_miss=True)


def _centroid_op(rng: random.Random) -> Op:
    seg = rng.choice(SEGMENTS)
    bal = rng.randrange(1000, 1500)
    sql = ("SELECT c_nationkey, ST_X(ST_Centroid_Aggr(geo)) AS cx, "
           "ST_Y(ST_Centroid_Aggr(geo)) AS cy FROM cust "
           f"WHERE c_mktsegment = '{seg}' AND c_acctbal > {bal} "
           "GROUP BY c_nationkey ORDER BY c_nationkey")
    mirror = (f"SELECT c_nationkey, AVG({CUST_X}) AS cx, AVG({CUST_Y}) AS cy "
              f"FROM customer WHERE c_mktsegment = '{seg}' AND c_acctbal > {bal} "
              "GROUP BY c_nationkey ORDER BY c_nationkey")
    return Op("centroid", READ, [sql], mirror)


_SERVE_MAKERS = {"range": _range_op, "knn": _knn_op, "dwithin": _dwithin_op,
                 "contains_join": _contains_op, "centroid": _centroid_op,
                 "missed_join": _missed_op}


def spatial_serve_ops(seed: int, rounds: int) -> List[Op]:
    """``rounds`` rounds of SERVE_ROUND, each in a seed-permuted order.  In
    each round a class's fresh statements come before its repeats; a
    repeat re-issues, verbatim, a fresh statement of the same class from
    anywhere earlier in the sequence.  The missed spellings take turns in
    a seed-permuted order, so every four rounds use each once."""
    rng = random.Random(seed)
    spellings = list(MISSED_SPELLINGS)
    rng.shuffle(spellings)
    issued: Dict[str, List[Op]] = {c: [] for c in SERVE_ROUND}
    ops: List[Op] = []
    for rnd in range(rounds):
        slots = [c for c, (f, r) in SERVE_ROUND.items() for _ in range(f + r)]
        rng.shuffle(slots)
        seen = {c: 0 for c in SERVE_ROUND}
        for c in slots:
            fresh_n = SERVE_ROUND[c][0]
            if c == "missed_join":
                op = _missed_op(rng, spellings[rnd % len(spellings)])
                issued[c].append(op)
            elif seen[c] < fresh_n:
                op = _SERVE_MAKERS[c](rng)
                issued[c].append(op)
            else:
                src = rng.choice(issued[c])
                op = Op(**{**src.__dict__, "fresh": False})
            seen[c] += 1
            ops.append(op)
    return ops


def serve_rotations(seed: int, n: int) -> List[List[Op]]:
    """Warm-up units: ``n`` rotations of one fresh statement per class."""
    rng = random.Random(seed)
    return [[_SERVE_MAKERS[c](rng) for c in SERVE_ROUND] for _ in range(n)]


# ---------------------------------------------------------------------------
# lakehouse_dml
# ---------------------------------------------------------------------------

LAKE_TABLE = "lake.pts"      # the timed phase's table
WARM_TABLE = "lake.warm"     # warm-up's own table, so the timed phase
                             # always starts from the same table state
LAKE_BASE_KEYS = 1500       # customer keys [0, 1500) seed the table
LAKE_INSERT_BATCH = 100
RANGE_READS_PER_CYCLE = 8
JOIN_READS_PER_CYCLE = 1

_LAKE_SELECT = (f"SELECT c_custkey AS k, geo_env.xmin AS x, geo_env.ymin AS y, "
                f"c_acctbal AS bal, geo FROM cust")
_LAKE_MIRROR_SELECT = (f"SELECT c_custkey AS k, {CUST_X} AS x, {CUST_Y} AS y, "
                       f"c_acctbal AS bal FROM customer")


def lakehouse_seed_ops(table: str = LAKE_TABLE) -> Tuple[List[str], List[str]]:
    """(engine statements, DuckDB replay) that create and fill ``table``."""
    engine = [
        f"CREATE TABLE {table} (k BIGINT, x DOUBLE, y DOUBLE, "
        "bal DOUBLE, geo BINARY) USING ICEBERG",
        f"INSERT INTO {table} {_LAKE_SELECT} "
        f"WHERE c_custkey < {LAKE_BASE_KEYS}",
    ]
    replay = [
        "CREATE TABLE pts (k BIGINT, x DOUBLE, y DOUBLE, bal DOUBLE)",
        f"INSERT INTO pts {_LAKE_MIRROR_SELECT} "
        f"WHERE c_custkey < {LAKE_BASE_KEYS}",
    ]
    return engine, replay


def _lake_window(rng: random.Random, w: int, h: int) -> Tuple[float, ...]:
    x0, y0 = _half(rng, -180, 180 - w), _half(rng, -90, 90 - h)
    return x0, y0, x0 + w, y0 + h


def _lake_cycle(rng: random.Random, keys: List[int], table: str,
                range_reads: int) -> List[Op]:
    ops: List[Op] = []
    # INSERT a batch of keys never inserted before
    lo = keys.pop()
    hi = lo + LAKE_INSERT_BATCH
    ops.append(Op(
        "insert", WRITE,
        [f"INSERT INTO {table} {_LAKE_SELECT} "
         f"WHERE c_custkey >= {lo} AND c_custkey < {hi}"],
        replay=[f"INSERT INTO pts {_LAKE_MIRROR_SELECT} "
                f"WHERE c_custkey >= {lo} AND c_custkey < {hi}"]))
    # spatial UPDATE (WKB predicate)
    x0, y0, x1, y1 = _lake_window(rng, 25, 25)
    delta = rng.randrange(1, 9)
    ops.append(Op(
        "update", WRITE,
        [f"UPDATE {table} SET bal = bal + {delta}.0 WHERE ST_Contains("
         f"ST_PolygonFromEnvelope({x0}, {y0}, {x1}, {y1}), geo)"],
        replay=[f"UPDATE pts SET bal = bal + {delta}.0 WHERE x > {x0} AND "
                f"x < {x1} AND y > {y0} AND y < {y1}"]))
    # DELETE a residue class of keys
    m, r = rng.randrange(150, 250), rng.randrange(0, 150)
    ops.append(Op(
        "delete", WRITE, [f"DELETE FROM {table} WHERE k % {m} = {r}"],
        replay=[f"DELETE FROM pts WHERE k % {m} = {r}"]))
    # MERGE INTO from a source of existing and new keys
    mm, mr = rng.randrange(90, 130), rng.randrange(0, 90)
    bump = rng.randrange(1, 50)
    src_where = (f"c_custkey % {mm} = {mr} AND c_custkey < "
                 f"{LAKE_BASE_KEYS + 2000}")
    ops.append(Op(
        "merge", WRITE,
        [f"CREATE OR REPLACE TEMP VIEW lake_src AS SELECT c_custkey AS k, "
         f"geo_env.xmin AS x, geo_env.ymin AS y, c_acctbal + {bump}.0 AS bal, "
         f"geo FROM cust WHERE {src_where}",
         f"MERGE INTO {table} t USING lake_src s ON t.k = s.k "
         "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"],
        replay=[
            f"CREATE OR REPLACE TEMP VIEW lake_src AS SELECT c_custkey AS k, "
            f"{CUST_X} AS x, {CUST_Y} AS y, c_acctbal + {bump}.0 AS bal "
            f"FROM customer WHERE {src_where}",
            "UPDATE pts SET x = s.x, y = s.y, bal = s.bal FROM lake_src s "
            "WHERE pts.k = s.k",
            "INSERT INTO pts SELECT * FROM lake_src WHERE k NOT IN "
            "(SELECT k FROM pts)"]))
    # reads of the table just written
    for _ in range(range_reads):
        x0, y0, x1, y1 = _lake_window(rng, 50, 40)
        ops.append(Op(
            "lake_range", READ,
            [f"SELECT k, x, y, bal FROM {table} WHERE ST_Contains("
             f"ST_PolygonFromEnvelope({x0}, {y0}, {x1}, {y1}), geo)"],
            mirror=(f"SELECT k, x, y, bal FROM pts WHERE x > {x0} AND "
                    f"x < {x1} AND y > {y0} AND y < {y1}")))
    for _ in range(JOIN_READS_PER_CYCLE):
        ops.append(Op(
            "lake_join", READ,
            [f"SELECT p.k AS id_l, b.n_nationkey AS id_r FROM {table} p "
             "JOIN boxes b ON ST_Contains(b.geo, p.geo)"],
            mirror=("SELECT k AS id_l, n_nationkey AS id_r FROM pts, nation "
                    f"WHERE x > {BOX_XMIN} AND x < {BOX_XMAX} AND y > -90.0 "
                    "AND y < 90.0"),
            spatial_join=True))
    # maintenance ends every cycle, so live files cycle, not grow
    ops.append(Op("rewrite", WRITE, [
        f"CALL lake.system.rewrite_data_files(table => '{table}')"]))
    ops.append(Op("expire", WRITE, [
        f"CALL lake.system.expire_snapshots(table => '{table}', "
        "retain_last => 2)"]))
    return ops


def lakehouse_ops(seed: int, cycles: int, table: str = LAKE_TABLE,
                  light: int = 0) -> List[List[Op]]:
    """``cycles`` cycles (one op list each) of INSERT, spatial UPDATE,
    DELETE, MERGE, then range and spatial-join reads of the table, then
    rewrite_data_files and expire_snapshots.  The first ``light`` cycles
    run one range read instead of RANGE_READS_PER_CYCLE."""
    rng = random.Random(seed)
    starts = list(range(LAKE_BASE_KEYS, N_CUSTOMER - LAKE_INSERT_BATCH + 1,
                        LAKE_INSERT_BATCH))
    rng.shuffle(starts)
    if cycles > len(starts):
        raise ValueError(f"at most {len(starts)} cycles have fresh keys")
    return [_lake_cycle(rng, starts, table,
                        1 if i < light else RANGE_READS_PER_CYCLE)
            for i in range(cycles)]


def class_counts(ops: List[Op]) -> Dict[str, int]:
    out: Dict[str, int] = {}
    for op in ops:
        out[op.cls] = out.get(op.cls, 0) + 1
    return out
