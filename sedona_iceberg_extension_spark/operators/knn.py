"""K-nearest-neighbour join over point columns.

Not in the reference's own surface (Sedona 1.4 exposes KNN through RDD APIs,
not the SQL extension this reference wires up), but part of the engine's
similarity toolkit alongside the embedding ANN operators (SURVEY.md §2 Tier E).

Strategy: native distance computation + windowed top-k.

- **small query side** → broadcast cross join (BroadcastNestedLoopJoin) with
  native ``(dx²+dy²)`` ordering — no Python in the plan;
- **large query side** → grid candidate equi-join with adaptive radius
  doubling: round ``i`` joins each unsatisfied query against data points in
  its ≤9 neighbouring cells of size ``r``; a query with ≥k candidates within
  ``r`` is exactly answered (its k nearest must all lie within ``r``), the
  rest re-run at ``4r``.  Every round is a cell equi-join — never a cross
  join — and the straggler set shrinks geometrically, so at 100 TB the
  shuffle is bounded by ~9 cell copies per query row.
"""

from __future__ import annotations

import math
from typing import Optional, Tuple

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, functions as F

from ..lineage import truncate_lineage
from pyspark.sql.window import Window


def knn_join(
    queries: DataFrame,
    data: DataFrame,
    k: int,
    q_xy: Tuple[str, str] = ("x", "y"),
    d_xy: Tuple[str, str] = ("x", "y"),
    query_id: str = "id",
    broadcast_threshold_rows: int = 1_000_000,
    initial_radius: Optional[float] = None,
    max_rounds: int = 6,
    tie_break: Optional[str] = None,
) -> DataFrame:
    """For each query point, the k nearest data points (ties broken
    deterministically by distance, then data x, y, then the optional
    ``tie_break`` data column — pass a UNIQUE id there when data points
    can be co-located, otherwise equal-distance ranks are partition-order
    dependent).  Output: the data columns plus ``query_id``, ``distance``,
    ``_rank``."""
    qx, qy = q_xy
    q = queries.select(F.col(query_id).alias("_qid"),
                       F.col(qx).alias("_qx"), F.col(qy).alias("_qy"))
    # plan statistics first (no job); probe only when stats are unavailable.
    # The byte cap scales with the caller's row threshold so an explicit
    # low threshold (forcing the grid path) is still honored.
    q_small = None
    bytes_cap = 64 * 1024 * 1024 * (broadcast_threshold_rows / 1_000_000)
    try:
        size = int(q._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        q_small = size <= bytes_cap
    except Py4JJavaError:
        # a plan whose statistics cannot be computed: fall to the probe
        pass
    if q_small is None:
        try:
            q_small = q.limit(broadcast_threshold_rows).count() < broadcast_threshold_rows
        except Py4JJavaError:
            # the probe job failed; grid is correct for any size (never
            # broadcast an input of unknown size), and the join itself
            # surfaces the input's failure when it runs
            q_small = False
    if q_small:
        return _knn_broadcast(q, data, k, d_xy, tie_break)
    return _knn_grid(q, data, k, d_xy, initial_radius, max_rounds, tie_break)


def _tie_order(dxc, dyc, tie_break):
    order = [F.col("_dist").asc(), dxc.asc(), dyc.asc()]
    if tie_break:
        order.append(F.col(tie_break).asc())
    return order


def _knn_broadcast(q: DataFrame, data: DataFrame, k: int,
                   d_xy: Tuple[str, str],
                   tie_break: Optional[str] = None) -> DataFrame:
    dx, dy = d_xy
    dxc, dyc = F.col(dx), F.col(dy)
    dist2 = (dxc - F.col("_qx")) ** 2 + (dyc - F.col("_qy")) ** 2
    joined = data.join(F.broadcast(q), how="cross") \
        .withColumn("_dist", F.sqrt(dist2))
    w = Window.partitionBy("_qid").orderBy(*_tie_order(dxc, dyc, tie_break))
    return (
        joined.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= k)
        .withColumnRenamed("_qid", "query_id")
        .withColumnRenamed("_dist", "distance")
        .drop("_qx", "_qy")
    )


def _knn_grid(q: DataFrame, data: DataFrame, k: int, d_xy: Tuple[str, str],
              initial_radius: Optional[float], max_rounds: int,
              tie_break: Optional[str] = None) -> DataFrame:
    """Adaptive-radius grid KNN: correctness rests on the circle argument —
    if ≥k data points lie within distance r of a query, the query's true k
    nearest all lie within r, and the grid join returns *every* point within
    r, so the windowed top-k over the round's candidates is exact."""
    dx, dy = d_xy
    st = data.select(
        F.count(F.lit(1)).alias("n"),
        F.min(dx).alias("x0"), F.max(dx).alias("x1"),
        F.min(dy).alias("y0"), F.max(dy).alias("y1"),
    ).first()
    qst = q.select(F.min("_qx").alias("x0"), F.max("_qx").alias("x1"),
                   F.min("_qy").alias("y0"), F.max("_qy").alias("y1")).first()
    n = max(st["n"] or 1, 1)
    w_ext = max((st["x1"] or 0.0) - (st["x0"] or 0.0), 1e-9)
    h_ext = max((st["y1"] or 0.0) - (st["y0"] or 0.0), 1e-9)
    # the final full-coverage radius must span the COMBINED extent of
    # queries and data — a query outside the data's bounding box can be
    # farther from its neighbours than the data diagonal
    cw = max(st["x1"] or 0.0, qst["x1"] or 0.0) - min(st["x0"] or 0.0, qst["x0"] or 0.0)
    ch = max(st["y1"] or 0.0, qst["y1"] or 0.0) - min(st["y0"] or 0.0, qst["y0"] or 0.0)
    diag = math.hypot(max(cw, 1e-9), max(ch, 1e-9))
    if initial_radius is not None:
        r = float(initial_radius)
    else:
        # expected ≥4k points in the r-circle at uniform density
        r = math.sqrt(4.0 * k * w_ext * h_ext / (math.pi * n))
    r = min(max(r, diag / 1e6), diag)

    dxc, dyc = F.col(dx), F.col(dy)
    results = []
    rem = q
    for rnd in range(max_rounds):
        last = rnd == max_rounds - 1 or r >= diag
        if last:
            r = diag  # full coverage: every query reaches every data cell
        s = r
        qc = rem.withColumn("_cx", F.explode(F.sequence(
            F.floor((F.col("_qx") - r) / s).cast("long"),
            F.floor((F.col("_qx") + r) / s).cast("long")))) \
            .withColumn("_cy", F.explode(F.sequence(
                F.floor((F.col("_qy") - r) / s).cast("long"),
                F.floor((F.col("_qy") + r) / s).cast("long"))))
        dc = data.withColumn("_cx", F.floor(dxc / s).cast("long")) \
                 .withColumn("_cy", F.floor(dyc / s).cast("long"))
        # data point lives in exactly ONE cell → each (query, point) pair
        # appears at most once; no dedup needed
        cand = (
            dc.join(qc, ["_cx", "_cy"])
            .withColumn("_dist", F.sqrt((dxc - F.col("_qx")) ** 2
                                        + (dyc - F.col("_qy")) ** 2))
        )
        if not last:
            cand = cand.filter(F.col("_dist") <= r)
        wq = Window.partitionBy("_qid")
        w = wq.orderBy(*_tie_order(dxc, dyc, tie_break))
        scored = cand.withColumn("_cnt", F.count(F.lit(1)).over(wq)) \
                     .withColumn("_rank", F.row_number().over(w))
        round_res = scored.filter(
            (F.col("_rank") <= k) if last
            else ((F.col("_cnt") >= k) & (F.col("_rank") <= k)))
        if not last:
            # materialize each round's answered set ONCE (lazy — rides the
            # emptiness probe below): round_res is otherwise referenced by
            # THREE consumers (the probe via rem, the next round's
            # anti-join, the final union), each re-executing this round's
            # full grid join — and since rem_r embeds rounds 1..r, the
            # re-execution compounds quadratically across rounds (the
            # round-12 iterative-recompute class; see
            # pipeline/components.py).  The last round has a single
            # consumer and needs no barrier.
            round_res = round_res.transform(truncate_lineage)
        results.append(round_res.drop("_cx", "_cy", "_cnt"))
        if last:
            break
        rem = rem.join(round_res.select("_qid").distinct(), "_qid", "left_anti") \
            .transform(truncate_lineage)
        if rem.limit(1).count() == 0:
            break
        r = min(r * 4.0, diag)

    out = results[0]
    for extra in results[1:]:
        out = out.unionByName(extra)
    return (
        out.withColumnRenamed("_qid", "query_id")
        .withColumnRenamed("_dist", "distance")
        .drop("_qx", "_qy")
    )
