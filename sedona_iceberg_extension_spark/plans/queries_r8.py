"""Round-8 operator inventory.  Each declared query has an exact DuckDB
oracle (FIXTURES.md conventions: total ORDER BY, ROUND on float outputs,
identical aliases both sides, BIGINT casts so DuckDB never widens to
HUGEINT, ``+ 0.0`` on sign-risky rounded floats).

Round-8 theme: the warehouse / training-pipeline operators a user of the
reference stack would reach for next —

- scd2_customer_history     — slowly-changing-dimension type-2 build from an
                              event stream: collapse same-value runs
                              (gaps-and-islands) then derive
                              valid_from/valid_to with a lead window
- source_capped_sample      — per-group deterministic cap (at most N docs per
                              source by portable-hash order) — the standard
                              anti-domination step before corpus mixing
- order_interval_overlap    — interval-overlap self-join (concurrent order
                              fulfillment windows per customer) as a
                              co-partitioned equi-join, never a cross join
- attribution_last_touch    — last-touch conversion attribution via an
                              as-of carry window (last click channel within a
                              7-day lookback), the marketing-funnel dual of
                              the as-of join
- events_psi_drift          — population-stability-index drift of the event
                              value distribution vs a baseline week, per bin
                              (the standard production data-drift monitor)
- lineitem_robust_stats     — winsorized mean/stddev + MAD outlier counts per
                              return flag (robust statistics pass)
- kmv_intersection_estimate — theta-sketch-style set intersection from two
                              mergeable KMV bottom-k sketches
- brand_bfs_distance        — multi-source BFS shortest hops over the brand
                              co-purchase graph, fixed 4 rounds
- dsir_importance_weights   — DSIR-style importance weights: per-doc unigram
                              log-likelihood ratio target-vs-corpus
- semdedup_prune            — SemDeDup: k-means-cell-bounded pairwise cosine
                              pruning of near-duplicate embeddings
- embedding_pca_power       — distributed PCA: one sufficient-statistics
                              aggregation for the covariance, fixed-order
                              power iteration for the top eigenvector

Reference parity note: the reference (`/root/reference/`) delegates all
relational breadth to Spark (SURVEY.md §2 Tier D); these queries are the
engine's beyond-reference analytics tier, built on the same native-Catalyst
conventions as the spatial operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..lineage import truncate_lineage
from pyspark.sql.window import Window

from ..pipeline.text import portable_hash64
from ..sources import load_table

R8_QUERIES: dict = {}


# --- scd2_customer_history --------------------------------------------------

def q_scd2_customer_history(spark, sf_dir):
    """SCD type-2 dimension build from an event stream: signup events carry a
    'tier' attribute; collapse consecutive same-tier rows per user
    (gaps-and-islands via lag), then a lead window yields
    valid_from/valid_to half-open intervals and the is_current flag.

    Scale shape: two windows over the SAME (user_id, ts) partitioning — one
    exchange + one sort feed both (Spark reuses the sort order); state per
    user is bounded by that user's change count, never the raw event count.
    """
    ev = (load_table(spark, sf_dir, "events")
          .filter((F.col("event_type") == "signup") & (F.col("user_id") < 150)))
    t = ev.select(
        "user_id", "ts", "event_id",
        F.least(F.lit(3), F.floor(F.col("value") / 125)).cast("int").alias("tier"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (t.withColumn("prev", F.lag("tier").over(w))
           .filter(F.col("prev").isNull() | (F.col("prev") != F.col("tier"))))
    out = (chg.withColumn("vto", F.lead("ts").over(w))
           .select("user_id", "tier",
                   F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("valid_from"),
                   F.coalesce(F.date_format("vto", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
                              F.lit("current")).alias("valid_to"),
                   F.when(F.col("vto").isNull(), 1).otherwise(0)
                    .cast("int").alias("is_current")))
    return out.orderBy("user_id", "valid_from", "tier")


_QSCD2_SQL = """
WITH s AS (
  SELECT user_id, ts, event_id,
         CAST(LEAST(3, FLOOR(value / 125)) AS INT) AS tier
  FROM events WHERE event_type = 'signup' AND user_id < 150
), c AS (
  SELECT user_id, ts, event_id, tier,
         lag(tier) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM s
), chg AS (
  SELECT user_id, tier, ts, event_id FROM c WHERE prev IS NULL OR prev <> tier
), v AS (
  SELECT user_id, tier, ts,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vto
  FROM chg
)
SELECT user_id, tier,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
       COALESCE(strftime(vto, '%Y-%m-%d %H:%M:%S.%f'), 'current') AS valid_to,
       CAST(CASE WHEN vto IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
FROM v
ORDER BY user_id, valid_from, tier
"""

R8_QUERIES["scd2_customer_history"] = (q_scd2_customer_history, _QSCD2_SQL, False)


# --- source_capped_sample ---------------------------------------------------

def q_source_capped_sample(spark, sf_dir):
    """Per-source deterministic cap: keep at most 20 docs per source, chosen
    by portable-hash order (reproducible on any engine, stable under
    re-partitioning) — the anti-domination step before corpus mixing.

    Scale shape: one source-keyed exchange + sort; rank is windowed so the
    cap never collects a group; at 100 TB the same plan holds with
    per-source skew handled by the window's spill path (no group
    materialization).
    """
    docs = load_table(spark, sf_dir, "documents")
    h = portable_hash64(F.col("doc_id").cast("string"), "cap")
    w = Window.partitionBy("source").orderBy(h, F.col("doc_id"))
    return (docs.select("source", "doc_id", F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") <= 20)
            .orderBy("source", "rn"))


_QCAP_SQL = """
WITH h AS (
  SELECT source, doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#cap'), 1, 15))::BIGINT AS hv
  FROM documents
), r AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rn
  FROM h
)
SELECT source, doc_id, CAST(rn AS INT) AS rn
FROM r WHERE rn <= 20
ORDER BY source, rn
"""

R8_QUERIES["source_capped_sample"] = (q_source_capped_sample, _QCAP_SQL, False)


# --- order_interval_overlap -------------------------------------------------

def q_order_interval_overlap(spark, sf_dir):
    """Interval-overlap self-join: count pairs of orders per customer whose
    fulfillment windows [orderdate, max shipdate] overlap — the range-join
    shape (reservation conflicts, session concurrency) expressed as a
    co-partitioned equi-join on the customer key with the overlap predicate
    as a residual filter.

    Scale shape: ONE shuffle on o_custkey co-partitions both sides (AQE
    handles skew); pair generation is bounded by per-customer order counts,
    never a cross join.  At 100 TB, add a coarse time-bucket to the join key
    so a whale customer's pairs split across buckets.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate")
    li = (load_table(spark, sf_dir, "lineitem")
          .groupBy("l_orderkey").agg(F.max("l_shipdate").alias("e")))
    # sp feeds the self-join (a/b — one execution via ReusedExchange)
    # AND the per-customer totals, so the orders⋈lineitem join executes
    # twice.  Deliberately left redundant: the r13 materialization A/B
    # measured cache() +19% at sf0.1 (parallel redundant stages beat a
    # serialized materialize-then-read DAG on this host; see
    # q_lineitem_robust_stats for the full numbers).
    sp = (orders.join(li, orders.o_orderkey == li.l_orderkey)
          .select("o_custkey", "o_orderkey",
                  F.col("o_orderdate").alias("s"), "e"))
    a, b = sp.alias("a"), sp.alias("b")
    pairs = a.join(
        b, (F.col("a.o_custkey") == F.col("b.o_custkey"))
           & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
           & (F.col("a.s") <= F.col("b.e")) & (F.col("b.s") <= F.col("a.e")))
    cnt = (pairs.groupBy(F.col("a.o_custkey").alias("c_custkey"))
           .agg(F.count(F.lit(1)).alias("n_overlap_pairs")))
    tot = (sp.groupBy(F.col("o_custkey").alias("c_custkey"))
           .agg(F.count(F.lit(1)).alias("n_orders")))
    return (tot.join(cnt, "c_custkey", "left")
            .select("c_custkey", "n_orders",
                    F.coalesce("n_overlap_pairs", F.lit(0))
                     .cast("long").alias("n_overlap_pairs"))
            .filter(F.col("c_custkey") <= 500)
            .orderBy("c_custkey"))


_QOVL_SQL = """
WITH sp AS (
  SELECT o.o_custkey, o.o_orderkey, o.o_orderdate AS s, l.e
  FROM orders o
  JOIN (SELECT l_orderkey, MAX(l_shipdate) AS e
        FROM lineitem GROUP BY l_orderkey) l
    ON o.o_orderkey = l.l_orderkey
), pairs AS (
  SELECT a.o_custkey, CAST(COUNT(*) AS BIGINT) AS n_overlap_pairs
  FROM sp a JOIN sp b
    ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
   AND a.s <= b.e AND b.s <= a.e
  GROUP BY a.o_custkey
), tot AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM sp GROUP BY o_custkey
)
SELECT t.o_custkey AS c_custkey, t.n_orders,
       COALESCE(p.n_overlap_pairs, 0) AS n_overlap_pairs
FROM tot t LEFT JOIN pairs p ON p.o_custkey = t.o_custkey
WHERE t.o_custkey <= 500
ORDER BY c_custkey
"""

R8_QUERIES["order_interval_overlap"] = (q_order_interval_overlap, _QOVL_SQL, False)


# --- attribution_last_touch -------------------------------------------------

def q_attribution_last_touch(spark, sf_dir):
    """Last-touch conversion attribution: each purchase is credited to the
    channel of the user's most recent click within a 7-day lookback (else
    'none') — the as-of-carry window pattern (last non-null value over an
    event-time ordering) that generalizes the engine's as-of join.

    Scale shape: one user-keyed exchange + sort feeds both carry windows;
    state per row is one (channel, ts) pair, never a collected history.
    Clicks at the purchase's exact timestamp count (kind orders clicks
    before purchases inside a tie).
    """
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_type").isin("click", "purchase")))
    t = ev.select(
        "user_id", "ts", "event_id", "value",
        F.concat(F.lit("ch"),
                 (F.get_json_object("props", "$.k").cast("int") % 5)
                 .cast("string")).alias("channel"),
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("kind"))
    w = (Window.partitionBy("user_id").orderBy("ts", "kind", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    t2 = (t.withColumn(
              "lc_ch", F.last(F.when(F.col("kind") == 0, F.col("channel")),
                              ignorenulls=True).over(w))
          .withColumn(
              "lc_ts", F.last(F.when(F.col("kind") == 0, F.col("ts")),
                              ignorenulls=True).over(w)))
    conv = t2.filter(F.col("kind") == 1).select(
        F.when(F.col("lc_ts").isNotNull()
               & (F.col("lc_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")),
               F.col("lc_ch")).otherwise(F.lit("none")).alias("channel"),
        "value")
    return (conv.groupBy("channel")
            .agg(F.count(F.lit(1)).alias("n_conversions"),
                 F.round(F.sum("value"), 6).alias("attributed_value"))
            .orderBy("channel"))


_QATTR_SQL = """
WITH t AS (
  SELECT user_id, ts, event_id, value,
         'ch' || CAST(CAST(json_extract_string(props, '$.k') AS INT) % 5
                      AS VARCHAR) AS channel,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS kind
  FROM events WHERE event_type IN ('click', 'purchase')
), t2 AS (
  SELECT user_id, ts, value, kind,
         last_value(CASE WHEN kind = 0 THEN channel END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, kind, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lc_ch,
         last_value(CASE WHEN kind = 0 THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, kind, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lc_ts
  FROM t
)
SELECT CASE WHEN lc_ts IS NOT NULL AND lc_ts >= ts - INTERVAL 7 DAY
            THEN lc_ch ELSE 'none' END AS channel,
       CAST(COUNT(*) AS BIGINT) AS n_conversions,
       ROUND(SUM(value), 6) + 0.0 AS attributed_value
FROM t2 WHERE kind = 1
GROUP BY 1
ORDER BY channel
"""

R8_QUERIES["attribution_last_touch"] = (q_attribution_last_touch, _QATTR_SQL, False)


# --- events_psi_drift -------------------------------------------------------

def q_events_psi_drift(spark, sf_dir):
    """Population-stability-index drift monitor: decile bins of the event
    value distribution are FROZEN on a baseline window (first two weeks),
    then baseline-vs-current proportions per bin yield the per-bin PSI
    contribution — the standard production drift check for features and
    label distributions, reported per event_type and bin (the sum over
    bins is the headline PSI; per-bin rows keep the output
    summation-order-free and more diagnostic).

    Scale shape: the cut table is 5 rows x 9 doubles (broadcast); binning
    is a fixed-order chain of comparisons (native, no UDF); ONE pass over
    events feeds both periods' counts via conditional aggregation."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    split = F.lit("2024-01-15").cast("timestamp")
    base = ev.filter(F.col("ts") < split)
    qs = ",".join(str(i / 10) for i in range(1, 10))
    # cuts are ROUNDed to 6 before any comparison: percentile interpolation
    # can differ between engines in the last ulp ((1-f)*a + f*b vs
    # a + f*(b-a)), and a 2-decimal data value sitting exactly on a decile
    # would flip bins — at the 1e-6 grain both engines agree and no data
    # value can straddle the wobble
    cuts = base.groupBy("event_type").agg(
        F.expr(f"percentile(value, array({qs}))").alias("cs"))
    j = ev.join(F.broadcast(cuts), "event_type")
    b = F.lit(0)
    for k in range(9):
        b = b + (F.col("value") >= F.round(F.get("cs", k), 6)).cast("int")
    cnt = (j.select("event_type", "ts", b.alias("bin"))
           .groupBy("event_type", "bin")
           .agg(F.sum(F.when(F.col("ts") < split, 1).otherwise(0))
                 .cast("long").alias("cb"),
                F.sum(F.when(F.col("ts") >= split, 1).otherwise(0))
                 .cast("long").alias("cc")))
    wt = Window.partitionBy("event_type")
    pb = F.col("cb").cast("double") / F.sum("cb").over(wt).cast("double")
    pc = F.col("cc").cast("double") / F.sum("cc").over(wt).cast("double")
    psi = (F.when((F.col("cb") == 0) | (F.col("cc") == 0), F.lit(0.0))
           .otherwise((pc - pb) * F.log(pc / pb)))
    return (cnt.select("event_type", F.col("bin").cast("int").alias("bin"),
                       "cb", "cc", F.round(psi, 9).alias("psi_term"))
            .orderBy("event_type", "bin"))


_QPSI_SQL = """
WITH base AS (
  SELECT event_type, value FROM events WHERE ts < TIMESTAMP '2024-01-15'
), cuts AS (
  SELECT event_type,
         quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS cs
  FROM base GROUP BY event_type
), b AS (
  SELECT e.event_type,
         CASE WHEN e.ts < TIMESTAMP '2024-01-15' THEN 1 ELSE 0 END AS isb,
         (CASE WHEN e.value >= ROUND(cs[1], 6) THEN 1 ELSE 0 END
        + CASE WHEN e.value >= ROUND(cs[2], 6) THEN 1 ELSE 0 END
        + CASE WHEN e.value >= ROUND(cs[3], 6) THEN 1 ELSE 0 END
        + CASE WHEN e.value >= ROUND(cs[4], 6) THEN 1 ELSE 0 END
        + CASE WHEN e.value >= ROUND(cs[5], 6) THEN 1 ELSE 0 END
        + CASE WHEN e.value >= ROUND(cs[6], 6) THEN 1 ELSE 0 END
        + CASE WHEN e.value >= ROUND(cs[7], 6) THEN 1 ELSE 0 END
        + CASE WHEN e.value >= ROUND(cs[8], 6) THEN 1 ELSE 0 END
        + CASE WHEN e.value >= ROUND(cs[9], 6) THEN 1 ELSE 0 END) AS bin
  FROM events e JOIN cuts c ON c.event_type = e.event_type
), cnt AS (
  SELECT event_type, bin,
         CAST(SUM(isb) AS BIGINT) AS cb,
         CAST(SUM(1 - isb) AS BIGINT) AS cc
  FROM b GROUP BY event_type, bin
), tot AS (
  SELECT event_type, bin, cb, cc,
         CAST(cb AS DOUBLE) / CAST(SUM(cb) OVER (PARTITION BY event_type)
                                   AS DOUBLE) AS pb,
         CAST(cc AS DOUBLE) / CAST(SUM(cc) OVER (PARTITION BY event_type)
                                   AS DOUBLE) AS pc
  FROM cnt
)
SELECT event_type, CAST(bin AS INT) AS bin, cb, cc,
       ROUND(CASE WHEN cb = 0 OR cc = 0 THEN 0.0
                  ELSE (pc - pb) * ln(pc / pb) END, 9) + 0.0 AS psi_term
FROM tot
ORDER BY event_type, bin
"""

R8_QUERIES["events_psi_drift"] = (q_events_psi_drift, _QPSI_SQL, False)


# --- lineitem_robust_stats --------------------------------------------------

def q_lineitem_robust_stats(spark, sf_dir):
    """Robust statistics pass per return flag: p01/p99-winsorized mean and
    stddev of extended price, plus the MAD (median absolute deviation)
    and the count of 3-sigma-equivalent MAD outliers
    (|x - median| > 3 * 1.4826 * MAD) — the outlier-hardened profile that
    complements the moment-based DQ profile.

    Determinism: winsorized sums run on price/1e5 (so partial sums stay
    O(1e3) and cross-engine summation-order wobble lands around 1e-10,
    far below the ROUND 6 output grain — unscaled, sum(x^2) reaches 1e13
    and the wobble would surface in the 5th decimal of the stddev);
    variance is finished from {n, s1, s2} with an identical expression
    shape on both engines.

    Scale shape: three full passes (quantiles; MAD + winsorized sums;
    outlier count), each ONE map-side-combinable aggregation with the
    3-row stat table broadcast back — no sort of the fact table beyond
    percentile's internal partial."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").alias("x"))
    # s1t (3 rows) feeds THREE consumers and s2t (3 rows) TWO, so the
    # percentile subtree executes 5x per query (r13 scan-budget audit:
    # 30000 input records at sf0.001 for the documented 3-pass
    # algorithm).  Deliberately LEFT AS REDUNDANT SUBTREES — the r13
    # materialization A/B measured every sharing mechanism SLOWER at
    # sf0.1 (min-of-6, cache cleared per rep): lazy localCheckpoint
    # 3.26s, cache() 4.62s, collect-to-local-relation 5.03s vs 0.87s
    # as-is, because the redundant copies run as PARALLEL stages of one
    # job while every sharing mechanism serializes the DAG into
    # sequential jobs.  This differs from the r12 iterative class
    # (connected components etc.), where re-execution multiplies per
    # convergence round and blocks the loop's driver jobs — there the
    # checkpoint measured faster.  On a saturated cluster the trade can
    # invert (redundant scans cost real throughput); revisit with
    # cluster-scale evidence, not local walls.
    s1t = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile(x, array(0.01, 0.5, 0.99))").alias("ps"))
    j = li.join(F.broadcast(s1t), "l_returnflag")
    # ps values are ROUNDed to 6 before every downstream use: percentile
    # interpolation can differ between engines in the last ulp, and a raw
    # median/bound feeding clip / dev / threshold comparisons would let
    # that wobble flip a comparison — at the 1e-6 grain both engines agree
    p01 = F.round(F.get("ps", 0), 6)
    med = F.round(F.get("ps", 1), 6)
    p99 = F.round(F.get("ps", 2), 6)
    xs = F.least(F.greatest(F.col("x"), p01), p99) / F.lit(100000.0)
    s2t = (j.select("l_returnflag",
                    F.abs(F.col("x") - med).alias("dev"),
                    xs.alias("xs"))
           .groupBy("l_returnflag")
           .agg(F.expr("percentile(dev, 0.5)").alias("mad"),
                F.sum("xs").alias("s1"),
                F.sum(F.col("xs") * F.col("xs")).alias("s2")))
    j2 = li.join(F.broadcast(s1t), "l_returnflag").join(
        F.broadcast(s2t), "l_returnflag")
    outl = (j2.groupBy("l_returnflag")
            .agg(F.sum((F.abs(F.col("x") - F.round(F.get("ps", 1), 6))
                        > F.lit(3.0) * F.lit(1.4826)
                          * F.round(F.col("mad"), 6))
                       .cast("int")).cast("long").alias("n_outliers")))
    nd = F.col("n").cast("double")
    mean = F.col("s1") / nd * F.lit(100000.0)
    var = ((F.col("s2") - F.col("s1") * F.col("s1") / nd)
           / (nd - F.lit(1.0)) * F.lit(10000000000.0))
    return (s1t.join(s2t, "l_returnflag").join(outl, "l_returnflag")
            .select("l_returnflag", "n",
                    F.round(F.get("ps", 0), 6).alias("p01"),
                    F.round(F.get("ps", 1), 6).alias("p50"),
                    F.round(F.get("ps", 2), 6).alias("p99"),
                    F.round(mean, 6).alias("wins_mean"),
                    F.round(F.sqrt(var), 6).alias("wins_std"),
                    F.round(F.col("mad"), 6).alias("mad"),
                    "n_outliers")
            .orderBy("l_returnflag"))


_QROBUST_SQL = """
WITH li AS (
  SELECT l_returnflag, l_extendedprice AS x FROM lineitem
), s1t AS (
  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
         quantile_cont(x, [0.01, 0.5, 0.99]) AS ps
  FROM li GROUP BY l_returnflag
), s2t AS (
  SELECT li.l_returnflag,
         quantile_cont(abs(x - ROUND(ps[2], 6)), 0.5) AS mad,
         SUM(LEAST(GREATEST(x, ROUND(ps[1], 6)), ROUND(ps[3], 6)) / 100000.0) AS s1,
         SUM((LEAST(GREATEST(x, ROUND(ps[1], 6)), ROUND(ps[3], 6)) / 100000.0)
             * (LEAST(GREATEST(x, ROUND(ps[1], 6)), ROUND(ps[3], 6)) / 100000.0)) AS s2
  FROM li JOIN s1t ON s1t.l_returnflag = li.l_returnflag
  GROUP BY li.l_returnflag
), outl AS (
  SELECT li.l_returnflag,
         CAST(SUM(CASE WHEN abs(x - ROUND(ps[2], 6))
                            > 3.0 * 1.4826 * ROUND(mad, 6)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
  FROM li JOIN s1t ON s1t.l_returnflag = li.l_returnflag
          JOIN s2t ON s2t.l_returnflag = li.l_returnflag
  GROUP BY li.l_returnflag
)
SELECT a.l_returnflag, a.n,
       ROUND(ps[1], 6) + 0.0 AS p01,
       ROUND(ps[2], 6) + 0.0 AS p50,
       ROUND(ps[3], 6) + 0.0 AS p99,
       ROUND(s1 / CAST(n AS DOUBLE) * 100000.0, 6) + 0.0 AS wins_mean,
       ROUND(sqrt((s2 - s1 * s1 / CAST(n AS DOUBLE))
                  / (CAST(n AS DOUBLE) - 1.0) * 10000000000.0), 6) + 0.0
         AS wins_std,
       ROUND(mad, 6) + 0.0 AS mad,
       o.n_outliers
FROM s1t a JOIN s2t b ON b.l_returnflag = a.l_returnflag
JOIN outl o ON o.l_returnflag = a.l_returnflag
ORDER BY a.l_returnflag
"""

R8_QUERIES["lineitem_robust_stats"] = (q_lineitem_robust_stats, _QROBUST_SQL, False)


# --- kmv_intersection_estimate ----------------------------------------------

def q_kmv_intersection_estimate(spark, sf_dir):
    """Theta-sketch-style set intersection from two mergeable KMV bottom-k
    sketches (k = 64, so the sketch math engages on the 150-user sets):
    theta = the union sketch's k-th smallest hash; the intersection
    estimate is |S_A ∩ S_B ∩ {h <= theta}| / k scaled by the union's KMV
    distinct estimate (Beyer et al. 2002 composed with the theta-sketch
    intersection rule) — reported next to the exact overlap.

    Scale shape: each sketch is a TakeOrderedAndProject k-heap (never a
    full sort); all set algebra runs on <=64-row tables."""
    from ..pipeline.sketch import kmv_bottom_k

    ev = load_table(spark, sf_dir, "events")
    k = 64
    hbig = 1152921504606846976.0  # 2^60 hash space
    sa = kmv_bottom_k(ev.filter(F.col("event_type") == "click")
                      .select("user_id").distinct(), "user_id", k=k,
                      seed="kmvi")
    sb = kmv_bottom_k(ev.filter(F.col("event_type") == "view")
                      .select("user_id").distinct(), "user_id", k=k,
                      seed="kmvi")
    un = sa.unionByName(sb).distinct().orderBy("h").limit(k)
    th = un.agg(F.count(F.lit(1)).alias("ku"), F.max("h").alias("theta"))
    inter = (sa.join(sb, "h").crossJoin(F.broadcast(th))
             .filter(F.col("h") <= F.col("theta"))
             .agg(F.count(F.lit(1)).alias("c")))
    clicks = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    views = ev.filter(F.col("event_type") == "view").select("user_id").distinct()
    exact = clicks.join(views, "user_id").agg(
        F.count(F.lit(1)).alias("exact_intersection"))
    u_est = (F.when(F.col("ku") < k, F.col("ku").cast("double"))
             .otherwise(F.lit(float(k - 1)) * F.lit(hbig)
                        / F.col("theta").cast("double")))
    return (th.crossJoin(inter).crossJoin(exact)
            .select(F.lit(k).cast("int").alias("k"),
                    F.col("ku").cast("long").alias("ku"),
                    F.col("c").cast("long").alias("c"),
                    F.round(F.col("c").cast("double")
                            / F.col("ku").cast("double") * u_est, 6)
                     .alias("est_intersection"),
                    F.col("exact_intersection").cast("long")
                     .alias("exact_intersection")))


_QKMVI_SQL = """
WITH sa AS (
  SELECT h FROM (
    SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#kmvi'),
                     1, 15))::BIGINT AS h
    FROM events WHERE event_type = 'click')
  ORDER BY h LIMIT 64
), sb AS (
  SELECT h FROM (
    SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#kmvi'),
                     1, 15))::BIGINT AS h
    FROM events WHERE event_type = 'view')
  ORDER BY h LIMIT 64
), un AS (
  SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb)
  ORDER BY h LIMIT 64
), th AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS ku, MAX(h) AS theta FROM un
), inter AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS c
  FROM sa JOIN sb USING (h) CROSS JOIN th
  WHERE h <= th.theta
), ex AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersection
  FROM (SELECT DISTINCT user_id FROM events WHERE event_type = 'click') a
  JOIN (SELECT DISTINCT user_id FROM events WHERE event_type = 'view') b
    USING (user_id)
)
SELECT CAST(64 AS INT) AS k, th.ku, inter.c,
       ROUND(CAST(inter.c AS DOUBLE) / CAST(th.ku AS DOUBLE)
             * CASE WHEN th.ku < 64 THEN CAST(th.ku AS DOUBLE)
                    ELSE 63.0 * 1152921504606846976.0
                         / CAST(th.theta AS DOUBLE) END, 6) + 0.0
         AS est_intersection,
       ex.exact_intersection
FROM th CROSS JOIN inter CROSS JOIN ex
"""

R8_QUERIES["kmv_intersection_estimate"] = (
    q_kmv_intersection_estimate, _QKMVI_SQL, False)


# --- brand_bfs_distance -----------------------------------------------------

def q_part_bfs_distance(spark, sf_dir):
    """Multi-source BFS (components.bfs_hops) over the part co-purchase
    graph: parts are connected when they appear in the same order at
    least twice (the >=2 support threshold keeps the graph sparse, avg
    degree ~4); seeds are all parts with key <= 20; 4 fixed rounds give
    min-hop distances — the graph-traversal shape next to connected
    components / PageRank (each round one vertex-keyed join + one
    groupBy(min), |V|-row state, lineage truncated per round).  The
    oracle unrolls the same 4 relaxation rounds as chained CTEs."""
    from ..pipeline.components import bfs_hops

    po = (load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_partkey").distinct())
    a = po.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = po.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (a.join(b, "ok").filter(F.col("u") < F.col("v"))
             .groupBy("u", "v").agg(F.count(F.lit(1)).alias("supp"))
             .filter(F.col("supp") >= 2).select("u", "v"))
    verts = (edges.select(F.col("u").alias("id"))
             .unionByName(edges.select(F.col("v").alias("id"))).distinct())
    seeds = verts.filter(F.col("id") <= 20)
    out = bfs_hops(edges, seeds, rounds=4)
    return (out.select(F.col("id").alias("p_partkey"), "dist")
            .orderBy("p_partkey"))


def _bfs_sql(rounds: int = 4) -> str:
    sql = """
WITH po AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM po a JOIN po b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
), sym AS (
  SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e
), d0 AS (
  SELECT DISTINCT u AS id, CAST(0 AS INT) AS dist FROM sym WHERE u <= 20
)"""
    for i in range(rounds):
        sql += f""", d{i + 1} AS (
  SELECT id, CAST(MIN(dist) AS INT) AS dist FROM (
    SELECT id, dist FROM d{i}
    UNION ALL
    SELECT s.v AS id, d.dist + 1 AS dist
    FROM sym s JOIN d{i} d ON d.id = s.u) GROUP BY id
)"""
    sql += f"""
SELECT id AS p_partkey, dist FROM d{rounds} ORDER BY p_partkey
"""
    return sql


R8_QUERIES["part_bfs_distance"] = (q_part_bfs_distance, _bfs_sql(), False)


# --- dsir_importance_weights ------------------------------------------------

def q_dsir_importance_weights(spark, sf_dir):
    """DSIR-style importance weights (Xie et al. 2023): per-document mean
    unigram log-likelihood ratio between a target domain (lang = 'en')
    and the raw corpus, with add-1 smoothing over the corpus vocabulary —
    the data-selection weight used to resample a raw crawl toward a
    target distribution.

    Scale shape: the two probability tables are vocab-keyed aggregations
    with map-side combine; the token stream joins them co-partitioned on
    the token key; corpus scalars (N_target, N_all, V) ride in as a
    broadcast single-row crossJoin — never a driver collect."""
    from ..pipeline import text as T

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "lang",
                      F.explode(T.tokens(F.col("text"))).alias("w"))
    ct = (tok.filter(F.col("lang") == "en")
          .groupBy("w").agg(F.count(F.lit(1)).alias("ct")))
    cs = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cs"))
    scal = (cs.agg(F.sum("cs").cast("long").alias("ns"),
                   F.count(F.lit(1)).cast("long").alias("v"))
            .crossJoin(ct.agg(F.sum("ct").cast("long").alias("nt"))))
    probs = (cs.join(ct, "w", "left")
             .crossJoin(F.broadcast(scal))
             .select("w",
                     (F.log((F.coalesce(F.col("ct"), F.lit(0)) + 1)
                            .cast("double")
                            / (F.col("nt") + F.col("v")).cast("double"))
                      - F.log((F.col("cs") + 1).cast("double")
                              / (F.col("ns") + F.col("v")).cast("double")))
                     .alias("llr")))
    return (tok.join(probs, "w")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.round(F.avg("llr"), 6).alias("avg_llr"))
            .orderBy("doc_id"))


_QDSIR_SQL = """
WITH tok AS (
  SELECT doc_id, lang,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
  FROM documents
), ct AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS ct FROM tok
  WHERE lang = 'en' GROUP BY w
), cs AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cs FROM tok GROUP BY w
), scal AS (
  SELECT CAST(SUM(cs) AS BIGINT) AS ns,
         CAST(COUNT(*) AS BIGINT) AS v,
         (SELECT CAST(SUM(ct) AS BIGINT) FROM ct) AS nt
  FROM cs
), probs AS (
  SELECT w,
         ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE) / CAST(nt + v AS DOUBLE))
       - ln(CAST(cs + 1 AS DOUBLE) / CAST(ns + v AS DOUBLE)) AS llr
  FROM cs LEFT JOIN ct USING (w) CROSS JOIN scal
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(AVG(llr), 6) + 0.0 AS avg_llr
FROM tok JOIN probs USING (w)
GROUP BY doc_id
ORDER BY doc_id
"""

R8_QUERIES["dsir_importance_weights"] = (
    q_dsir_importance_weights, _QDSIR_SQL, False)


# --- semdedup_prune ---------------------------------------------------------

def q_semdedup_prune(spark, sf_dir):
    """SemDeDup pruning (similarity.semdedup_drop): k-means cells bound the
    pairwise cosine check; within a cell, every vector with a near-
    duplicate (cosine >= 0.95) of smaller id is dropped.  Deterministic
    codebook (embeddings of the 8 smallest vec_ids) and planted clones
    (vec_id < 40 perturbed by +0.01 on the first component, the
    embedding_dup_pairs convention) make the check non-vacuous AND the
    cells + drops exactly reproducible in SQL — precision and recall of
    the cell-bounded path are both value-checked against the oracle's
    identical construction."""
    from ..pipeline import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("embedding"))
    pert = base.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(F.array(F.element_at("embedding", 1) + F.lit(0.01)),
                 F.slice("embedding", 2, 63)).alias("embedding"))
    cents = [[float(v) for v in r["embedding"]]
             for r in emb.select("vec_id", "embedding")
                         .orderBy("vec_id").limit(8).collect()]
    out = SIM.semdedup_drop(base.unionAll(pert), "vec_id", "embedding",
                            cents, threshold=0.95)
    return (out.select(F.col("id").alias("vec_id"),
                       F.col("cell").cast("int").alias("cell"),
                       "dup_of", F.round("cosine", 6).alias("cosine"))
            .orderBy("vec_id"))


_QSEMDD_SQL = """
WITH basev AS (
  SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
), pert AS (
  SELECT vec_id + 1000000 AS vec_id,
         list_prepend(embedding[1] + 0.01, embedding[2:]) AS embedding
  FROM basev WHERE vec_id < 40
), allv AS (
  SELECT * FROM basev UNION ALL SELECT * FROM pert
), cents AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         embedding::DOUBLE[] AS cvec
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)
), d2 AS (
  SELECT v.vec_id, c.cell,
         list_sum(list_transform(range(1, 65),
           i -> (v.embedding[i] - c.cvec[i])
              * (v.embedding[i] - c.cvec[i]))) AS d2
  FROM allv v CROSS JOIN cents c
), assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC)
             AS rn
    FROM d2) WHERE rn = 1
), pairs AS (
  SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
         list_cosine_similarity(va.embedding, vb.embedding) AS cosine
  FROM assign a
  JOIN assign b ON b.cell = a.cell AND a.vec_id < b.vec_id
  JOIN allv va ON va.vec_id = a.vec_id
  JOIN allv vb ON vb.vec_id = b.vec_id
  WHERE list_cosine_similarity(va.embedding, vb.embedding) >= 0.95
)
SELECT id_b AS vec_id, CAST(cell AS INT) AS cell,
       MIN(id_a) AS dup_of, ROUND(arg_min(cosine, id_a), 6) AS cosine
FROM pairs
GROUP BY id_b, cell
ORDER BY vec_id
"""

R8_QUERIES["semdedup_prune"] = (q_semdedup_prune, _QSEMDD_SQL, False)


# --- embedding_pca_power ----------------------------------------------------

def q_embedding_pca_power(spark, sf_dir):
    """Distributed PCA on the first 8 embedding dimensions: ONE sufficient-
    statistics aggregation (count + 8 sums + 36 upper-triangle product
    sums, all map-side combinable) yields the covariance on the driver —
    the canonical distributed-covariance shape (the 100 TB pass is the
    same single aggregation job); the top eigenvector then comes from 12
    fixed-order power iterations on the 8x8 matrix (pure scalar
    arithmetic, like the IRLS Newton solve).

    Determinism: inputs are ROUNDed to 9 (norm-mirroring convention);
    covariance entries are ROUNDed to 9 AFTER the n-division (aggregation
    wobble ~1e-16 at that point), so the iteration runs on bit-identical
    matrices in both engines; every matvec/norm folds left-to-right; the
    oracle unrolls the same 12 iterations as chained single-row CTEs.
    Sign is canonicalized on the first component; outputs carry the
    ``+ 0.0`` negative-zero guard."""
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    d = 8
    x = [F.round(F.get("embedding", i).cast("double"), 9) for i in range(d)]
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [F.sum(x[i]).alias(f"s{i}") for i in range(d)]
    aggs += [F.sum(x[i] * x[j]).alias(f"q{i}_{j}")
             for i in range(d) for j in range(i, d)]
    r = emb.agg(*aggs).first()
    n = float(r["n"])
    mu = [r[f"s{i}"] / n for i in range(d)]
    cov = [[0.0] * d for _ in range(d)]
    for i in range(d):
        for j in range(i, d):
            c = round(r[f"q{i}_{j}"] / n - mu[i] * mu[j], 9)
            cov[i][j] = cov[j][i] = c
    v = [1.0 / math.sqrt(8.0)] * d
    lam = 0.0
    for _ in range(12):
        y = []
        for i in range(d):
            acc = 0.0
            for j in range(d):
                acc = acc + cov[i][j] * v[j]
            y.append(acc)
        nrm = 0.0
        for i in range(d):
            nrm = nrm + y[i] * y[i]
        lam = math.sqrt(nrm)
        v = [y[i] / lam for i in range(d)]
    if v[0] < 0:
        v = [-c for c in v]
    trace = 0.0
    for i in range(d):
        trace = trace + cov[i][i]
    row = [F.round(F.lit(v[i]), 6) + F.lit(0.0) for i in range(d)]
    return (spark.range(1)
            .select(*[row[i].alias(f"v{i}") for i in range(d)],
                    (F.round(F.lit(lam), 6) + F.lit(0.0)).alias("eigval"),
                    (F.round(F.lit(lam / trace), 6) + F.lit(0.0))
                    .alias("var_share")))


def _pca_sql(d: int = 8, iters: int = 12) -> str:
    xs = [f"ROUND(CAST(embedding[{i + 1}] AS DOUBLE), 9)" for i in range(d)]
    aggs = ["CAST(COUNT(*) AS DOUBLE) AS n"]
    aggs += [f"SUM({xs[i]}) AS s{i}" for i in range(d)]
    aggs += [f"SUM({xs[i]} * {xs[j]}) AS q{i}_{j}"
             for i in range(d) for j in range(i, d)]
    covs = []
    for i in range(d):
        for j in range(i, d):
            covs.append(
                f"ROUND(q{i}_{j} / n - (s{i} / n) * (s{j} / n), 9) AS c{i}_{j}")

    def cref(i, j):
        return f"c{min(i, j)}_{max(i, j)}"

    sql = f"""
WITH suff AS (
  SELECT {', '.join(aggs)} FROM embeddings
), cov AS (
  SELECT {', '.join(covs)} FROM suff
), it0 AS (
  SELECT {', '.join(f'1.0 / sqrt(8.0) AS v{i}' for i in range(d))}
)"""
    for k in range(1, iters + 1):
        mv = [" + ".join(f"{cref(i, j)} * v{j}" for j in range(d))
              for i in range(d)]
        nrm = " + ".join(f"y{i} * y{i}" for i in range(d))
        sql += f""", y{k} AS (
  SELECT {', '.join(f'{mv[i]} AS y{i}' for i in range(d))}
  FROM it{k - 1} CROSS JOIN cov
), it{k} AS (
  SELECT {', '.join(f'y{i} / sqrt({nrm}) AS v{i}' for i in range(d))},
         sqrt({nrm}) AS lam
  FROM y{k}
)"""
    trace = " + ".join(f"c{i}_{i}" for i in range(d))
    flip = [f"ROUND(CASE WHEN v0 < 0 THEN -v{i} ELSE v{i} END, 6) + 0.0 "
            f"AS v{i}" for i in range(d)]
    sql += f"""
SELECT {', '.join(flip)},
       ROUND(lam, 6) + 0.0 AS eigval,
       ROUND(lam / ({trace}), 6) + 0.0 AS var_share
FROM it{iters} CROSS JOIN cov
"""
    return sql


R8_QUERIES["embedding_pca_power"] = (q_embedding_pca_power, _pca_sql(), False)


# --- streaming_outer_join_watermark -----------------------------------------

def q_streaming_outer_join(spark, sf_dir):
    """LEFT OUTER stream-stream join run as a REAL stream: clicks LEFT JOIN
    views per user within ±60 minutes, availableNow, append mode.  The
    outer semantics are the point: an unmatched click emits its
    null-extended row only when the watermark passes its join window
    (state eviction) — inner results still emit eagerly.

    Exactness under the batch oracle: ALL clicks flow through the stream
    (so the click-side watermark is driven by the true max event time —
    filtering the stream itself would cap the watermark at the filtered
    max and strand late-window state, the first cut of this query lost
    exactly the last hour's 13 unmatched clicks that way), but the final
    aggregation keeps only clicks older than the final watermark minus
    the join window minus a 30-minute margin — derived FROM THE DATA
    (min of the two sides' max event times - 4 h 30 m), not hardcoded
    (a literal cutoff tuned at sf0.01 stranded 3 users' state at the
    sf0.001 soak's sparser tail): those clicks' join windows provably
    close before the final watermark, Spark's no-data final micro-batch
    evicts-and-emits every one, and the eviction boundary's strictness
    never matters."""
    import tempfile

    from ..sources import stream_table
    from ..streaming import drain, stream_stream_join

    batch = load_table(spark, sf_dir, "events")
    mx = (batch.filter(F.col("event_type").isin("click", "view"))
          .groupBy("event_type").agg(F.max("ts").alias("m"))
          .agg(F.min("m").alias("mm"))
          .select(F.date_format(
              F.col("mm").cast("timestamp") - F.expr("INTERVAL 4 HOURS 30 MINUTES"),
              "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("c"))
          .first())
    cutoff = mx["c"]
    ev = stream_table(spark, sf_dir, "events")
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("user_id", "ts", F.col("event_id").alias("click_id")))
    views = (ev.filter(F.col("event_type") == "view")
             .select("user_id", "ts", F.col("event_id").alias("view_id")))
    out = stream_stream_join(clicks, views, "user_id",
                             within="60 minutes", watermark="3 hours",
                             how="left_outer")
    name = "q_stream_loj_sink"
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("append")
         .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
         .trigger(availableNow=True).start())
    drain(q)
    return spark.sql(
        f"SELECT user_id, COUNT(*) AS n_rows, "
        f"CAST(SUM(CASE WHEN view_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS n_unmatched FROM {name} "
        f"WHERE left_ts < TIMESTAMP '{cutoff}' "
        f"GROUP BY user_id ORDER BY user_id")


_QSTREAM_LOJ_SQL = """
SELECT c.user_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN v.ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unmatched
FROM (SELECT user_id, ts FROM events
      WHERE event_type = 'click'
        AND ts < (SELECT MIN(m) - INTERVAL '4 hours 30 minutes' FROM (
                    SELECT event_type, MAX(ts) AS m FROM events
                    WHERE event_type IN ('click', 'view')
                    GROUP BY event_type))) c
LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'view') v
  ON v.user_id = c.user_id
 AND epoch_us(v.ts) >= epoch_us(c.ts) - 3600000000
 AND epoch_us(v.ts) <= epoch_us(c.ts) + 3600000000
GROUP BY c.user_id
ORDER BY c.user_id
"""

R8_QUERIES["streaming_outer_join_watermark"] = (
    q_streaming_outer_join, _QSTREAM_LOJ_SQL, False)


# --- value_equidepth_histogram ----------------------------------------------

def q_value_equidepth_histogram(spark, sf_dir):
    """Equi-DEPTH histogram of the event value per event type: ntile(10)
    over a total order (value, event_id) gives bins of equal row count —
    the optimizer-statistics dual of the equi-width value_histogram.

    Scale shape: one event_type-keyed exchange + sort; bin stats are a
    map-side-combinable reaggregation of the windowed output."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (ev.select("event_type", "value",
                      F.ntile(10).over(w).alias("bin"))
            .groupBy("event_type", "bin")
            .agg(F.round(F.min("value"), 6).alias("lo"),
                 F.round(F.max("value"), 6).alias("hi"),
                 F.count(F.lit(1)).alias("n"))
            .orderBy("event_type", "bin"))


_QEQD_SQL = """
SELECT event_type, CAST(bin AS INT) AS bin,
       ROUND(MIN(value), 6) + 0.0 AS lo,
       ROUND(MAX(value), 6) + 0.0 AS hi,
       CAST(COUNT(*) AS BIGINT) AS n
FROM (
  SELECT event_type, value, event_id,
         ntile(10) OVER (PARTITION BY event_type
                         ORDER BY value, event_id) AS bin
  FROM events)
GROUP BY event_type, bin
ORDER BY event_type, bin
"""

R8_QUERIES["value_equidepth_histogram"] = (
    q_value_equidepth_histogram, _QEQD_SQL, False)


# --- join_cardinality_sketch ------------------------------------------------

def q_join_cardinality_sketch(spark, sf_dir):
    """Join-cardinality estimation by deterministic key sampling — the
    optimizer-statistics primitive: |lineitem self-join on partkey| =
    sum_k f(k)^2 is estimated from the 1/64 key universe whose portable
    hash lands in stratum 0 (exact per-key contributions on the sample,
    scaled by 64), next to the exact value and the relative error.

    Scale shape: the sample-side aggregation reads ~1/64 of the keys (at
    scale, pushable into a bucketed layout); both sums are single
    map-side-combinable aggregations — no join is ever executed."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("f"))
    h = portable_hash64(F.col("l_partkey").cast("string"), "jc")
    samp = (f.filter(h % 64 == 0)
            .agg(F.count(F.lit(1)).alias("n_sampled_keys"),
                 (F.sum(F.col("f") * F.col("f")) * 64).cast("long")
                 .alias("est_join_rows")))
    exact = f.agg(F.sum(F.col("f") * F.col("f")).cast("long")
                  .alias("exact_join_rows"))
    return (samp.crossJoin(exact)
            .select("n_sampled_keys", "est_join_rows", "exact_join_rows",
                    F.round((F.col("est_join_rows").cast("double")
                             - F.col("exact_join_rows").cast("double"))
                            / F.col("exact_join_rows").cast("double"), 6)
                    .alias("rel_err")))


_QJCARD_SQL = """
WITH f AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS f FROM lineitem
  GROUP BY l_partkey
), samp AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled_keys,
         CAST(SUM(f * f) * 64 AS BIGINT) AS est_join_rows
  FROM f
  WHERE ('0x' || substr(md5(CAST(l_partkey AS VARCHAR) || '#jc'), 1, 15))::BIGINT
        % 64 = 0
), ex AS (
  SELECT CAST(SUM(f * f) AS BIGINT) AS exact_join_rows FROM f
)
SELECT n_sampled_keys, est_join_rows, exact_join_rows,
       ROUND((CAST(est_join_rows AS DOUBLE) - CAST(exact_join_rows AS DOUBLE))
             / CAST(exact_join_rows AS DOUBLE), 6) + 0.0 AS rel_err
FROM samp CROSS JOIN ex
"""

R8_QUERIES["join_cardinality_sketch"] = (
    q_join_cardinality_sketch, _QJCARD_SQL, False)


# --- partkey_skew_gini ------------------------------------------------------

def q_partkey_skew_gini(spark, sf_dir):
    """Key-skew diagnostic for the join planner: Gini coefficient of the
    per-partkey row-count distribution in lineitem (rank-weighted sum
    over counts sorted ascending — all-integer arithmetic, so the only
    float is the final division), plus the top-1 / top-10 key shares.
    This is the statistic that decides salting / AQE-skew-join
    thresholds.

    Scale shape: one key-keyed aggregation; the rank window runs over the
    (key-count)-sized table, not the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("f"))
    w = Window.orderBy(F.col("f").asc(), F.col("l_partkey").asc())
    ranked = f.select("f", F.row_number().over(w).alias("i"))
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("f").cast("long").alias("total"),
        F.sum(F.col("i").cast("long") * F.col("f")).cast("long").alias("iw"))
    wd = Window.orderBy(F.col("f").desc(), F.col("l_partkey").asc())
    top = (f.select("f", F.row_number().over(wd).alias("r"))
           .filter(F.col("r") <= 10)
           .agg(F.max(F.when(F.col("r") == 1, F.col("f"))).cast("long")
                .alias("top1"),
                F.sum("f").cast("long").alias("top10")))
    nd = F.col("n_keys").cast("double")
    gini = (F.lit(2.0) * F.col("iw").cast("double")
            / (nd * F.col("total").cast("double"))
            - (nd + F.lit(1.0)) / nd)
    return (agg.crossJoin(top)
            .select("n_keys", "total",
                    F.round(gini, 9).alias("gini"),
                    F.round(F.col("top1").cast("double")
                            / F.col("total").cast("double"), 9)
                    .alias("top1_share"),
                    F.round(F.col("top10").cast("double")
                            / F.col("total").cast("double"), 9)
                    .alias("top10_share")))


_QGINI_SQL = """
WITH f AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS f FROM lineitem
  GROUP BY l_partkey
), ranked AS (
  SELECT f, row_number() OVER (ORDER BY f ASC, l_partkey ASC) AS i FROM f
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(f) AS BIGINT) AS total,
         CAST(SUM(CAST(i AS BIGINT) * f) AS BIGINT) AS iw
  FROM ranked
), top AS (
  SELECT CAST(MAX(CASE WHEN r = 1 THEN f END) AS BIGINT) AS top1,
         CAST(SUM(f) AS BIGINT) AS top10
  FROM (SELECT f, row_number() OVER (ORDER BY f DESC, l_partkey ASC) AS r
        FROM f)
  WHERE r <= 10
)
SELECT n_keys, total,
       ROUND(2.0 * CAST(iw AS DOUBLE)
             / (CAST(n_keys AS DOUBLE) * CAST(total AS DOUBLE))
             - (CAST(n_keys AS DOUBLE) + 1.0) / CAST(n_keys AS DOUBLE), 9)
         + 0.0 AS gini,
       ROUND(CAST(top1 AS DOUBLE) / CAST(total AS DOUBLE), 9) + 0.0
         AS top1_share,
       ROUND(CAST(top10 AS DOUBLE) / CAST(total AS DOUBLE), 9) + 0.0
         AS top10_share
FROM agg CROSS JOIN top
"""

R8_QUERIES["partkey_skew_gini"] = (q_partkey_skew_gini, _QGINI_SQL, False)


# --- bpe_merge_rounds -------------------------------------------------------

def q_bpe_merge_rounds(spark, sf_dir):
    """Tokenizer TRAINING, not just candidate counting: three real BPE merge
    rounds over the corpus word-frequency table (top-200 lowercase words,
    chars space-separated).  Each round is (a) one map-side-combinable
    pair-count aggregation weighted by word frequency, (b) a 1-row argmax
    (ties to the lexicographically smallest pair), (c) a narrow literal
    string merge applied with sentinel-space padding so multi-char symbols
    never match across symbol boundaries.  Merge application is
    non-overlapping left-to-right (both engines' literal replace) — the
    standard fast approximation, identical cross-engine on degenerate
    repeats.

    Scale shape: the vocab table is the merge state (vocab-sized, not
    corpus-sized — real BPE trainers work exactly this way); each round's
    pair count is ONE aggregation; the argmax collect is 1 row (the IRLS
    convention).  The oracle unrolls the same three rounds as chained
    CTEs."""
    from ..pipeline import text as T

    docs = load_table(spark, sf_dir, "documents")
    words = (docs.select(F.explode(T.tokens(F.col("text"))).alias("w"))
             .filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
             .groupBy("w").agg(F.count(F.lit(1)).alias("wf"))
             .orderBy(F.col("wf").desc(), F.col("w").asc()).limit(200))
    v = words.select(
        F.trim(F.regexp_replace("w", "(.)", "$1 ")).alias("ws"), "wf")
    v = v.persist()
    # shared trainer core (pipeline.text.bpe_merge_rounds): guards fully-
    # merged 1-symbol words out of pair counting (sequence(0,-1) would
    # otherwise emit NULL pairs — see the helper's docstring) and is
    # property-tested against a pure-Python BPE mirror
    merges = T.bpe_merge_rounds(v, rounds=3)
    v.unpersist()
    return spark.createDataFrame(
        merges, "round int, pair string, merged string, n long") \
        .orderBy("round")


def _bpe_merge_sql(rounds: int = 3) -> str:
    sql = """
WITH words AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS wf
  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents)
  WHERE regexp_matches(w, '^[a-z]+$') AND len(w) >= 2
  GROUP BY w ORDER BY wf DESC, w ASC LIMIT 200
), v0 AS (
  SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS ws, wf FROM words
)"""
    for r in range(1, rounds + 1):
        sql += f""", p{r} AS (
  SELECT arr[i] || ' ' || arr[i + 1] AS pair, wf
  FROM (SELECT string_split(ws, ' ') AS arr, wf FROM v{r - 1}),
       LATERAL (SELECT unnest(range(1, len(arr))) AS i) t
), b{r} AS (
  SELECT pair, replace(pair, ' ', '') AS merged,
         CAST(SUM(wf) AS BIGINT) AS s
  FROM p{r} GROUP BY pair ORDER BY s DESC, pair ASC LIMIT 1
), v{r} AS (
  SELECT trim(replace(' ' || ws || ' ', ' ' || b.pair || ' ',
                      ' ' || b.merged || ' ')) AS ws, wf
  FROM v{r - 1} CROSS JOIN b{r} b
)"""
    parts = " UNION ALL ".join(
        f"SELECT CAST({r} AS INT) AS round, pair, merged, s AS n FROM b{r}"
        for r in range(1, rounds + 1))
    return sql + f"\n{parts}\nORDER BY round\n"


R8_QUERIES["bpe_merge_rounds"] = (q_bpe_merge_rounds, _bpe_merge_sql(), False)


# --- part_label_propagation -------------------------------------------------

def q_part_label_propagation(spark, sf_dir):
    """Community detection by synchronous label propagation over the part
    co-purchase graph (support >= 2, the BFS graph): labels start as own
    ids; each of 3 rounds reassigns every vertex the MODE of its
    neighbors' labels (ties to the smallest label) — the classic
    near-linear community algorithm, made deterministic by the
    tie rule and synchronous rounds.

    Scale shape: each round is one vertex-keyed join + one (v, label)
    count + one windowed argmax over the |V|-bounded label table;
    lineage truncated per round.  The oracle unrolls the same 3 rounds."""
    po = (load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_partkey").distinct())
    a = po.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = po.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (a.join(b, "ok").filter(F.col("u") < F.col("v"))
             .groupBy("u", "v").agg(F.count(F.lit(1)).alias("supp"))
             .filter(F.col("supp") >= 2).select("u", "v"))
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    sym = sym.transform(truncate_lineage)
    labels = (sym.select(F.col("u").alias("id")).distinct()
              .select("id", F.col("id").alias("label")))
    for _ in range(3):
        nbr = (sym.join(labels.withColumnRenamed("id", "u"), "u")
               .groupBy(F.col("v").alias("id"), "label")
               .agg(F.count(F.lit(1)).alias("c")))
        w = Window.partitionBy("id").orderBy(F.col("c").desc(),
                                             F.col("label").asc())
        labels = (nbr.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") == 1).select("id", "label"))
        labels = labels.transform(truncate_lineage)
    return (labels.select(F.col("id").alias("p_partkey"), "label")
            .orderBy("p_partkey"))


def _labelprop_sql(rounds: int = 3) -> str:
    sql = """
WITH po AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM po a JOIN po b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
), sym AS (
  SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e
), l0 AS (
  SELECT DISTINCT u AS id, u AS label FROM sym
)"""
    for r in range(1, rounds + 1):
        sql += f""", l{r} AS (
  SELECT id, label FROM (
    SELECT s.v AS id, p.label,
           row_number() OVER (PARTITION BY s.v
                              ORDER BY COUNT(*) DESC, p.label ASC) AS rn
    FROM sym s JOIN l{r - 1} p ON p.id = s.u
    GROUP BY s.v, p.label) WHERE rn = 1
)"""
    sql += f"""
SELECT id AS p_partkey, label FROM l{rounds} ORDER BY p_partkey
"""
    return sql


R8_QUERIES["part_label_propagation"] = (
    q_part_label_propagation, _labelprop_sql(), False)


# --- orders_forecast_seasonal -----------------------------------------------

def q_orders_forecast_seasonal(spark, sf_dir):
    """Seasonal-naive revenue forecasting with backtest: forecast(day) =
    mean of the same-weekday revenue 7/14/21 days earlier (calendar
    joins, not row lags, so gaps never misalign the season), evaluated
    against the actual — the baseline every forecasting system is
    measured against, with the absolute percentage error per day.

    Determinism: daily revenues are ROUNDed to 6 BEFORE entering the
    forecast mean, so cross-engine summation-order wobble in the daily
    sums cannot reach the forecast arithmetic.

    Scale shape: one date-keyed aggregation; the three seasonal joins run
    on the day-count-sized table."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (orders.groupBy(F.date_format("o_orderdate", "yyyy-MM-dd")
                            .alias("day"))
             .agg(F.round(F.sum("o_totalprice"), 6).alias("rev")))
    d = daily.alias("d")
    l7 = daily.select(F.col("day").alias("d7"), F.col("rev").alias("r7"))
    l14 = daily.select(F.col("day").alias("d14"), F.col("rev").alias("r14"))
    l21 = daily.select(F.col("day").alias("d21"), F.col("rev").alias("r21"))
    dd = F.to_date("day")
    j = (d.join(l7, F.date_format(F.date_sub(dd, 7), "yyyy-MM-dd") == F.col("d7"))
         .join(l14, F.date_format(F.date_sub(dd, 14), "yyyy-MM-dd") == F.col("d14"))
         .join(l21, F.date_format(F.date_sub(dd, 21), "yyyy-MM-dd") == F.col("d21")))
    fc = (F.col("r7") + F.col("r14") + F.col("r21")) / F.lit(3.0)
    return (j.select("day", F.col("rev").alias("actual"),
                     F.round(fc, 6).alias("forecast"),
                     F.round(F.abs(F.col("rev") - fc) / F.col("rev"), 6)
                     .alias("abs_pct_err"))
            .orderBy("day"))


_QSEAS_SQL = """
WITH daily AS (
  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
         ROUND(SUM(o_totalprice), 6) AS rev
  FROM orders GROUP BY 1
)
SELECT d.day, d.rev AS actual,
       ROUND((l7.rev + l14.rev + l21.rev) / 3.0, 6) + 0.0 AS forecast,
       ROUND(abs(d.rev - (l7.rev + l14.rev + l21.rev) / 3.0) / d.rev, 6)
         + 0.0 AS abs_pct_err
FROM daily d
JOIN daily l7  ON l7.day  = strftime(strptime(d.day, '%Y-%m-%d')
                                     - INTERVAL 7 DAY,  '%Y-%m-%d')
JOIN daily l14 ON l14.day = strftime(strptime(d.day, '%Y-%m-%d')
                                     - INTERVAL 14 DAY, '%Y-%m-%d')
JOIN daily l21 ON l21.day = strftime(strptime(d.day, '%Y-%m-%d')
                                     - INTERVAL 21 DAY, '%Y-%m-%d')
ORDER BY d.day
"""

R8_QUERIES["orders_forecast_seasonal"] = (
    q_orders_forecast_seasonal, _QSEAS_SQL, False)


# --- session_funnel_conversion ----------------------------------------------

def q_session_funnel_conversion(spark, sf_dir):
    """Ordered in-session funnel: within 30-minute-gap sessions, a session
    converts step by step only if view -> click -> purchase happen IN
    ORDER (first view, then the first click after it, then the first
    purchase after that) — the product-analytics metric that a plain
    per-type count gets wrong.  One summary row: session counts per
    funnel depth and the step conversion rates.

    Scale shape: sessionization is the standard gaps-and-islands window
    (one user-keyed exchange + sort); the ordered-step logic is three
    conditional MIN aggregations per session — no self-joins."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = (us - F.lag(us).over(w)) >= 1800000000
    marked = ev.withColumn(
        "new_s", F.when(gap | F.lag("ts").over(w).isNull(), 1).otherwise(0))
    sess = marked.withColumn(
        "sid", F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    per = (sess.groupBy("user_id", "sid")
           .agg(F.min(F.when(F.col("event_type") == "view", F.col("ts")))
                .alias("t_view"),
                *[F.min(F.when(F.col("event_type") == t, F.col("ts")))
                  .alias(f"_t_{t}") for t in ("click", "purchase")]))
    # ordered steps: first click AFTER the first view needs the raw events
    # again — do it with conditional mins over (session, step) instead
    steps = (sess.join(per.select("user_id", "sid", "t_view"),
                       ["user_id", "sid"])
             .groupBy("user_id", "sid")
             .agg(F.min("t_view").alias("tv"),
                  F.min(F.when((F.col("event_type") == "click")
                               & (F.col("ts") >= F.col("t_view")),
                               F.col("ts"))).alias("tc")))
    steps2 = (sess.join(steps, ["user_id", "sid"])
              .groupBy("user_id", "sid")
              .agg(F.min("tv").alias("tv"), F.min("tc").alias("tc"),
                   F.min(F.when((F.col("event_type") == "purchase")
                                & (F.col("ts") >= F.col("tc")),
                                F.col("ts"))).alias("tp")))
    n = F.count(F.lit(1))
    nv = F.sum(F.col("tv").isNotNull().cast("int")).cast("long")
    nc = F.sum(F.col("tc").isNotNull().cast("int")).cast("long")
    np_ = F.sum(F.col("tp").isNotNull().cast("int")).cast("long")
    return steps2.agg(
        n.alias("n_sessions"), nv.alias("n_view"),
        nc.alias("n_view_click"), np_.alias("n_full_funnel"),
        F.round(nc.cast("double") / nv.cast("double"), 6)
         .alias("click_rate"),
        F.round(np_.cast("double") / nc.cast("double"), 6)
         .alias("purchase_rate"))


_QFUNNEL_SQL = """
WITH marked AS (
  SELECT user_id, ts, event_type, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, event_type,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
), pv AS (
  SELECT user_id, sid,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
  FROM sess GROUP BY user_id, sid
), pc AS (
  SELECT s.user_id, s.sid, MIN(p.t_view) AS tv,
         MIN(CASE WHEN s.event_type = 'click' AND s.ts >= p.t_view
                  THEN s.ts END) AS tc
  FROM sess s JOIN pv p ON p.user_id = s.user_id AND p.sid = s.sid
  GROUP BY s.user_id, s.sid
), pp AS (
  SELECT s.user_id, s.sid, MIN(c.tv) AS tv, MIN(c.tc) AS tc,
         MIN(CASE WHEN s.event_type = 'purchase' AND s.ts >= c.tc
                  THEN s.ts END) AS tp
  FROM sess s JOIN pc c ON c.user_id = s.user_id AND c.sid = s.sid
  GROUP BY s.user_id, s.sid
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN tv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_view,
       CAST(SUM(CASE WHEN tc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_view_click,
       CAST(SUM(CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_full_funnel,
       ROUND(CAST(SUM(CASE WHEN tc IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CASE WHEN tv IS NOT NULL THEN 1 ELSE 0 END)
                    AS DOUBLE), 6) + 0.0 AS click_rate,
       ROUND(CAST(SUM(CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CASE WHEN tc IS NOT NULL THEN 1 ELSE 0 END)
                    AS DOUBLE), 6) + 0.0 AS purchase_rate
FROM pp
"""

R8_QUERIES["session_funnel_conversion"] = (
    q_session_funnel_conversion, _QFUNNEL_SQL, False)


# --- jl_projection_distortion -----------------------------------------------

def q_jl_projection_distortion(spark, sf_dir):
    """Johnson-Lindenstrauss random-projection audit: project the 64-dim
    embeddings onto 8 deterministic hash-derived directions (the engine's
    portable-hyperplane recipe, no RNG state) and measure pairwise
    L2-distance distortion (projected/original ratio) over a 20 x 200
    query-data pair grid — the dimensionality-reduction quality check run
    before replacing full vectors with sketches.

    Scale shape: projection is one narrow map (8 fixed-order fold
    expressions); the pair grid broadcasts the 20-row query side; the
    distortion stats are one aggregation."""
    from ..pipeline.similarity import _hyperplane

    emb = load_table(spark, sf_dir, "embeddings")
    vd = F.transform("embedding", lambda v: v.cast("double"))
    planes = [_hyperplane(64, 100 + j) for j in range(8)]

    def proj(j):
        return F.aggregate(
            F.zip_with(vd, F.array(*[F.lit(x) for x in planes[j]]),
                       lambda a, b: a * b),
            F.lit(0.0), lambda acc, v: acc + v)

    p = emb.select("vec_id", vd.alias("v"),
                   *[proj(j).alias(f"p{j}") for j in range(8)])
    q = (p.filter(F.col("vec_id") < 20)
         .select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
                 *[F.col(f"p{j}").alias(f"qp{j}") for j in range(8)]))
    d = (p.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 220))
         .select(F.col("vec_id").alias("did"), F.col("v").alias("dv"),
                 *[F.col(f"p{j}").alias(f"dp{j}") for j in range(8)]))
    d_orig = F.sqrt(F.aggregate(
        F.zip_with(F.col("qv"), F.col("dv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, v: acc + v))
    dp2 = F.lit(0.0)
    for j in range(8):
        dp2 = dp2 + (F.col(f"qp{j}") - F.col(f"dp{j}")) \
            * (F.col(f"qp{j}") - F.col(f"dp{j}"))
    ratio = F.sqrt(dp2) / d_orig
    return (d.crossJoin(F.broadcast(q))
            .select(ratio.alias("r"))
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.round(F.avg("r"), 6).alias("mean_ratio"),
                 F.round(F.min("r"), 6).alias("min_ratio"),
                 F.round(F.max("r"), 6).alias("max_ratio")))


def _jl_sql() -> str:
    from ..pipeline.similarity import _hyperplane
    projs = []
    for j in range(8):
        w = _hyperplane(64, 100 + j)
        terms = " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE) * ({w[i]!r})"
            for i in range(64))
        projs.append(f"({terms}) AS p{j}")
    dp2 = " + ".join(f"(q.p{j} - d.p{j}) * (q.p{j} - d.p{j})"
                     for j in range(8))
    return f"""
WITH p AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, {', '.join(projs)}
  FROM embeddings
), pairs AS (
  SELECT sqrt({dp2})
         / sqrt(list_sum(list_transform(range(1, 65),
             i -> (q.v[i] - d.v[i]) * (q.v[i] - d.v[i])))) AS r
  FROM (SELECT * FROM p WHERE vec_id >= 20 AND vec_id < 220) d
  CROSS JOIN (SELECT * FROM p WHERE vec_id < 20) q
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(AVG(r), 6) + 0.0 AS mean_ratio,
       ROUND(MIN(r), 6) + 0.0 AS min_ratio,
       ROUND(MAX(r), 6) + 0.0 AS max_ratio
FROM pairs
"""


R8_QUERIES["jl_projection_distortion"] = (
    q_jl_projection_distortion, _jl_sql(), False)


# --- embedding_int8_quant_error ---------------------------------------------

def q_embedding_int8_quant_error(spark, sf_dir):
    """Symmetric int8 quantization audit: per-dimension scale =
    max(|min|, |max|)/127 from ONE stats aggregation, then quantize /
    dequantize every vector and report reconstruction error (mean / max
    absolute) and mean cosine between original and dequantized vectors —
    the precision check run before shipping int8 embeddings to serving.

    Scale shape: the 128-stat aggregation is map-side combinable; the
    64-wide scale row broadcasts back; error folding is a narrow map."""
    emb = load_table(spark, sf_dir, "embeddings")
    xs = [F.get("embedding", i).cast("double") for i in range(64)]
    stats = emb.agg(*[F.min(xs[i]).alias(f"mn{i}") for i in range(64)],
                    *[F.max(xs[i]).alias(f"mx{i}") for i in range(64)])
    j = emb.crossJoin(F.broadcast(stats))
    scales = [F.greatest(F.abs(F.col(f"mn{i}")), F.abs(F.col(f"mx{i}")))
              / F.lit(127.0) for i in range(64)]
    deq = [F.round(xs[i] / scales[i], 0) * scales[i] for i in range(64)]
    abs_err_sum = F.lit(0.0)
    dot = F.lit(0.0)
    na = F.lit(0.0)
    nb = F.lit(0.0)
    max_err = F.lit(0.0)
    for i in range(64):
        e = F.abs(xs[i] - deq[i])
        abs_err_sum = abs_err_sum + e
        max_err = F.greatest(max_err, e)
        dot = dot + xs[i] * deq[i]
        na = na + xs[i] * xs[i]
        nb = nb + deq[i] * deq[i]
    per = j.select(
        (abs_err_sum / F.lit(64.0)).alias("mean_err"),
        max_err.alias("max_err"),
        (dot / (F.sqrt(na) * F.sqrt(nb))).alias("cos"))
    return per.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("mean_err"), 9).alias("mean_abs_err"),
        F.round(F.max("max_err"), 9).alias("max_abs_err"),
        F.round(F.avg("cos"), 6).alias("mean_cosine"))


def _int8_sql() -> str:
    mins = ", ".join(
        f"MIN(CAST(embedding[{i + 1}] AS DOUBLE)) AS mn{i}" for i in range(64))
    maxs = ", ".join(
        f"MAX(CAST(embedding[{i + 1}] AS DOUBLE)) AS mx{i}" for i in range(64))
    x = [f"CAST(embedding[{i + 1}] AS DOUBLE)" for i in range(64)]
    sc = [f"(GREATEST(abs(mn{i}), abs(mx{i})) / 127.0)" for i in range(64)]
    dq = [f"(ROUND({x[i]} / {sc[i]}, 0) * {sc[i]})" for i in range(64)]
    err_sum = " + ".join(f"abs({x[i]} - {dq[i]})" for i in range(64))
    max_err = "GREATEST(" + ", ".join(
        f"abs({x[i]} - {dq[i]})" for i in range(64)) + ")"
    dot = " + ".join(f"{x[i]} * {dq[i]}" for i in range(64))
    na = " + ".join(f"{x[i]} * {x[i]}" for i in range(64))
    nb = " + ".join(f"{dq[i]} * {dq[i]}" for i in range(64))
    return f"""
WITH stats AS (
  SELECT {mins}, {maxs} FROM embeddings
), per AS (
  SELECT ({err_sum}) / 64.0 AS mean_err,
         {max_err} AS max_err,
         ({dot}) / (sqrt({na}) * sqrt({nb})) AS cos
  FROM embeddings CROSS JOIN stats
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
       ROUND(AVG(mean_err), 9) + 0.0 AS mean_abs_err,
       ROUND(MAX(max_err), 9) + 0.0 AS max_abs_err,
       ROUND(AVG(cos), 6) + 0.0 AS mean_cosine
FROM per
"""


R8_QUERIES["embedding_int8_quant_error"] = (
    q_embedding_int8_quant_error, _int8_sql(), False)


# --- doc_stitch_pairs -------------------------------------------------------

def q_doc_stitch_pairs(spark, sf_dir):
    """Chunk-boundary stitching detection: a doc whose first 5 tokens equal
    another doc's LAST 5 tokens is (part of) a split document — the
    suffix/prefix equi-join that exact-substring dedup misses because the
    overlap sits at chunk edges.  Planted continuations (doc_id < 20
    cloned at +2000000 with text = source's last 5 tokens + a marker)
    make precision AND recall checkable; the join key is the raw 5-token
    string, so no hash collision can fake a match.

    Scale shape: two narrow maps (head/tail key extraction) + ONE
    equi-join on the boundary key — never a substring scan across pairs."""
    from ..pipeline import text as T

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", T.tokens(F.col("text")).alias("tk")) \
        .filter(F.size("tk") >= 10)
    planted = toks.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.array_join(F.slice("tk", -5, 5), " "),
                 F.lit(" synthetic continuation marker")).alias("text"))
    allv = (toks.select("doc_id", F.array_join("tk", " ").alias("text"))
            .unionByName(planted)
            .select("doc_id", F.split("text", " ").alias("tk")))
    heads = allv.select(F.col("doc_id").alias("b_doc"),
                        F.array_join(F.slice("tk", 1, 5), " ").alias("k"))
    tails = allv.select(F.col("doc_id").alias("a_doc"),
                        F.array_join(F.slice("tk", -5, 5), " ").alias("k"))
    return (tails.join(heads, "k")
            .filter(F.col("a_doc") != F.col("b_doc"))
            .select("a_doc", "b_doc", F.col("k").alias("boundary"))
            .orderBy("a_doc", "b_doc"))


_QSTITCH_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
  FROM documents
), base AS (
  SELECT doc_id, tk FROM toks WHERE len(tk) >= 10
), planted AS (
  SELECT doc_id + 2000000 AS doc_id,
         string_split(array_to_string(tk[-5:], ' ')
                      || ' synthetic continuation marker', ' ') AS tk
  FROM base WHERE doc_id < 20
), allv AS (
  SELECT doc_id, tk FROM base UNION ALL SELECT doc_id, tk FROM planted
), heads AS (
  SELECT doc_id AS b_doc, array_to_string(tk[1:5], ' ') AS k FROM allv
), tails AS (
  SELECT doc_id AS a_doc, array_to_string(tk[-5:], ' ') AS k FROM allv
)
SELECT a_doc, b_doc, k AS boundary
FROM tails JOIN heads USING (k)
WHERE a_doc <> b_doc
ORDER BY a_doc, b_doc
"""

R8_QUERIES["doc_stitch_pairs"] = (q_doc_stitch_pairs, _QSTITCH_SQL, False)


# --- colbert_maxsim_topk ----------------------------------------------------

def q_colbert_maxsim_topk(spark, sf_dir):
    """Late-interaction (ColBERT-style) MaxSim retrieval: each 64-dim
    embedding is treated as 8 token sub-vectors of 8 dims; the relevance
    of data vector D to query Q is sum over Q's sub-vectors of the MAX
    cosine against D's sub-vectors — the multi-vector scoring operator
    that single-vector ANN cannot express, run top-5 for 5 queries.

    Scale shape: sub-vector norms are precomputed once in the same narrow
    map; the 8x8 interaction folds in fixed order inside one projection;
    query side broadcasts; top-k via the standard window."""
    emb = load_table(spark, sf_dir, "embeddings")
    vd = F.transform("embedding", lambda v: v.cast("double"))
    base = emb.select("vec_id", vd.alias("v"))
    q = base.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    d = base.select(F.col("vec_id").alias("data_id"), F.col("v").alias("dv"))

    def sub(col, t):  # 8-dim sub-vector t (0..7) as a slice
        return F.slice(col, t * 8 + 1, 8)

    def dot8(a, b):
        return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                           F.lit(0.0), lambda acc, v: acc + v)

    score = F.lit(0.0)
    for qt in range(8):
        best = F.lit(-1e9)
        for dt in range(8):
            qa, da = sub(F.col("qv"), qt), sub(F.col("dv"), dt)
            cos = dot8(qa, da) / (F.sqrt(dot8(qa, qa)) * F.sqrt(dot8(da, da)))
            best = F.greatest(best, cos)
        score = score + best
    scored = (d.crossJoin(F.broadcast(q))
              .filter(F.col("query_id") != F.col("data_id"))
              .select("query_id", "data_id", score.alias("maxsim")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("maxsim").desc(), F.col("data_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("query_id", "data_id",
                    F.round("maxsim", 6).alias("maxsim"), "rank")
            .orderBy("query_id", "rank"))


def _colbert_sql() -> str:
    def dot(a, b, t, u):
        return " + ".join(
            f"{a}[{t * 8 + i}] * {b}[{u * 8 + i}]" for i in range(1, 9))

    terms = []
    for qt in range(8):
        coss = ", ".join(
            f"({dot('q.v', 'd.v', qt, dt)})"
            f" / (sqrt({dot('q.v', 'q.v', qt, qt)})"
            f" * sqrt({dot('d.v', 'd.v', dt, dt)}))"
            for dt in range(8))
        terms.append(f"GREATEST({coss})")
    score = " + ".join(terms)
    return f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), scored AS (
  SELECT q.vec_id AS query_id, d.vec_id AS data_id,
         {score} AS maxsim
  FROM base d CROSS JOIN (SELECT * FROM base WHERE vec_id < 5) q
  WHERE q.vec_id <> d.vec_id
)
SELECT query_id, data_id, ROUND(maxsim, 6) + 0.0 AS maxsim,
       CAST(rank AS INT) AS rank
FROM (SELECT query_id, data_id, maxsim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY maxsim DESC, data_id ASC) AS rank
      FROM scored)
WHERE rank <= 5
ORDER BY query_id, rank
"""


R8_QUERIES["colbert_maxsim_topk"] = (q_colbert_maxsim_topk, _colbert_sql(), False)


# --- source_lang_kl ---------------------------------------------------------

def q_source_lang_kl(spark, sf_dir):
    """Per-source language-mix drift: KL divergence of each source's
    language distribution against the corpus-wide mix (add-1 smoothing
    over the observed language set), reported per (source, lang) term so
    the output stays summation-order-free — the corpus-composition
    monitor next to the PSI value-drift check.

    Scale shape: two tiny keyed aggregations + a broadcast join of the
    5-row corpus mix."""
    docs = load_table(spark, sf_dir, "documents")
    sl = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    stot = sl.groupBy("source").agg(F.sum("c").cast("long").alias("ns"))
    langs = sl.groupBy("lang").agg(F.count(F.lit(1)).alias("_x")) \
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
    ctot = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cc"))
    call = docs.agg(F.count(F.lit(1)).cast("long").alias("nc"))
    p = (sl.join(stot, "source")
         .join(F.broadcast(ctot), "lang")
         .crossJoin(F.broadcast(call)).crossJoin(F.broadcast(langs)))
    ps = (F.col("c") + 1).cast("double") / (F.col("ns") + F.col("v")).cast("double")
    pc = (F.col("cc") + 1).cast("double") / (F.col("nc") + F.col("v")).cast("double")
    return (p.select("source", "lang",
                     F.col("c").cast("long").alias("n_docs"),
                     F.round(ps * F.log(ps / pc), 9).alias("kl_term"))
            .orderBy("source", "lang"))


_QKL_SQL = """
WITH sl AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY source, lang
), stot AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM sl GROUP BY source
), langs AS (
  SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) AS v FROM sl
), ctot AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS cc FROM documents GROUP BY lang
), call AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nc FROM documents
)
SELECT source, lang, c AS n_docs,
       ROUND((CAST(c + 1 AS DOUBLE) / CAST(ns + v AS DOUBLE))
             * ln((CAST(c + 1 AS DOUBLE) / CAST(ns + v AS DOUBLE))
                  / (CAST(cc + 1 AS DOUBLE) / CAST(nc + v AS DOUBLE))), 9)
         + 0.0 AS kl_term
FROM sl JOIN stot USING (source) JOIN ctot USING (lang)
CROSS JOIN call CROSS JOIN langs
ORDER BY source, lang
"""

R8_QUERIES["source_lang_kl"] = (q_source_lang_kl, _QKL_SQL, False)


# --- snapshot_files_stats ---------------------------------------------------

def q_snapshot_files_stats(spark, sf_dir):
    """The snapshot layer's METADATA tables driven as a query: create a
    versioned table (4 files), append (2 more), then bin-pack compaction
    (down to 1) — and report, per snapshot, the operation, live file
    count (history metadata table) and row count (time-travel read).
    File counts are deterministic because every write declares its
    partitioning; row counts are pure data.  This is the
    `SELECT * FROM t.history` / maintenance-procedure surface of the
    reference's Iceberg side exercised through the declared-query gate
    (file sizes are intentionally NOT reported — parquet encoding bytes
    are engine detail, not semantics)."""
    import tempfile

    from ..operators.snapshots import SnapshotTable

    nation = load_table(spark, sf_dir, "nation")
    path = tempfile.mkdtemp(prefix="snapfq_") + "/nation"
    t = SnapshotTable.create(spark, path, nation.repartition(4))
    t.append(spark, nation.filter(F.col("n_regionkey") == 0).repartition(2))
    t.compact(spark)
    hist = t.history_df(spark).select("version", "operation", "n_files")
    rows = None
    for v in t.versions():
        c = (t.read(spark, version=v)
             .groupBy().agg(F.count(F.lit(1)).alias("n_rows"))
             .select(F.lit(v).cast("long").alias("version"), "n_rows"))
        rows = c if rows is None else rows.unionByName(c)
    return (hist.join(rows, "version")
            .select("version", "operation", "n_files",
                    F.col("n_rows").cast("long").alias("n_rows"))
            .orderBy("version"))


_QSNAPF_SQL = """
WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM nation),
     r AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM nation
           WHERE n_regionkey = 0)
SELECT CAST(1 AS BIGINT) AS version, 'create' AS operation,
       CAST(4 AS BIGINT) AS n_files, n.c AS n_rows
FROM n
UNION ALL
SELECT CAST(2 AS BIGINT), 'append', CAST(6 AS BIGINT), n.c + r.c
FROM n CROSS JOIN r
UNION ALL
SELECT CAST(3 AS BIGINT), 'compact', CAST(1 AS BIGINT), n.c + r.c
FROM n CROSS JOIN r
ORDER BY version
"""

R8_QUERIES["snapshot_files_stats"] = (q_snapshot_files_stats, _QSNAPF_SQL, False)


# --- spatial_hexbin_density -------------------------------------------------

def q_spatial_hexbin_density(spark, sf_dir):
    """Hexagonal binning of the customer point cloud (pointy-top axial
    coordinates, size 15 degrees, exact cube rounding) — the hex
    aggregation every geo-viz stack runs, done natively: axial transform,
    cube round with branch fix-up, one (q, r)-keyed aggregation.  The
    floor(v + 0.5) spelling avoids round-half tie semantics entirely, and
    every arithmetic step is mirrored token-for-token in the oracle."""
    cust = load_table(spark, sf_dir, "customer")
    x = (F.col("c_custkey") % 360 - 180).cast("double")
    y = ((F.col("c_custkey") * 7) % 180 - 90).cast("double")
    s = F.lit(15.0)
    qf = (F.sqrt(F.lit(3.0)) / 3 * x - y / 3) / s
    rf = (F.lit(2.0) / 3 * y) / s
    xc, zc = qf, rf
    yc = -qf - rf
    rx = F.floor(xc + 0.5)
    ry = F.floor(yc + 0.5)
    rz = F.floor(zc + 0.5)
    dx = F.abs(rx - xc)
    dy = F.abs(ry - yc)
    dz = F.abs(rz - zc)
    hq = F.when((dx > dy) & (dx > dz), -ry - rz).otherwise(rx)
    hr = F.when((dx > dy) & (dx > dz), rz) \
        .when(dy > dz, rz).otherwise(-rx - ry)
    return (cust.select(hq.cast("long").alias("hq"),
                        hr.cast("long").alias("hr"))
            .groupBy("hq", "hr").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("hq", "hr"))


_QHEX_SQL = """
WITH pts AS (
  SELECT CAST(c_custkey % 360 - 180 AS DOUBLE) AS x,
         CAST((c_custkey * 7) % 180 - 90 AS DOUBLE) AS y
  FROM customer
), ax AS (
  SELECT (sqrt(3.0) / 3 * x - y / 3) / 15.0 AS xc,
         (2.0 / 3 * y) / 15.0 AS zc,
         -((sqrt(3.0) / 3 * x - y / 3) / 15.0)
           - ((2.0 / 3 * y) / 15.0) AS yc
  FROM pts
), rr AS (
  SELECT xc, yc, zc,
         floor(xc + 0.5) AS rx, floor(yc + 0.5) AS ry, floor(zc + 0.5) AS rz,
         abs(floor(xc + 0.5) - xc) AS dx,
         abs(floor(yc + 0.5) - yc) AS dy,
         abs(floor(zc + 0.5) - zc) AS dz
  FROM ax
)
SELECT CAST(CASE WHEN dx > dy AND dx > dz THEN -ry - rz ELSE rx END
            AS BIGINT) AS hq,
       CAST(CASE WHEN dx > dy AND dx > dz THEN rz
                 WHEN dy > dz THEN rz ELSE -rx - ry END AS BIGINT) AS hr,
       CAST(COUNT(*) AS BIGINT) AS n
FROM rr
GROUP BY 1, 2
ORDER BY hq, hr
"""

R8_QUERIES["spatial_hexbin_density"] = (
    q_spatial_hexbin_density, _QHEX_SQL, False)


# --- events_ks_test ---------------------------------------------------------

def q_events_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov statistic between the click and
    purchase value distributions: D = max |F1(v) - F2(v)| over the pooled
    support, with the achieving value (ties to the smallest) — the
    distribution-equality test behind drift alarms, computed exactly from
    integer cumulative counts (the only floats are two final divisions).

    Scale shape: one value-keyed count per side, one full-outer merge,
    one ordered window for the cumulatives — all on the distinct-value
    table, never the raw stream."""
    ev = load_table(spark, sf_dir, "events")
    a = (ev.filter(F.col("event_type") == "click")
         .groupBy("value").agg(F.count(F.lit(1)).alias("ca")))
    b = (ev.filter(F.col("event_type") == "purchase")
         .groupBy("value").agg(F.count(F.lit(1)).alias("cb")))
    m = (a.join(b, "value", "full")
         .select("value", F.coalesce("ca", F.lit(0)).alias("ca"),
                 F.coalesce("cb", F.lit(0)).alias("cb")))
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    cum = m.select("value",
                   F.sum("ca").over(w).cast("long").alias("c1"),
                   F.sum("cb").over(w).cast("long").alias("c2"))
    tot = (ev.agg(
        F.sum((F.col("event_type") == "click").cast("int")).cast("long")
        .alias("n1"),
        F.sum((F.col("event_type") == "purchase").cast("int")).cast("long")
        .alias("n2")))
    d = F.abs(F.col("c1").cast("double") / F.col("n1").cast("double")
              - F.col("c2").cast("double") / F.col("n2").cast("double"))
    return (cum.crossJoin(F.broadcast(tot))
            .select("n1", "n2", d.alias("d"), "value")
            .orderBy(F.col("d").desc(), F.col("value").asc())
            .limit(1)
            .select("n1", "n2", F.round("d", 9).alias("ks_d"),
                    F.round("value", 6).alias("at_value")))


_QKS_SQL = """
WITH a AS (
  SELECT value, CAST(COUNT(*) AS BIGINT) AS ca FROM events
  WHERE event_type = 'click' GROUP BY value
), b AS (
  SELECT value, CAST(COUNT(*) AS BIGINT) AS cb FROM events
  WHERE event_type = 'purchase' GROUP BY value
), m AS (
  SELECT COALESCE(a.value, b.value) AS value,
         COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
  FROM a FULL OUTER JOIN b ON a.value = b.value
), cum AS (
  SELECT value,
         CAST(SUM(ca) OVER (ORDER BY value
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS c1,
         CAST(SUM(cb) OVER (ORDER BY value
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS c2
  FROM m
), tot AS (
  SELECT CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n2
  FROM events
)
SELECT n1, n2,
       ROUND(abs(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                 - CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE)), 9) + 0.0
         AS ks_d,
       ROUND(value, 6) + 0.0 AS at_value
FROM cum CROSS JOIN tot
ORDER BY abs(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             - CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE)) DESC, value ASC
LIMIT 1
"""

R8_QUERIES["events_ks_test"] = (q_events_ks_test, _QKS_SQL, False)


# --- lineitem_group_ols -----------------------------------------------------

def q_lineitem_group_ols(spark, sf_dir):
    """Grouped closed-form OLS: per return flag, regress extended price on
    quantity from the five sufficient statistics {n, Sx, Sy, Sxy, Sxx} in
    ONE aggregation — the grouped-model-fitting shape (segment-level
    elasticities, per-tenant trends) next to the global IRLS fit.
    Inputs are scaled (x/50, y/1e5) so partial sums stay O(1e3) and
    summation-order wobble lands below the ROUND grain; slope/intercept
    are de-scaled in the finish expression, identical on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity") / F.lit(50.0)
    y = F.col("l_extendedprice") / F.lit(100000.0)
    s = (li.groupBy("l_returnflag")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(x).alias("sx"), F.sum(y).alias("sy"),
              F.sum(x * y).alias("sxy"), F.sum(x * x).alias("sxx")))
    nd = F.col("n").cast("double")
    slope_s = ((nd * F.col("sxy") - F.col("sx") * F.col("sy"))
               / (nd * F.col("sxx") - F.col("sx") * F.col("sx")))
    inter_s = (F.col("sy") - slope_s * F.col("sx")) / nd
    return (s.select("l_returnflag", "n",
                     F.round(slope_s * F.lit(2000.0), 6).alias("slope"),
                     F.round(inter_s * F.lit(100000.0), 6).alias("intercept"))
            .orderBy("l_returnflag"))


_QOLS_SQL = """
WITH s AS (
  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(l_quantity / 50.0) AS sx,
         SUM(l_extendedprice / 100000.0) AS sy,
         SUM((l_quantity / 50.0) * (l_extendedprice / 100000.0)) AS sxy,
         SUM((l_quantity / 50.0) * (l_quantity / 50.0)) AS sxx
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       ROUND(((CAST(n AS DOUBLE) * sxy - sx * sy)
              / (CAST(n AS DOUBLE) * sxx - sx * sx)) * 2000.0, 6) + 0.0
         AS slope,
       ROUND(((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
                     / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
              / CAST(n AS DOUBLE)) * 100000.0, 6) + 0.0 AS intercept
FROM s
ORDER BY l_returnflag
"""

R8_QUERIES["lineitem_group_ols"] = (q_lineitem_group_ols, _QOLS_SQL, False)


# --- part_also_bought_topk --------------------------------------------------

def q_part_also_bought_topk(spark, sf_dir):
    """Item-item recommender surface: for each of the first 50 parts, the
    top-3 co-purchased parts by support (ties to the smaller partkey) —
    the "customers also bought" panel, computed from the order-local pair
    table (equi-join on the order key bounds pair generation, the
    part_basket_lift shape) with a per-item window for the top-k.

    Scale shape: one order-keyed equi-join + one (item, item) count + one
    item-keyed window — never an all-pairs product."""
    po = (load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_partkey").distinct())
    a = po.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p"))
    b = po.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("q"))
    co = (a.join(b, "ok").filter(F.col("p") != F.col("q"))
          .groupBy("p", "q").agg(F.count(F.lit(1)).alias("supp")))
    w = Window.partitionBy("p").orderBy(F.col("supp").desc(), F.col("q").asc())
    return (co.filter(F.col("p") <= 50)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select(F.col("p").alias("p_partkey"),
                    F.col("q").alias("also_bought"),
                    F.col("supp").cast("long").alias("supp"),
                    F.col("rank").cast("int").alias("rank"))
            .orderBy("p_partkey", "rank"))


_QALSO_SQL = """
WITH po AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), co AS (
  SELECT a.l_partkey AS p, b.l_partkey AS q,
         CAST(COUNT(*) AS BIGINT) AS supp
  FROM po a JOIN po b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
)
SELECT p AS p_partkey, q AS also_bought, supp, CAST(rank AS INT) AS rank
FROM (SELECT p, q, supp,
             row_number() OVER (PARTITION BY p
                                ORDER BY supp DESC, q ASC) AS rank
      FROM co WHERE p <= 50)
WHERE rank <= 3
ORDER BY p_partkey, rank
"""

R8_QUERIES["part_also_bought_topk"] = (
    q_part_also_bought_topk, _QALSO_SQL, False)


# --- user_transition_entropy ------------------------------------------------

def q_user_transition_entropy(spark, sf_dir):
    """Behavioral predictability per user: the entropy RATE of each user's
    event-type Markov chain — sum over observed transitions of
    -p(a) p(b|a) log2 p(b|a), from one lag window + two keyed counts —
    low entropy = scripted/bot-like sequences, high = diverse behavior
    (the per-user drill-down of the global event_transitions matrix).
    Reported per (user, from-state) term so the output stays
    summation-order-free; users < 100 bound the declared output."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (ev.withColumn("nxt", F.lead("event_type").over(w))
          .filter(F.col("nxt").isNotNull())
          .select("user_id", F.col("event_type").alias("a"),
                  F.col("nxt").alias("b")))
    ab = tr.groupBy("user_id", "a", "b").agg(F.count(F.lit(1)).alias("cab"))
    at = ab.groupBy("user_id", "a").agg(F.sum("cab").cast("long").alias("ca"))
    ut = at.groupBy("user_id").agg(F.sum("ca").cast("long").alias("cu"))
    j = ab.join(at, ["user_id", "a"]).join(ut, "user_id")
    pa = F.col("ca").cast("double") / F.col("cu").cast("double")
    pba = F.col("cab").cast("double") / F.col("ca").cast("double")
    term = -pa * pba * F.log2(pba)
    return (j.groupBy("user_id", "a")
            .agg(F.count(F.lit(1)).cast("long").alias("n_targets"),
                 F.round(F.sum(term), 9).alias("h_term"))
            .orderBy("user_id", "a"))


_QTRANSH_SQL = """
WITH tr AS (
  SELECT user_id, event_type AS a,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS b
  FROM events WHERE user_id < 100
), t2 AS (
  SELECT user_id, a, b FROM tr WHERE b IS NOT NULL
), ab AS (
  SELECT user_id, a, b, CAST(COUNT(*) AS BIGINT) AS cab
  FROM t2 GROUP BY user_id, a, b
), at AS (
  SELECT user_id, a, CAST(SUM(cab) AS BIGINT) AS ca FROM ab
  GROUP BY user_id, a
), ut AS (
  SELECT user_id, CAST(SUM(ca) AS BIGINT) AS cu FROM at GROUP BY user_id
)
SELECT ab.user_id AS user_id, ab.a AS a,
       CAST(COUNT(*) AS BIGINT) AS n_targets,
       ROUND(SUM(-(CAST(ca AS DOUBLE) / CAST(cu AS DOUBLE))
                 * (CAST(cab AS DOUBLE) / CAST(ca AS DOUBLE))
                 * log2(CAST(cab AS DOUBLE) / CAST(ca AS DOUBLE))), 9)
         + 0.0 AS h_term
FROM ab JOIN at ON at.user_id = ab.user_id AND at.a = ab.a
JOIN ut ON ut.user_id = ab.user_id
GROUP BY ab.user_id, ab.a
ORDER BY ab.user_id, ab.a
"""

R8_QUERIES["user_transition_entropy"] = (
    q_user_transition_entropy, _QTRANSH_SQL, False)


# --- multimodal_audio_chunks ------------------------------------------------

def q_multimodal_audio_chunks(spark, sf_dir):
    """Audio framing plumbing (multimodal.audio_chunk_energy): 32-byte
    deterministic synthetic payloads (md5 of the text, twice) framed into
    8-byte chunks through the real Arrow-batched mapInPandas boundary,
    one row per frame with its byte-sum energy — value-checked per frame
    by the oracle's identical hex arithmetic (the fourth multimodal
    stage; the 1->N fan-out happens inside the Python stage, never as an
    engine-side explode of the binary column)."""
    from ..pipeline import multimodal as mm

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    payloads = docs.select(
        "doc_id",
        F.unhex(F.concat(F.md5("text"), F.md5("text"))).alias("payload"))
    out = mm.audio_chunk_energy(payloads, "doc_id", "payload", frame_bytes=8)
    return (out.select(F.col("id").alias("doc_id"), "frame_idx",
                       "n_bytes", "energy")
            .orderBy("doc_id", "frame_idx"))


def _audio_sql() -> str:
    frames = []
    for k in range(4):
        terms = " + ".join(
            f"('0x' || substr(h, {(k * 8 + i) * 2 + 1}, 2))::BIGINT"
            for i in range(8))
        frames.append(
            f"SELECT doc_id, CAST({k} AS INT) AS frame_idx, "
            f"CAST(8 AS BIGINT) AS n_bytes, "
            f"CAST({terms} AS BIGINT) AS energy "
            f"FROM h")
    return """
WITH h AS (
  SELECT doc_id, md5(text) || md5(text) AS h FROM documents
  WHERE doc_id < 100
)
""" + "\nUNION ALL\n".join(frames) + "\nORDER BY doc_id, frame_idx\n"


R8_QUERIES["multimodal_audio_chunks"] = (
    q_multimodal_audio_chunks, _audio_sql(), False)


# --- part_link_prediction ---------------------------------------------------

def q_part_link_prediction(spark, sf_dir):
    """Link prediction on the part co-purchase graph: common-neighbor
    Jaccard over 2-hop pairs that are NOT already edges — the classic
    recommender/graph-completion score (cn / (deg_u + deg_v - cn)),
    top-20 predicted links.

    Scale shape: candidate pairs come from a wedge join (two edge-keyed
    joins through the shared middle vertex — work is sum of squared
    degrees, bounded for sparse graphs; cap hub degrees at 100 TB),
    existing edges removed with an anti-join, degrees broadcast."""
    po = (load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_partkey").distinct())
    a = po.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = po.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (a.join(b, "ok").filter(F.col("u") < F.col("v"))
             .groupBy("u", "v").agg(F.count(F.lit(1)).alias("supp"))
             .filter(F.col("supp") >= 2).select("u", "v"))
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    w1 = sym.select(F.col("u").alias("a"), F.col("v").alias("w"))
    w2 = sym.select(F.col("u").alias("w"), F.col("v").alias("b"))
    cn = (w1.join(w2, "w").filter(F.col("a") < F.col("b"))
          .groupBy("a", "b").agg(F.count(F.lit(1)).alias("cn")))
    cand = cn.join(edges, (cn.a == edges.u) & (cn.b == edges.v), "left_anti")
    scored = (cand
              .join(deg.select(F.col("u").alias("a"),
                               F.col("deg").alias("da")), "a")
              .join(deg.select(F.col("u").alias("b"),
                               F.col("deg").alias("db")), "b")
              .select("a", "b", F.col("cn").cast("long").alias("cn"),
                      (F.col("cn").cast("double")
                       / (F.col("da") + F.col("db") - F.col("cn"))
                       .cast("double")).alias("j")))
    return (scored.orderBy(F.col("j").desc(), F.col("a").asc(),
                           F.col("b").asc())
            .limit(20)
            .select(F.col("a").alias("u"), F.col("b").alias("v"), "cn",
                    F.round("j", 9).alias("jaccard")))


_QLINK_SQL = """
WITH po AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM po a JOIN po b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
), sym AS (
  SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e
), deg AS (
  SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY u
), cn AS (
  SELECT w1.u AS a, w2.v AS b, CAST(COUNT(*) AS BIGINT) AS cn
  FROM sym w1 JOIN sym w2 ON w2.u = w1.v AND w1.u < w2.v
  GROUP BY 1, 2
), cand AS (
  SELECT a, b, cn FROM cn
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = cn.a AND e.v = cn.b)
)
SELECT a AS u, b AS v, cn,
       ROUND(CAST(cn AS DOUBLE)
             / CAST(da.deg + db.deg - cn AS DOUBLE), 9) + 0.0 AS jaccard
FROM cand
JOIN deg da ON da.u = cand.a
JOIN deg db ON db.u = cand.b
ORDER BY CAST(cn AS DOUBLE) / CAST(da.deg + db.deg - cn AS DOUBLE) DESC,
         a ASC, b ASC
LIMIT 20
"""

R8_QUERIES["part_link_prediction"] = (q_part_link_prediction, _QLINK_SQL, False)


# --- ivm_orders_agg ---------------------------------------------------------

def q_ivm_orders_agg(spark, sf_dir):
    """Incremental view maintenance over the CDC changelog: a revenue-by-
    priority aggregate is maintained from snapshot v1 to v2 by applying
    ONLY the changelog delta (changes(1, 2) insert/delete rows, signed
    and re-aggregated) to the v1 aggregate — never rescanning the base
    table — and the query RETURNS the IVM-maintained result, which must
    equal the oracle's direct aggregate over the v2 contents.  This is
    the materialized-view refresh path every warehouse needs at 100 TB
    (delta-sized work per refresh, the SUM/COUNT monoid refreshed via
    +1/-1 signs).

    The maintained sum groups addends differently than a direct rescan
    (base-sum + delta-sum), so the result is rounded to CENTS — 1e-2 is
    ~5 orders of magnitude above the worst summation-order wobble at
    this revenue magnitude, where a 1e-4 grain would sit only ~250x
    above it."""
    import tempfile

    from ..operators.snapshots import SnapshotTable

    orders = load_table(spark, sf_dir, "orders")
    path = tempfile.mkdtemp(prefix="ivmq_") + "/orders"
    base = orders.filter(F.col("o_orderkey") % 3 != 0)
    delta = orders.filter(F.col("o_orderkey") % 3 == 0)
    t = SnapshotTable.create(spark, path, base.repartition(4))
    agg_v1 = (t.read(spark, version=1)
              .groupBy("o_orderpriority")
              .agg(F.sum("o_totalprice").alias("rev"),
                   F.count(F.lit(1)).alias("n")))
    t.append(spark, delta.repartition(2))
    ch = t.changes(spark, 1, 2)
    sgn = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    d_agg = (ch.groupBy("o_orderpriority")
             .agg(F.sum(sgn * F.col("o_totalprice")).alias("d_rev"),
                  F.sum(sgn).cast("long").alias("d_n")))
    merged = (agg_v1.join(d_agg, "o_orderpriority", "full")
              .select("o_orderpriority",
                      (F.coalesce("rev", F.lit(0.0))
                       + F.coalesce("d_rev", F.lit(0.0))).alias("rev"),
                      (F.coalesce("n", F.lit(0))
                       + F.coalesce("d_n", F.lit(0))).cast("long").alias("n")))
    return (merged.select("o_orderpriority",
                          F.round("rev", 2).alias("revenue"),
                          "n")
            .orderBy("o_orderpriority"))


_QIVM_SQL = """
SELECT o_orderpriority, ROUND(SUM(o_totalprice), 2) + 0.0 AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

R8_QUERIES["ivm_orders_agg"] = (q_ivm_orders_agg, _QIVM_SQL, False)


# --- lineitem_discount_did --------------------------------------------------

def q_lineitem_discount_did(spark, sf_dir):
    """Difference-in-differences estimate: the change in average revenue
    per line for discounted (> 5%) vs non-discounted lines, before vs
    after a ship-date cutoff — the 2x2 causal baseline, computed from
    FOUR conditional sums in ONE aggregation pass.  Inputs scaled by 1e5
    so the conditional partial sums stay O(1e3) under the ROUND-6 output
    grain."""
    li = load_table(spark, sf_dir, "lineitem")
    cut = F.lit("1997-01-01").cast("timestamp")
    treated = F.col("l_discount") > 0.05
    post = F.col("l_shipdate") >= cut
    y = F.col("l_extendedprice") * (1 - F.col("l_discount")) / F.lit(100000.0)

    def cell(cond, name):
        return [F.sum(F.when(cond, y)).alias(f"s_{name}"),
                F.sum(F.when(cond, 1).otherwise(0)).cast("long")
                .alias(f"n_{name}")]

    agg = li.agg(*cell(treated & post, "tp"), *cell(treated & ~post, "tq"),
                 *cell(~treated & post, "cp"), *cell(~treated & ~post, "cq"))
    m = {k: F.col(f"s_{k}") / F.col(f"n_{k}").cast("double") * F.lit(100000.0)
         for k in ("tp", "tq", "cp", "cq")}
    did = (m["tp"] - m["tq"]) - (m["cp"] - m["cq"])
    return agg.select(
        F.col("n_tp").alias("n_treated_post"),
        F.col("n_tq").alias("n_treated_pre"),
        F.col("n_cp").alias("n_control_post"),
        F.col("n_cq").alias("n_control_pre"),
        F.round(m["tp"] - m["tq"], 6).alias("treated_delta"),
        F.round(m["cp"] - m["cq"], 6).alias("control_delta"),
        F.round(did, 6).alias("did"))


_QDID_SQL = """
WITH agg AS (
  SELECT
    SUM(CASE WHEN l_discount > 0.05 AND l_shipdate >= TIMESTAMP '1997-01-01'
             THEN l_extendedprice * (1 - l_discount) / 100000.0 END) AS s_tp,
    CAST(SUM(CASE WHEN l_discount > 0.05
                   AND l_shipdate >= TIMESTAMP '1997-01-01'
             THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
    SUM(CASE WHEN l_discount > 0.05 AND l_shipdate < TIMESTAMP '1997-01-01'
             THEN l_extendedprice * (1 - l_discount) / 100000.0 END) AS s_tq,
    CAST(SUM(CASE WHEN l_discount > 0.05
                   AND l_shipdate < TIMESTAMP '1997-01-01'
             THEN 1 ELSE 0 END) AS BIGINT) AS n_tq,
    SUM(CASE WHEN l_discount <= 0.05 AND l_shipdate >= TIMESTAMP '1997-01-01'
             THEN l_extendedprice * (1 - l_discount) / 100000.0 END) AS s_cp,
    CAST(SUM(CASE WHEN l_discount <= 0.05
                   AND l_shipdate >= TIMESTAMP '1997-01-01'
             THEN 1 ELSE 0 END) AS BIGINT) AS n_cp,
    SUM(CASE WHEN l_discount <= 0.05 AND l_shipdate < TIMESTAMP '1997-01-01'
             THEN l_extendedprice * (1 - l_discount) / 100000.0 END) AS s_cq,
    CAST(SUM(CASE WHEN l_discount <= 0.05
                   AND l_shipdate < TIMESTAMP '1997-01-01'
             THEN 1 ELSE 0 END) AS BIGINT) AS n_cq
  FROM lineitem
)
SELECT n_tp AS n_treated_post, n_tq AS n_treated_pre,
       n_cp AS n_control_post, n_cq AS n_control_pre,
       ROUND(s_tp / CAST(n_tp AS DOUBLE) * 100000.0
             - s_tq / CAST(n_tq AS DOUBLE) * 100000.0, 6) + 0.0
         AS treated_delta,
       ROUND(s_cp / CAST(n_cp AS DOUBLE) * 100000.0
             - s_cq / CAST(n_cq AS DOUBLE) * 100000.0, 6) + 0.0
         AS control_delta,
       ROUND((s_tp / CAST(n_tp AS DOUBLE) * 100000.0
              - s_tq / CAST(n_tq AS DOUBLE) * 100000.0)
             - (s_cp / CAST(n_cp AS DOUBLE) * 100000.0
                - s_cq / CAST(n_cq AS DOUBLE) * 100000.0), 6) + 0.0 AS did
FROM agg
"""

R8_QUERIES["lineitem_discount_did"] = (
    q_lineitem_discount_did, _QDID_SQL, False)


# --- events_rate_intervals --------------------------------------------------

def q_events_rate_intervals(spark, sf_dir):
    """Per-type event rate with a normal-approximation Poisson interval:
    events per hour over the observed span, +- 1.96 * sqrt(n)/hours —
    the alerting-threshold primitive (is this type's rate compatible
    with baseline?), all closed-form from one aggregation (span from
    min/max event time, integer counts, deterministic scalar finish)."""
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(
        (F.unix_micros(F.max(F.col("ts")).cast("timestamp"))
         - F.unix_micros(F.min(F.col("ts")).cast("timestamp"))).alias("us"))
    cnt = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    hours = F.col("us").cast("double") / F.lit(3600000000.0)
    rate = F.col("n").cast("double") / hours
    half = F.lit(1.96) * F.sqrt(F.col("n").cast("double")) / hours
    return (cnt.crossJoin(F.broadcast(span))
            .select("event_type", "n",
                    F.round(rate, 9).alias("rate_per_hour"),
                    F.round(rate - half, 9).alias("lo"),
                    F.round(rate + half, 9).alias("hi"))
            .orderBy("event_type"))


_QRATE_SQL = """
WITH span AS (
  SELECT epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS us FROM events
), cnt AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM events
  GROUP BY event_type
)
SELECT event_type, n,
       ROUND(CAST(n AS DOUBLE) / (CAST(us AS DOUBLE) / 3600000000.0), 9)
         + 0.0 AS rate_per_hour,
       ROUND(CAST(n AS DOUBLE) / (CAST(us AS DOUBLE) / 3600000000.0)
             - 1.96 * sqrt(CAST(n AS DOUBLE))
               / (CAST(us AS DOUBLE) / 3600000000.0), 9) + 0.0 AS lo,
       ROUND(CAST(n AS DOUBLE) / (CAST(us AS DOUBLE) / 3600000000.0)
             + 1.96 * sqrt(CAST(n AS DOUBLE))
               / (CAST(us AS DOUBLE) / 3600000000.0), 9) + 0.0 AS hi
FROM cnt CROSS JOIN span
ORDER BY event_type
"""

R8_QUERIES["events_rate_intervals"] = (
    q_events_rate_intervals, _QRATE_SQL, False)


# --- doc_blocklist_rate -----------------------------------------------------

def q_doc_blocklist_rate(spark, sf_dir):
    """Safety-filter pass: per-source rate of documents hitting a content
    blocklist (native regexp over a word-boundary alternation — the same
    RE2-compatible pattern both engines run), with hit and doc counts —
    the policy-filter stage every corpus pipeline runs next to PII
    scrubbing.  The blocklist here is a deterministic stand-in (common
    word stems) so the rate is non-trivially between 0 and 1."""
    docs = load_table(spark, sf_dir, "documents")
    pat = r"\b(danger|risk|attack|broken|fail)\w*"
    hit = F.when(F.lower("text").rlike(pat), 1).otherwise(0)
    return (docs.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(hit).cast("long").alias("n_hits"))
            .select("source", "n_docs", "n_hits",
                    F.round(F.col("n_hits").cast("double")
                            / F.col("n_docs").cast("double"), 9)
                    .alias("hit_rate"))
            .orderBy("source"))


_QBLOCK_SQL = r"""
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN regexp_matches(lower(text),
                 '\b(danger|risk|attack|broken|fail)\w*')
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       ROUND(CAST(SUM(CASE WHEN regexp_matches(lower(text),
                 '\b(danger|risk|attack|broken|fail)\w*')
                 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 9) + 0.0 AS hit_rate
FROM documents
GROUP BY source
ORDER BY source
"""

R8_QUERIES["doc_blocklist_rate"] = (q_doc_blocklist_rate, _QBLOCK_SQL, False)


# --- events_changepoint_binseg ----------------------------------------------

def q_events_changepoint_binseg(spark, sf_dir):
    """Binary-segmentation changepoint (first split) over the daily event
    value series: the split day t maximizing the scaled mean shift
    |mean(1..t) - mean(t+1..n)| * sqrt(t*(n-t)/n) — the other classic
    next to CUSUM, computed from prefix sums over the day-count-sized
    table (one window pass + one argmax; ties to the earliest day).
    Daily means are ROUNDed to 6 before the shift arithmetic so
    cross-engine summation wobble in the daily sums can't reach the
    argmax comparison."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
             .agg(F.round(F.avg("value"), 6).alias("m")))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    pre = (daily.select("day", "m",
                        F.sum("m").over(w).alias("ps"),
                        F.row_number().over(Window.orderBy("day")).alias("t")))
    tot = pre.agg(F.max("t").cast("long").alias("n"),
                  F.sum("m").alias("s"))
    j = pre.crossJoin(F.broadcast(tot)).filter(F.col("t") < F.col("n"))
    td = F.col("t").cast("double")
    nd = F.col("n").cast("double")
    shift = F.abs(F.col("ps") / td - (F.col("s") - F.col("ps")) / (nd - td)) \
        * F.sqrt(td * (nd - td) / nd)
    return (j.select("day", F.col("t").cast("int").alias("t"),
                     shift.alias("score"))
            .orderBy(F.col("score").desc(), F.col("day").asc())
            .limit(1)
            .select("day", "t", F.round("score", 9).alias("score")))


_QBINSEG_SQL = """
WITH daily AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, ROUND(AVG(value), 6) AS m
  FROM events GROUP BY 1
), pre AS (
  SELECT day, m,
         SUM(m) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ps,
         row_number() OVER (ORDER BY day) AS t
  FROM daily
), tot AS (
  SELECT CAST(MAX(t) AS BIGINT) AS n, SUM(m) AS s FROM pre
)
SELECT day, CAST(t AS INT) AS t,
       ROUND(abs(ps / CAST(t AS DOUBLE)
                 - (s - ps) / (CAST(n AS DOUBLE) - CAST(t AS DOUBLE)))
             * sqrt(CAST(t AS DOUBLE)
                    * (CAST(n AS DOUBLE) - CAST(t AS DOUBLE))
                    / CAST(n AS DOUBLE)), 9) + 0.0 AS score
FROM pre CROSS JOIN tot
WHERE t < n
ORDER BY abs(ps / CAST(t AS DOUBLE)
             - (s - ps) / (CAST(n AS DOUBLE) - CAST(t AS DOUBLE)))
         * sqrt(CAST(t AS DOUBLE)
                * (CAST(n AS DOUBLE) - CAST(t AS DOUBLE))
                / CAST(n AS DOUBLE)) DESC, day ASC
LIMIT 1
"""

R8_QUERIES["events_changepoint_binseg"] = (
    q_events_changepoint_binseg, _QBINSEG_SQL, False)


# --- embedding_matryoshka_recall --------------------------------------------

def q_embedding_matryoshka_recall(spark, sf_dir):
    """Matryoshka truncation audit: recall@5 of cosine ranking using only
    the FIRST 16 of 64 dimensions against the full-vector ranking, per
    query — the dimension-truncation quality check (the cheap-prefilter
    dual of the int8 audit: precision in fewer dims vs fewer bits).

    Scale shape: both rankings share one broadcast of the 10-row query
    side; rank windows per query; recall joins the two 5-row top lists."""
    emb = load_table(spark, sf_dir, "embeddings")
    vd = F.transform("embedding", lambda v: v.cast("double"))
    base = emb.select("vec_id", vd.alias("v"), F.slice(vd, 1, 16).alias("v16"))
    q = base.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
        F.col("v16").alias("qv16"))
    d = base.select(F.col("vec_id").alias("did"), F.col("v").alias("dv"),
                    F.col("v16").alias("dv16"))

    def cos(a, b):
        dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                          F.lit(0.0), lambda acc, v: acc + v)
        na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                                F.lit(0.0), lambda acc, v: acc + v))
        nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x),
                                F.lit(0.0), lambda acc, v: acc + v))
        return dot / (na * nb)

    pairs = (d.crossJoin(F.broadcast(q))
             .filter(F.col("qid") != F.col("did"))
             .select("qid", "did",
                     cos(F.col("qv"), F.col("dv")).alias("c_full"),
                     cos(F.col("qv16"), F.col("dv16")).alias("c_trunc")))
    wf = Window.partitionBy("qid").orderBy(F.col("c_full").desc(),
                                           F.col("did").asc())
    wt = Window.partitionBy("qid").orderBy(F.col("c_trunc").desc(),
                                           F.col("did").asc())
    top_f = pairs.withColumn("r", F.row_number().over(wf)) \
        .filter(F.col("r") <= 5).select("qid", "did")
    top_t = pairs.withColumn("r", F.row_number().over(wt)) \
        .filter(F.col("r") <= 5).select("qid", "did")
    hit = top_f.join(top_t, ["qid", "did"]).groupBy("qid") \
        .agg(F.count(F.lit(1)).alias("hits"))
    return (top_f.groupBy("qid").agg(F.count(F.lit(1)).alias("k"))
            .join(hit, "qid", "left")
            .select(F.col("qid").alias("query_id"),
                    F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
                    F.round(F.coalesce("hits", F.lit(0)).cast("double")
                            / F.lit(5.0), 6).alias("recall_at_5"))
            .orderBy("query_id"))


_QMATRYOSHKA_SQL = """
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, (embedding::DOUBLE[])[1:16] AS v16
  FROM embeddings
), pairs AS (
  SELECT q.vec_id AS qid, d.vec_id AS did,
         list_cosine_similarity(q.v, d.v) AS c_full,
         list_cosine_similarity(q.v16, d.v16) AS c_trunc
  FROM base d CROSS JOIN (SELECT * FROM base WHERE vec_id < 10) q
  WHERE q.vec_id <> d.vec_id
), top_f AS (
  SELECT qid, did FROM (
    SELECT qid, did, row_number() OVER (PARTITION BY qid
           ORDER BY c_full DESC, did ASC) AS r FROM pairs) WHERE r <= 5
), top_t AS (
  SELECT qid, did FROM (
    SELECT qid, did, row_number() OVER (PARTITION BY qid
           ORDER BY c_trunc DESC, did ASC) AS r FROM pairs) WHERE r <= 5
), hit AS (
  SELECT qid, CAST(COUNT(*) AS BIGINT) AS hits
  FROM top_f JOIN top_t USING (qid, did) GROUP BY qid
)
SELECT f.qid AS query_id, COALESCE(h.hits, 0) AS hits,
       ROUND(CAST(COALESCE(h.hits, 0) AS DOUBLE) / 5.0, 6) + 0.0
         AS recall_at_5
FROM (SELECT DISTINCT qid FROM top_f) f
LEFT JOIN hit h ON h.qid = f.qid
ORDER BY query_id
"""

R8_QUERIES["embedding_matryoshka_recall"] = (
    q_embedding_matryoshka_recall, _QMATRYOSHKA_SQL, False)


# --- part_kcore -------------------------------------------------------------

def q_part_kcore(spark, sf_dir):
    """k-core decomposition (k = 4, three peeling rounds) of the part
    co-purchase graph: iteratively drop vertices with degree < 4 and
    report the surviving core membership with final in-core degrees —
    the density-mining primitive (community cores, spam rings) next to
    components/PageRank/BFS.  Three fixed rounds make the oracle an
    unrolled CTE chain; each round is one degree count + one semi-join.
    """
    po = (load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_partkey").distinct())
    a = po.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = po.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (a.join(b, "ok").filter(F.col("u") < F.col("v"))
             .groupBy("u", "v").agg(F.count(F.lit(1)).alias("supp"))
             .filter(F.col("supp") >= 2).select("u", "v"))
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    sym = sym.transform(truncate_lineage)
    cur = sym
    for _ in range(3):
        keep = (cur.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
                .filter(F.col("d") >= 4).select("u"))
        cur = (cur.join(keep, "u")
               .join(keep.withColumnRenamed("u", "v"), "v")
               .select("u", "v"))
        cur = cur.transform(truncate_lineage)
    return (cur.groupBy("u").agg(F.count(F.lit(1)).alias("core_deg"))
            .select(F.col("u").alias("p_partkey"),
                    F.col("core_deg").cast("long").alias("core_deg"))
            .orderBy("p_partkey"))


def _kcore_sql(rounds: int = 3, k: int = 4) -> str:
    sql = """
WITH po AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM po a JOIN po b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
), g0 AS (
  SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e
)"""
    for r in range(1, rounds + 1):
        sql += f""", k{r} AS (
  SELECT u FROM g{r - 1} GROUP BY u HAVING COUNT(*) >= {k}
), g{r} AS (
  SELECT g.u, g.v FROM g{r - 1} g
  JOIN k{r} a ON a.u = g.u JOIN k{r} b ON b.u = g.v
)"""
    sql += f"""
SELECT u AS p_partkey, CAST(COUNT(*) AS BIGINT) AS core_deg
FROM g{rounds} GROUP BY u ORDER BY p_partkey
"""
    return sql


R8_QUERIES["part_kcore"] = (q_part_kcore, _kcore_sql(), False)


# --- tfidf_cosine_pairs -----------------------------------------------------

def q_tfidf_cosine_pairs(spark, sf_dir):
    """SPARSE document similarity: cosine in TF-IDF space computed through
    a token-keyed posting-list self-join (sum of weight products over
    shared tokens, norms from a per-doc aggregation) — the sparse dual
    of the dense embedding cosine, and the shape that scales: work is
    bounded by posting-list sizes, never |docs|^2.  Top-10 pairs above
    0.5, docs restricted to one source to bound the candidate set.
    Weights are ROUNDed to 6 before the products so cross-engine ln/
    division ulps can't reach the pair sums."""
    from ..pipeline import text as T

    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("source") == "src0"))
    tok = (docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("w"))
           .groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf")))
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    df_ = tok.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    wt = (tok.join(df_, "w").crossJoin(F.broadcast(n))
          .select("doc_id", "w",
                  F.round(F.col("tf").cast("double")
                          * F.log((F.col("n") + 1).cast("double")
                                  / (F.col("df") + 1).cast("double")), 6)
                  .alias("x")))
    nrm = wt.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nn"))
    a = wt.select(F.col("doc_id").alias("a"), "w", F.col("x").alias("xa"))
    b = wt.select(F.col("doc_id").alias("b"), "w", F.col("x").alias("xb"))
    dots = (a.join(b, "w").filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.sum(F.col("xa") * F.col("xb")).alias("dot")))
    cos = (dots.join(nrm.select(F.col("doc_id").alias("a"),
                                F.col("nn").alias("na")), "a")
           .join(nrm.select(F.col("doc_id").alias("b"),
                            F.col("nn").alias("nb")), "b")
           .select("a", "b",
                   (F.col("dot") / (F.col("na") * F.col("nb"))).alias("c"))
           .filter(F.col("c") >= 0.5))
    return (cos.orderBy(F.col("c").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(10)
            .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"),
                    F.round("c", 6).alias("cosine")))


_QTFIDFCOS_SQL = """
WITH docs AS (
  SELECT doc_id, text FROM documents WHERE source = 'src0'
), tok AS (
  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM docs)
  GROUP BY doc_id, w
), nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM docs
), dfq AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY w
), wt AS (
  SELECT doc_id, w,
         ROUND(CAST(tf AS DOUBLE)
               * ln(CAST(n + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)), 6) AS x
  FROM tok JOIN dfq USING (w) CROSS JOIN nn
), nrm AS (
  SELECT doc_id, sqrt(SUM(x * x)) AS nn FROM wt GROUP BY doc_id
), dots AS (
  SELECT a.doc_id AS a, b.doc_id AS b, SUM(a.x * b.x) AS dot
  FROM wt a JOIN wt b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), cos AS (
  SELECT a, b, dot / (na.nn * nb.nn) AS c
  FROM dots JOIN nrm na ON na.doc_id = a JOIN nrm nb ON nb.doc_id = b
)
SELECT a AS doc_a, b AS doc_b, ROUND(c, 6) + 0.0 AS cosine
FROM cos WHERE c >= 0.5
ORDER BY c DESC, a ASC, b ASC
LIMIT 10
"""

R8_QUERIES["tfidf_cosine_pairs"] = (q_tfidf_cosine_pairs, _QTFIDFCOS_SQL, False)


# --- dataset_three_way_split ------------------------------------------------

def q_dataset_three_way_split(spark, sf_dir):
    """Deterministic train/val/test split (90/5/5 by portable hash, so the
    assignment is reproducible on any engine and stable under
    re-partitioning) with per-language composition check — the dataset
    materialization step; the output is the audit table (per lang x
    split: count and within-lang share)."""
    docs = load_table(spark, sf_dir, "documents")
    h = portable_hash64(F.col("doc_id").cast("string"), "split") % 100
    split = (F.when(h < 90, "train").when(h < 95, "val")
             .otherwise("test"))
    cnt = (docs.select("lang", split.alias("split"))
           .groupBy("lang", "split").agg(F.count(F.lit(1)).alias("n")))
    tot = Window.partitionBy("lang")
    return (cnt.select("lang", "split", "n",
                       F.round(F.col("n").cast("double")
                               / F.sum("n").over(tot).cast("double"), 9)
                       .alias("share"))
            .orderBy("lang", "split"))


_QSPLIT3_SQL = """
WITH s AS (
  SELECT lang,
         CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#split'),
                    1, 15))::BIGINT % 100 < 90 THEN 'train'
              WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#split'),
                    1, 15))::BIGINT % 100 < 95 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
), cnt AS (
  SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n FROM s
  GROUP BY lang, split
)
SELECT lang, split, n,
       ROUND(CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE), 9) + 0.0
         AS share
FROM cnt
ORDER BY lang, split
"""

R8_QUERIES["dataset_three_way_split"] = (
    q_dataset_three_way_split, _QSPLIT3_SQL, False)


# --- spatial_box_overlay_matrix ---------------------------------------------

def q_spatial_box_overlay_matrix(spark, sf_dir):
    """Polygon-layer overlay matrix: intersection AREA between every
    region zone (36-degree longitude bands) and nation box (axis-aligned
    rectangles derived from keys) — the zonal-overlay aggregation
    (land-use x admin areas) with closed-form axis-aligned clip
    arithmetic, candidate pairs bounded by an interval-overlap
    predicate, never refined per-vertex."""
    nation = load_table(spark, sf_dir, "nation")
    # nation boxes: x in [k*14 - 180, k*14 - 180 + 20], y in [k*6 - 80, +30]
    nb = nation.select(
        "n_nationkey",
        (F.col("n_nationkey") * 14 - 180).cast("double").alias("nx0"),
        (F.col("n_nationkey") * 14 - 160).cast("double").alias("nx1"),
        (F.col("n_nationkey") * 6 - 80).cast("double").alias("ny0"),
        (F.col("n_nationkey") * 6 - 50).cast("double").alias("ny1"))
    region = load_table(spark, sf_dir, "region")
    rb = region.select(
        "r_regionkey",
        (F.col("r_regionkey") * 72 - 180).cast("double").alias("rx0"),
        (F.col("r_regionkey") * 72 - 108).cast("double").alias("rx1"),
        F.lit(-90.0).alias("ry0"), F.lit(90.0).alias("ry1"))
    j = nb.crossJoin(F.broadcast(rb)).filter(
        (F.col("nx0") < F.col("rx1")) & (F.col("rx0") < F.col("nx1")))
    ix = F.least("nx1", "rx1") - F.greatest("nx0", "rx0")
    iy = F.least("ny1", "ry1") - F.greatest("ny0", "ry0")
    return (j.select("r_regionkey", "n_nationkey",
                     F.round(ix * iy, 6).alias("overlap_area"))
            .filter(F.col("overlap_area") > 0)
            .orderBy("r_regionkey", "n_nationkey"))


_QOVERLAY_SQL = """
WITH nb AS (
  SELECT n_nationkey,
         CAST(n_nationkey * 14 - 180 AS DOUBLE) AS nx0,
         CAST(n_nationkey * 14 - 160 AS DOUBLE) AS nx1,
         CAST(n_nationkey * 6 - 80 AS DOUBLE) AS ny0,
         CAST(n_nationkey * 6 - 50 AS DOUBLE) AS ny1
  FROM nation
), rb AS (
  SELECT r_regionkey,
         CAST(r_regionkey * 72 - 180 AS DOUBLE) AS rx0,
         CAST(r_regionkey * 72 - 108 AS DOUBLE) AS rx1,
         CAST(-90 AS DOUBLE) AS ry0, CAST(90 AS DOUBLE) AS ry1
  FROM region
)
SELECT r_regionkey, n_nationkey,
       ROUND((LEAST(nx1, rx1) - GREATEST(nx0, rx0))
             * (LEAST(ny1, ry1) - GREATEST(ny0, ry0)), 6) + 0.0
         AS overlap_area
FROM nb CROSS JOIN rb
WHERE nx0 < rx1 AND rx0 < nx1
  AND (LEAST(nx1, rx1) - GREATEST(nx0, rx0))
      * (LEAST(ny1, ry1) - GREATEST(ny0, ry0)) > 0
ORDER BY r_regionkey, n_nationkey
"""

R8_QUERIES["spatial_box_overlay_matrix"] = (
    q_spatial_box_overlay_matrix, _QOVERLAY_SQL, False)


# --- orders_weekday_anova ---------------------------------------------------

def q_orders_weekday_anova(spark, sf_dir):
    """One-way ANOVA across weekdays: does mean order value differ by day
    of week?  F = (SSB/(k-1)) / (SSW/(n-k)) from per-group sufficient
    statistics {n_g, S_g, Q_g} in ONE aggregation (inputs scaled /1e5 so
    the squared sums stay O(1e3)); the per-weekday means ride along.
    The finish arithmetic is an identical expression chain on both
    engines."""
    orders = load_table(spark, sf_dir, "orders")
    y = F.col("o_totalprice") / F.lit(100000.0)
    g = (orders.groupBy(F.dayofweek("o_orderdate").alias("dow"))
         .agg(F.count(F.lit(1)).alias("ng"),
              F.sum(y).alias("sg"), F.sum(y * y).alias("qg")))
    tot = g.agg(F.sum("ng").cast("long").alias("n"),
                F.sum("sg").alias("s"), F.sum("qg").alias("q"),
                F.count(F.lit(1)).cast("long").alias("k"),
                F.sum(F.col("sg") * F.col("sg")
                      / F.col("ng").cast("double")).alias("ssb_part"))
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    ssb = F.col("ssb_part") - F.col("s") * F.col("s") / nd
    ssw = F.col("q") - F.col("ssb_part")
    fstat = (ssb / (kd - 1)) / (ssw / (nd - kd))
    return tot.select(
        "n", "k",
        F.round(ssb, 6).alias("ssb"),
        F.round(ssw, 6).alias("ssw"),
        F.round(fstat, 4).alias("f_stat"))


_QANOVA_SQL = """
WITH g AS (
  SELECT dayofweek(o_orderdate) + 1 AS dow, CAST(COUNT(*) AS BIGINT) AS ng,
         SUM(o_totalprice / 100000.0) AS sg,
         SUM((o_totalprice / 100000.0) * (o_totalprice / 100000.0)) AS qg
  FROM orders GROUP BY 1
), tot AS (
  SELECT CAST(SUM(ng) AS BIGINT) AS n, SUM(sg) AS s, SUM(qg) AS q,
         CAST(COUNT(*) AS BIGINT) AS k,
         SUM(sg * sg / CAST(ng AS DOUBLE)) AS ssb_part
  FROM g
)
SELECT n, k,
       ROUND(ssb_part - s * s / CAST(n AS DOUBLE), 6) + 0.0 AS ssb,
       ROUND(q - ssb_part, 6) + 0.0 AS ssw,
       ROUND(((ssb_part - s * s / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1))
             / ((q - ssb_part) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 4)
         + 0.0 AS f_stat
FROM tot
"""

R8_QUERIES["orders_weekday_anova"] = (
    q_orders_weekday_anova, _QANOVA_SQL, False)


# --- lineitem_spearman ------------------------------------------------------

def q_lineitem_spearman(spark, sf_dir):
    """Spearman rank correlation between quantity and extended price:
    ranks are total-ordered (value, then line identity for ties — the
    same tiebreak on both engines, so ranks are integers and the
    correlation is exact integer arithmetic until two final divisions),
    then Pearson over ranks from sufficient statistics scaled by n.

    Scale shape: two global rank windows (sort-based, spillable) + ONE
    aggregation; at 100 TB use approximate ranks (percentile buckets) —
    the exact path is the correctness anchor."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    wq = Window.orderBy("l_quantity", "l_orderkey", "l_linenumber")
    wp = Window.orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
    r = li.select(F.row_number().over(wq).cast("double").alias("rx"),
                  F.row_number().over(wp).cast("double").alias("ry"))
    n = F.count(F.lit(1)).cast("double")
    a = r.agg(n.alias("n"),
              F.sum((F.col("rx") / 100000.0) * (F.col("ry") / 100000.0))
              .alias("sxy"),
              F.sum((F.col("rx") / 100000.0) * (F.col("rx") / 100000.0))
              .alias("sxx"),
              F.sum(F.col("rx") / 100000.0).alias("sx"),
              F.sum(F.col("ry") / 100000.0).alias("sy"))
    rho = ((F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
           / F.sqrt((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
                    * (F.col("sxx") - F.col("sy") * F.col("sy") / F.col("n"))))
    return a.select(F.col("n").cast("long").alias("n"),
                    F.round(rho, 6).alias("spearman_rho"))


_QSPEAR_SQL = """
WITH r AS (
  SELECT CAST(row_number() OVER (ORDER BY l_quantity, l_orderkey,
                                 l_linenumber) AS DOUBLE) AS rx,
         CAST(row_number() OVER (ORDER BY l_extendedprice, l_orderkey,
                                 l_linenumber) AS DOUBLE) AS ry
  FROM lineitem
), a AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         SUM((rx / 100000.0) * (ry / 100000.0)) AS sxy,
         SUM((rx / 100000.0) * (rx / 100000.0)) AS sxx,
         SUM(rx / 100000.0) AS sx,
         SUM(ry / 100000.0) AS sy
  FROM r
)
SELECT CAST(n AS BIGINT) AS n,
       ROUND((sxy - sx * sy / n)
             / sqrt((sxx - sx * sx / n) * (sxx - sy * sy / n)), 6) + 0.0
         AS spearman_rho
FROM a
"""

R8_QUERIES["lineitem_spearman"] = (q_lineitem_spearman, _QSPEAR_SQL, False)


# --- lang_source_mutual_info ------------------------------------------------

def q_lang_source_mutual_info(spark, sf_dir):
    """Mutual information between language and source from the contingency
    table: per-cell MI terms p(l,s) * log2(p(l,s) / (p(l) p(s))) — the
    dependence-structure check (is the corpus's language mix independent
    of its source?), reported per cell so the output stays
    summation-order-free; all probabilities are exact integer ratios."""
    docs = load_table(spark, sf_dir, "documents")
    cell = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("c"))
    lt = Window.partitionBy("lang")
    st = Window.partitionBy("source")
    tt = Window.partitionBy()
    cl = F.sum("c").over(lt).cast("double")
    cs = F.sum("c").over(st).cast("double")
    ct = F.sum("c").over(tt).cast("double")
    p = F.col("c").cast("double") / ct
    mi = p * F.log2(p / ((cl / ct) * (cs / ct)))
    return (cell.select("lang", "source", F.col("c").cast("long").alias("n"),
                        F.round(mi, 9).alias("mi_term"))
            .orderBy("lang", "source"))


_QMI_SQL = """
WITH cell AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY lang, source
)
SELECT lang, source, c AS n,
       ROUND((CAST(c AS DOUBLE) / CAST(SUM(c) OVER () AS DOUBLE))
             * log2((CAST(c AS DOUBLE) / CAST(SUM(c) OVER () AS DOUBLE))
                    / ((CAST(SUM(c) OVER (PARTITION BY lang) AS DOUBLE)
                        / CAST(SUM(c) OVER () AS DOUBLE))
                       * (CAST(SUM(c) OVER (PARTITION BY source) AS DOUBLE)
                          / CAST(SUM(c) OVER () AS DOUBLE)))), 9) + 0.0
         AS mi_term
FROM cell
ORDER BY lang, source
"""

R8_QUERIES["lang_source_mutual_info"] = (
    q_lang_source_mutual_info, _QMI_SQL, False)


# --- price_benford ----------------------------------------------------------

def q_price_benford(spark, sf_dir):
    """Benford's-law audit of line revenue: observed first-digit
    distribution vs log10(1 + 1/d), with the per-digit chi-square
    contribution — the fraud/data-entry anomaly screen.  First digit via
    floor(x / 10^floor(log10 x)) (pure arithmetic, no string
    formatting), exact integer counts."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    digit = F.floor(x / F.pow(F.lit(10.0), F.floor(F.log10(x)))).cast("int")
    cnt = (li.filter(x > 0).groupBy(digit.alias("digit"))
           .agg(F.count(F.lit(1)).alias("n")))
    tot = Window.partitionBy()
    obs = F.col("n").cast("double") / F.sum("n").over(tot).cast("double")
    exp = F.log10(F.lit(1.0) + 1.0 / F.col("digit").cast("double"))
    nt = F.sum("n").over(tot).cast("double")
    chi = (obs - exp) * (obs - exp) / exp * nt
    return (cnt.select("digit", "n",
                       F.round(obs, 9).alias("observed_share"),
                       F.round(exp, 9).alias("benford_share"),
                       F.round(chi, 6).alias("chi_term"))
            .orderBy("digit"))


_QBENFORD_SQL = """
WITH cnt AS (
  SELECT CAST(FLOOR(l_extendedprice
              / POW(10.0, FLOOR(log10(l_extendedprice)))) AS INT) AS digit,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem WHERE l_extendedprice > 0
  GROUP BY 1
)
SELECT digit, n,
       ROUND(CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE), 9) + 0.0
         AS observed_share,
       ROUND(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 9) + 0.0
         AS benford_share,
       ROUND((CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE)
              - log10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
             * (CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE)
                - log10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
             / log10(1.0 + 1.0 / CAST(digit AS DOUBLE))
             * CAST(SUM(n) OVER () AS DOUBLE), 6) + 0.0 AS chi_term
FROM cnt
ORDER BY digit
"""

R8_QUERIES["price_benford"] = (q_price_benford, _QBENFORD_SQL, False)


# --- part_degree_assortativity ----------------------------------------------

def q_part_degree_assortativity(spark, sf_dir):
    """Degree assortativity of the part co-purchase graph: the Pearson
    correlation of endpoint degrees over (directed) edges — do
    high-degree parts co-occur with other high-degree parts?  One
    degree table broadcast twice onto the edge list, sufficient
    statistics scaled /100, closed-form finish — the graph-topology
    summary next to k-core / link prediction."""
    po = (load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_partkey").distinct())
    a = po.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = po.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (a.join(b, "ok").filter(F.col("u") < F.col("v"))
             .groupBy("u", "v").agg(F.count(F.lit(1)).alias("supp"))
             .filter(F.col("supp") >= 2).select("u", "v"))
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    e = (sym.join(F.broadcast(deg), "u")
         .withColumnRenamed("d", "du")
         .join(F.broadcast(deg.withColumnRenamed("u", "v")
                           .withColumnRenamed("d", "dv")), "v"))
    x = F.col("du").cast("double") / 100.0
    y = F.col("dv").cast("double") / 100.0
    agg = e.agg(F.count(F.lit(1)).cast("double").alias("m"),
                F.sum(x).alias("sx"), F.sum(y).alias("sy"),
                F.sum(x * y).alias("sxy"), F.sum(x * x).alias("sxx"),
                F.sum(y * y).alias("syy"))
    r = ((F.col("sxy") - F.col("sx") * F.col("sy") / F.col("m"))
         / F.sqrt((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("m"))
                  * (F.col("syy") - F.col("sy") * F.col("sy") / F.col("m"))))
    return agg.select(F.col("m").cast("long").alias("n_directed_edges"),
                      F.round(r, 6).alias("assortativity"))


_QASSORT_SQL = """
WITH po AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e0 AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM po a JOIN po b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
), sym AS (
  SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0
), deg AS (
  SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u
), ed AS (
  SELECT CAST(du.d AS DOUBLE) / 100.0 AS x, CAST(dv.d AS DOUBLE) / 100.0 AS y
  FROM sym JOIN deg du ON du.u = sym.u JOIN deg dv ON dv.u = sym.v
), agg AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS m, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM ed
)
SELECT CAST(m AS BIGINT) AS n_directed_edges,
       ROUND((sxy - sx * sy / m)
             / sqrt((sxx - sx * sx / m) * (syy - sy * sy / m)), 6) + 0.0
         AS assortativity
FROM agg
"""

R8_QUERIES["part_degree_assortativity"] = (
    q_part_degree_assortativity, _QASSORT_SQL, False)


# --- cohort_ltv_matrix ------------------------------------------------------

def q_cohort_ltv_matrix(spark, sf_dir):
    """Cohort lifetime-value matrix: customers grouped by first-order
    month; cell (cohort, age) = CUMULATIVE revenue per cohort member
    through that month-age — the LTV curve next to the retention matrix
    (same cohort spine, money instead of presence).  Cumulative sums run
    over the cohort-month grid (tiny), never the fact table; revenue is
    rounded at the cell grain AFTER the cumulative (the addends are
    identical month sums on both engines, rounded to 6 before
    accumulation).  The per-member division is ROUNDed to 6, NOT 4:
    cents divided by a power-of-two cohort size lands EXACTLY on
    4-decimal ties (the 1/1600 lattice — .43625 etc.), where the two
    engines' half-up implementations legitimately diverge; at 6 decimals
    that lattice is exactly representable and no tie exists (caught by
    the sf0.001 soak, 14 cells)."""
    orders = load_table(spark, sf_dir, "orders")
    first = (orders.groupBy("o_custkey")
             .agg(F.min("o_orderdate").alias("f")))
    j = (orders.join(first, "o_custkey")
         .select(F.date_format("f", "yyyy-MM").alias("cohort"),
                 (F.months_between(F.date_trunc("month", "o_orderdate"),
                                   F.date_trunc("month", "f"))
                  .cast("int")).alias("age"),
                 "o_totalprice", "o_custkey"))
    cell = (j.groupBy("cohort", "age")
            .agg(F.round(F.sum("o_totalprice"), 6).alias("rev")))
    size = (first.groupBy(F.date_format("f", "yyyy-MM").alias("cohort"))
            .agg(F.count(F.lit(1)).alias("n_members")))
    w = (Window.partitionBy("cohort").orderBy("age")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (cell.withColumn("cum_rev", F.sum("rev").over(w))
            .join(size, "cohort")
            .select("cohort", "age", "n_members",
                    F.round(F.col("cum_rev")
                            / F.col("n_members").cast("double"), 6)
                    .alias("ltv_per_member"))
            .orderBy("cohort", "age"))


_QLTV_SQL = """
WITH first AS (
  SELECT o_custkey, MIN(o_orderdate) AS f FROM orders GROUP BY o_custkey
), j AS (
  SELECT strftime(f, '%Y-%m') AS cohort,
         CAST(datediff('month', date_trunc('month', f),
                       date_trunc('month', o_orderdate)) AS INT) AS age,
         o_totalprice
  FROM orders JOIN first USING (o_custkey)
), cell AS (
  SELECT cohort, age, ROUND(SUM(o_totalprice), 6) AS rev
  FROM j GROUP BY cohort, age
), sz AS (
  SELECT strftime(f, '%Y-%m') AS cohort, CAST(COUNT(*) AS BIGINT) AS n_members
  FROM first GROUP BY 1
)
SELECT cohort, age, n_members,
       ROUND(SUM(rev) OVER (PARTITION BY cohort ORDER BY age
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / CAST(n_members AS DOUBLE), 6) + 0.0 AS ltv_per_member
FROM cell JOIN sz USING (cohort)
ORDER BY cohort, age
"""

R8_QUERIES["cohort_ltv_matrix"] = (q_cohort_ltv_matrix, _QLTV_SQL, False)


# --- part_graph_modularity --------------------------------------------------

def q_part_graph_modularity(spark, sf_dir):
    """Community-quality capstone: Newman modularity Q = sum_c (e_c/m -
    (d_c/2m)^2) of the 3-round label-propagation communities on the part
    co-purchase graph — the metric that says whether the communities the
    engine found are real structure.  Per-community terms are reported
    (summation-order-free); e_c (intra-community edges) comes from one
    label-keyed join over the edge list, d_c from the degree table."""
    po = (load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_partkey").distinct())
    a = po.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = po.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (a.join(b, "ok").filter(F.col("u") < F.col("v"))
             .groupBy("u", "v").agg(F.count(F.lit(1)).alias("supp"))
             .filter(F.col("supp") >= 2).select("u", "v"))
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    sym = sym.transform(truncate_lineage)
    labels = (sym.select(F.col("u").alias("id")).distinct()
              .select("id", F.col("id").alias("label")))
    for _ in range(3):
        nbr = (sym.join(labels.withColumnRenamed("id", "u"), "u")
               .groupBy(F.col("v").alias("id"), "label")
               .agg(F.count(F.lit(1)).alias("c")))
        wl = Window.partitionBy("id").orderBy(F.col("c").desc(),
                                              F.col("label").asc())
        labels = (nbr.withColumn("rn", F.row_number().over(wl))
                  .filter(F.col("rn") == 1).select("id", "label"))
        labels = labels.transform(truncate_lineage)
    m2 = sym.agg(F.count(F.lit(1)).cast("long").alias("m2"))  # 2m
    lab_u = labels.select(F.col("id").alias("u"), F.col("label").alias("lu"))
    lab_v = labels.select(F.col("id").alias("v"), F.col("label").alias("lv"))
    e_in = (sym.join(lab_u, "u").join(lab_v, "v")
            .filter(F.col("lu") == F.col("lv"))
            .groupBy(F.col("lu").alias("label"))
            .agg(F.count(F.lit(1)).cast("long").alias("e2_in")))  # 2*e_c
    dsum = (sym.join(lab_u, "u")
            .groupBy(F.col("lu").alias("label"))
            .agg(F.count(F.lit(1)).cast("long").alias("d_c")))
    q = (dsum.join(e_in, "label", "left").crossJoin(F.broadcast(m2))
         .select("label",
                 F.coalesce("e2_in", F.lit(0)).cast("long").alias("e2_in"),
                 "d_c",
                 F.round(F.coalesce("e2_in", F.lit(0)).cast("double")
                         / F.col("m2").cast("double")
                         - (F.col("d_c").cast("double")
                            / F.col("m2").cast("double"))
                         * (F.col("d_c").cast("double")
                            / F.col("m2").cast("double")), 9)
                 .alias("q_term")))
    return q.orderBy("label")


def _modularity_sql() -> str:
    sql = """
WITH po AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM po a JOIN po b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
), sym AS (
  SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e
), l0 AS (
  SELECT DISTINCT u AS id, u AS label FROM sym
)"""
    for r in range(1, 4):
        sql += f""", l{r} AS (
  SELECT id, label FROM (
    SELECT s.v AS id, p.label,
           row_number() OVER (PARTITION BY s.v
                              ORDER BY COUNT(*) DESC, p.label ASC) AS rn
    FROM sym s JOIN l{r - 1} p ON p.id = s.u
    GROUP BY s.v, p.label) WHERE rn = 1
)"""
    sql += """, m2 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM sym
), ein AS (
  SELECT lu.label, CAST(COUNT(*) AS BIGINT) AS e2_in
  FROM sym JOIN l3 lu ON lu.id = sym.u JOIN l3 lv ON lv.id = sym.v
  WHERE lu.label = lv.label
  GROUP BY lu.label
), dsum AS (
  SELECT lu.label, CAST(COUNT(*) AS BIGINT) AS d_c
  FROM sym JOIN l3 lu ON lu.id = sym.u
  GROUP BY lu.label
)
SELECT d.label, COALESCE(e.e2_in, 0) AS e2_in, d.d_c,
       ROUND(CAST(COALESCE(e.e2_in, 0) AS DOUBLE) / CAST(m2.m2 AS DOUBLE)
             - (CAST(d.d_c AS DOUBLE) / CAST(m2.m2 AS DOUBLE))
               * (CAST(d.d_c AS DOUBLE) / CAST(m2.m2 AS DOUBLE)), 9) + 0.0
         AS q_term
FROM dsum d LEFT JOIN ein e ON e.label = d.label CROSS JOIN m2
ORDER BY d.label
"""
    return sql


R8_QUERIES["part_graph_modularity"] = (
    q_part_graph_modularity, _modularity_sql(), False)


# --- customer_hhi_by_nation -------------------------------------------------

def q_customer_hhi_by_nation(spark, sf_dir):
    """Market-concentration audit: Herfindahl-Hirschman index of customer
    spend per nation — sum over customers of squared spend share, from
    two keyed aggregations (customer spend, then nation totals ride in
    via a window).  Customer spend is ROUNDed to 6 before shares so the
    order-sensitive per-customer sums can't leak into the squared
    ratios; the HHI itself is reported per nation at ROUND 9."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey")
    spend = (orders.groupBy("o_custkey")
             .agg(F.round(F.sum("o_totalprice"), 6).alias("s"))
             .join(cust, F.col("o_custkey") == F.col("c_custkey")))
    wt = Window.partitionBy("c_nationkey")
    share = F.col("s") / F.sum("s").over(wt)
    hhi_term = share * share
    return (spend.select("c_nationkey", hhi_term.alias("h"))
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.round(F.sum("h"), 9).alias("hhi"))
            .orderBy("c_nationkey"))


_QHHI_SQL = """
WITH spend AS (
  SELECT c.c_nationkey, ROUND(SUM(o.o_totalprice), 6) AS s
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY o.o_custkey, c.c_nationkey
), sh AS (
  SELECT c_nationkey,
         (s / SUM(s) OVER (PARTITION BY c_nationkey))
         * (s / SUM(s) OVER (PARTITION BY c_nationkey)) AS h
  FROM spend
)
SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(SUM(h), 9) + 0.0 AS hhi
FROM sh
GROUP BY c_nationkey
ORDER BY c_nationkey
"""

R8_QUERIES["customer_hhi_by_nation"] = (
    q_customer_hhi_by_nation, _QHHI_SQL, False)


# --- lineitem_welch_ttest ---------------------------------------------------

def q_lineitem_welch_ttest(spark, sf_dir):
    """Welch's two-sample t-test: is mean revenue per line different for
    discounted (> 5%) vs non-discounted lines under unequal variances?
    t and the Welch-Satterthwaite degrees of freedom from the two
    groups' sufficient statistics in ONE aggregation (inputs scaled /1e5
    per the robust-stats convention; variances finished with identical
    expression chains)."""
    li = load_table(spark, sf_dir, "lineitem")
    y = F.col("l_extendedprice") * (1 - F.col("l_discount")) / F.lit(100000.0)
    t = F.col("l_discount") > 0.05

    def grp(cond, tag):
        return [F.sum(F.when(cond, 1).otherwise(0)).cast("long")
                .alias(f"n{tag}"),
                F.sum(F.when(cond, y)).alias(f"s{tag}"),
                F.sum(F.when(cond, y * y)).alias(f"q{tag}")]

    a = li.agg(*grp(t, "1"), *grp(~t, "2"))
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    m1 = F.col("s1") / n1
    m2 = F.col("s2") / n2
    v1 = (F.col("q1") - F.col("s1") * F.col("s1") / n1) / (n1 - 1)
    v2 = (F.col("q2") - F.col("s2") * F.col("s2") / n2) / (n2 - 1)
    se2 = v1 / n1 + v2 / n2
    tstat = (m1 - m2) / F.sqrt(se2)
    dof = se2 * se2 / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                       + (v2 / n2) * (v2 / n2) / (n2 - 1))
    return a.select(
        F.col("n1").alias("n_discounted"), F.col("n2").alias("n_regular"),
        F.round(m1 * 100000.0, 4).alias("mean_discounted"),
        F.round(m2 * 100000.0, 4).alias("mean_regular"),
        F.round(tstat, 4).alias("t_stat"),
        F.round(dof, 2).alias("welch_dof"))


_QWELCH_SQL = """
WITH a AS (
  SELECT
    CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    SUM(CASE WHEN l_discount > 0.05
        THEN l_extendedprice * (1 - l_discount) / 100000.0 END) AS s1,
    SUM(CASE WHEN l_discount > 0.05
        THEN (l_extendedprice * (1 - l_discount) / 100000.0)
             * (l_extendedprice * (1 - l_discount) / 100000.0) END) AS q1,
    CAST(SUM(CASE WHEN l_discount <= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    SUM(CASE WHEN l_discount <= 0.05
        THEN l_extendedprice * (1 - l_discount) / 100000.0 END) AS s2,
    SUM(CASE WHEN l_discount <= 0.05
        THEN (l_extendedprice * (1 - l_discount) / 100000.0)
             * (l_extendedprice * (1 - l_discount) / 100000.0) END) AS q2
  FROM lineitem
)
SELECT n1 AS n_discounted, n2 AS n_regular,
       ROUND(s1 / CAST(n1 AS DOUBLE) * 100000.0, 4) + 0.0
         AS mean_discounted,
       ROUND(s2 / CAST(n2 AS DOUBLE) * 100000.0, 4) + 0.0 AS mean_regular,
       ROUND((s1 / CAST(n1 AS DOUBLE) - s2 / CAST(n2 AS DOUBLE))
             / sqrt(((q1 - s1 * s1 / CAST(n1 AS DOUBLE))
                     / (CAST(n1 AS DOUBLE) - 1)) / CAST(n1 AS DOUBLE)
                    + ((q2 - s2 * s2 / CAST(n2 AS DOUBLE))
                       / (CAST(n2 AS DOUBLE) - 1)) / CAST(n2 AS DOUBLE)), 4)
         + 0.0 AS t_stat,
       ROUND((((q1 - s1 * s1 / CAST(n1 AS DOUBLE))
               / (CAST(n1 AS DOUBLE) - 1)) / CAST(n1 AS DOUBLE)
              + ((q2 - s2 * s2 / CAST(n2 AS DOUBLE))
                 / (CAST(n2 AS DOUBLE) - 1)) / CAST(n2 AS DOUBLE))
             * (((q1 - s1 * s1 / CAST(n1 AS DOUBLE))
                 / (CAST(n1 AS DOUBLE) - 1)) / CAST(n1 AS DOUBLE)
                + ((q2 - s2 * s2 / CAST(n2 AS DOUBLE))
                   / (CAST(n2 AS DOUBLE) - 1)) / CAST(n2 AS DOUBLE))
             / ((((q1 - s1 * s1 / CAST(n1 AS DOUBLE))
                  / (CAST(n1 AS DOUBLE) - 1)) / CAST(n1 AS DOUBLE))
                * (((q1 - s1 * s1 / CAST(n1 AS DOUBLE))
                    / (CAST(n1 AS DOUBLE) - 1)) / CAST(n1 AS DOUBLE))
                / (CAST(n1 AS DOUBLE) - 1)
                + (((q2 - s2 * s2 / CAST(n2 AS DOUBLE))
                    / (CAST(n2 AS DOUBLE) - 1)) / CAST(n2 AS DOUBLE))
                  * (((q2 - s2 * s2 / CAST(n2 AS DOUBLE))
                      / (CAST(n2 AS DOUBLE) - 1)) / CAST(n2 AS DOUBLE))
                  / (CAST(n2 AS DOUBLE) - 1)), 2) + 0.0 AS welch_dof
FROM a
"""

R8_QUERIES["lineitem_welch_ttest"] = (
    q_lineitem_welch_ttest, _QWELCH_SQL, False)


# --- events_runs_test -------------------------------------------------------

def q_events_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test for randomness of the daily event-value
    series: code each day above/below the series median (median from the
    engine-portable percentile at ROUND 6, strictly-above coding), count
    runs with a lag window, and report the closed-form z against the
    expected run count — the sequence-randomness screen next to
    autocorrelation/CUSUM, all on the day-count-sized table."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
             .agg(F.round(F.avg("value"), 6).alias("m")))
    med = daily.agg(F.round(F.expr("percentile(m, 0.5)"), 6).alias("md"))
    coded = (daily.crossJoin(F.broadcast(med))
             .select("day", (F.col("m") > F.col("md")).cast("int").alias("s")))
    w = Window.orderBy("day")
    runs = (coded.withColumn("chg", F.when(
        F.lag("s").over(w).isNull() | (F.lag("s").over(w) != F.col("s")), 1)
        .otherwise(0))
        .agg(F.sum("chg").cast("long").alias("r"),
             F.sum("s").cast("long").alias("n1"),
             F.sum(1 - F.col("s")).cast("long").alias("n2")))
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    er = 2.0 * n1 * n2 / (n1 + n2) + 1.0
    vr = (2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
          / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0)))
    z = (F.col("r").cast("double") - er) / F.sqrt(vr)
    return runs.select("r", "n1", "n2",
                       F.round(er, 6).alias("expected_runs"),
                       F.round(z, 6).alias("z"))


_QRUNS_SQL = """
WITH daily AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, ROUND(AVG(value), 6) AS m
  FROM events GROUP BY 1
), med AS (
  SELECT ROUND(quantile_cont(m, 0.5), 6) AS md FROM daily
), coded AS (
  SELECT day, CAST(m > md AS INT) AS s FROM daily CROSS JOIN med
), runs AS (
  SELECT CAST(SUM(chg) AS BIGINT) AS r, CAST(SUM(s) AS BIGINT) AS n1,
         CAST(SUM(1 - s) AS BIGINT) AS n2
  FROM (SELECT s, CASE WHEN lag(s) OVER (ORDER BY day) IS NULL
                        OR lag(s) OVER (ORDER BY day) <> s
                  THEN 1 ELSE 0 END AS chg
        FROM coded)
)
SELECT r, n1, n2,
       ROUND(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
             / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1.0, 6) + 0.0
         AS expected_runs,
       ROUND((CAST(r AS DOUBLE)
              - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1.0))
             / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                    * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                       - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))
                    / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                       * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                       * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0))),
             6) + 0.0 AS z
FROM runs
"""

R8_QUERIES["events_runs_test"] = (q_events_runs_test, _QRUNS_SQL, False)


# --- spatial_getis_hotspot --------------------------------------------------

def q_spatial_getis_hotspot(spark, sf_dir):
    """Getis-Ord Gi* hotspot statistic over the customer point grid: for
    each occupied 30-degree cell, z-score of the 3x3-neighborhood count
    sum against the global mean/variance of cell counts — the spatial
    hotspot test (crime/disease clustering) on the same bounded-kernel
    shape as the KDE heatmap: a 9-way neighbor join over the CELL table,
    never a point-pair sum.  Global moments are computed over occupied
    cells; all arithmetic is exact integers until the final z division."""
    cust = load_table(spark, sf_dir, "customer")
    cx = F.floor((F.col("c_custkey") % 360 - 180) / 30).cast("long")
    cy = F.floor(((F.col("c_custkey") * 7) % 180 - 90) / 30).cast("long")
    cells = cust.groupBy(cx.alias("gx"), cy.alias("gy")).agg(
        F.count(F.lit(1)).alias("n"))
    tot = cells.agg(F.count(F.lit(1)).cast("long").alias("k"),
                    F.sum("n").cast("long").alias("s"),
                    F.sum(F.col("n") * F.col("n")).cast("long").alias("q"))
    # 9-way neighborhood via ONE explode over a literal offset array — a
    # 9-branch union of selects from `cells` embedded nine copies of the
    # cell-aggregation subtree in the plan (round 9, same fix class as the
    # bootstrap stack)
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    off_arr = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                        for dx, dy in offs])
    nb = (cells.select("gx", "gy", F.col("n").alias("nn"),
                       F.explode(off_arr).alias("_o"))
          .select((F.col("gx") + F.col("_o.dx")).alias("gx"),
                  (F.col("gy") + F.col("_o.dy")).alias("gy"), "nn"))
    neigh = (nb.groupBy("gx", "gy")
             .agg(F.sum("nn").cast("long").alias("wsum"),
                  F.count(F.lit(1)).cast("long").alias("w")))
    j = (cells.join(neigh, ["gx", "gy"]).crossJoin(F.broadcast(tot)))
    kd = F.col("k").cast("double")
    mean = F.col("s").cast("double") / kd
    var = F.col("q").cast("double") / kd - mean * mean
    wd = F.col("w").cast("double")
    num = F.col("wsum").cast("double") - mean * wd
    den = F.sqrt(var * (kd * wd - wd * wd) / (kd - 1.0))
    return (j.select("gx", "gy", "n", "w", "wsum",
                     F.round(num / den, 6).alias("gi_z"))
            .orderBy("gx", "gy"))


_QGETIS_SQL = """
WITH cells AS (
  SELECT CAST(FLOOR(CAST(c_custkey % 360 - 180 AS DOUBLE) / 30) AS BIGINT)
           AS gx,
         CAST(FLOOR(CAST((c_custkey * 7) % 180 - 90 AS DOUBLE) / 30)
              AS BIGINT) AS gy,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM customer GROUP BY 1, 2
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS s,
         CAST(SUM(n * n) AS BIGINT) AS q
  FROM cells
), nb AS (
  SELECT c.gx + d.dx AS gx, c.gy + d.dy AS gy, c.n AS nn
  FROM cells c CROSS JOIN (
    SELECT dx, dy FROM (VALUES (-1), (0), (1)) a(dx),
                       (VALUES (-1), (0), (1)) b(dy)) d
), neigh AS (
  SELECT gx, gy, CAST(SUM(nn) AS BIGINT) AS wsum,
         CAST(COUNT(*) AS BIGINT) AS w
  FROM nb GROUP BY gx, gy
)
SELECT c.gx, c.gy, c.n, ne.w, ne.wsum,
       ROUND((CAST(ne.wsum AS DOUBLE)
              - (CAST(t.s AS DOUBLE) / CAST(t.k AS DOUBLE))
                * CAST(ne.w AS DOUBLE))
             / sqrt((CAST(t.q AS DOUBLE) / CAST(t.k AS DOUBLE)
                     - (CAST(t.s AS DOUBLE) / CAST(t.k AS DOUBLE))
                       * (CAST(t.s AS DOUBLE) / CAST(t.k AS DOUBLE)))
                    * (CAST(t.k AS DOUBLE) * CAST(ne.w AS DOUBLE)
                       - CAST(ne.w AS DOUBLE) * CAST(ne.w AS DOUBLE))
                    / (CAST(t.k AS DOUBLE) - 1.0)), 6) + 0.0 AS gi_z
FROM cells c JOIN neigh ne ON ne.gx = c.gx AND ne.gy = c.gy
CROSS JOIN tot t
ORDER BY c.gx, c.gy
"""

R8_QUERIES["spatial_getis_hotspot"] = (
    q_spatial_getis_hotspot, _QGETIS_SQL, False)


# --- orders_bootstrap_ci ----------------------------------------------------

def q_orders_bootstrap_ci(spark, sf_dir):
    """ONE-PASS Poisson bootstrap: 32 bootstrap replicates of mean order
    value computed simultaneously — each row's weight in replicate b is
    Poisson(1), drawn by inverse-CDF from the portable hash of (row, b),
    so the resample is deterministic and engine-portable; the CI is the
    [2.5%, 97.5%] range of the 32 replicate means (exact order
    statistics of a 32-row table).  This is the standard
    distributed-bootstrap shape: no resampled copies of the data ever
    materialize, just 32 weighted sums in one aggregation.
    Replicate means are ROUNDed to 6 before the order statistics so
    summation wobble can't reorder them."""
    orders = load_table(spark, sf_dir, "orders")
    B = 32
    hbig = 1152921504606846976.0
    y = F.col("o_totalprice") / F.lit(100000.0)
    aggs = []
    for b_ in range(B):
        u = (portable_hash64(F.col("o_orderkey").cast("string"),
                             f"boot{b_}").cast("double") / F.lit(hbig))
        wt = (F.when(u < 0.36787944117144233, 0)
              .when(u < 0.7357588823428847, 1)
              .when(u < 0.9196986029286058, 2)
              .when(u < 0.9810118431238462, 3)
              .when(u < 0.9963401531726563, 4)
              .otherwise(5))
        aggs.append(F.sum(wt * y).alias(f"s{b_}"))
        aggs.append(F.sum(wt).cast("long").alias(f"n{b_}"))
    a = orders.agg(*aggs)
    # ONE stack over the single aggregated row, not a 32-way union of
    # selects from `a` — each union branch embedded its own copy of the
    # 64-expression md5-heavy aggregate subtree, multiplying analysis and
    # final-aggregation work ×B (round 9; the oracle's UNION ALL is
    # harmless because DuckDB's branches are independent scans)
    stack_args = ", ".join(
        f"{b_}, round(s{b_} / cast(n{b_} as double) * 100000.0, 6)"
        for b_ in range(B))
    reps = a.selectExpr(f"stack({B}, {stack_args}) AS (b, m)") \
        .select(F.col("b").cast("int").alias("b"), "m")
    w = Window.orderBy("m", "b")
    ranked = reps.withColumn("rk", F.row_number().over(w))
    return ranked.agg(
        F.lit(B).cast("int").alias("n_replicates"),
        F.round(F.avg("m"), 6).alias("boot_mean"),
        F.max(F.when(F.col("rk") == 1, F.col("m"))).alias("ci_lo"),
        F.max(F.when(F.col("rk") == B, F.col("m"))).alias("ci_hi"))


def _boot_sql(B: int = 32) -> str:
    reps = []
    for b_ in range(B):
        u = (f"(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) "
             f"|| '#boot{b_}'), 1, 15))::BIGINT::DOUBLE "
             f"/ 1152921504606846976.0)")
        wt = (f"CASE WHEN {u} < 0.36787944117144233 THEN 0 "
              f"WHEN {u} < 0.7357588823428847 THEN 1 "
              f"WHEN {u} < 0.9196986029286058 THEN 2 "
              f"WHEN {u} < 0.9810118431238462 THEN 3 "
              f"WHEN {u} < 0.9963401531726563 THEN 4 ELSE 5 END")
        reps.append(
            f"SELECT CAST({b_} AS INT) AS b, "
            f"ROUND(SUM({wt} * (o_totalprice / 100000.0)) "
            f"/ CAST(SUM({wt}) AS DOUBLE) * 100000.0, 6) AS m FROM orders")
    un = "\nUNION ALL\n".join(reps)
    return f"""
WITH reps AS (
{un}
), ranked AS (
  SELECT b, m, row_number() OVER (ORDER BY m, b) AS rk FROM reps
)
SELECT CAST({B} AS INT) AS n_replicates,
       ROUND(AVG(m), 6) + 0.0 AS boot_mean,
       MAX(CASE WHEN rk = 1 THEN m END) + 0.0 AS ci_lo,
       MAX(CASE WHEN rk = {B} THEN m END) + 0.0 AS ci_hi
FROM ranked
"""


R8_QUERIES["orders_bootstrap_ci"] = (q_orders_bootstrap_ci, _boot_sql(), False)


# --- priority_status_chisq --------------------------------------------------

def q_priority_status_chisq(spark, sf_dir):
    """Chi-square test of independence on the order priority x status
    contingency table: per-cell (observed - expected)^2 / expected terms
    from exact integer marginals (the categorical dual of the ANOVA /
    Welch tests; the per-cell report keeps the output summation-order-
    free and shows WHERE the dependence lives)."""
    orders = load_table(spark, sf_dir, "orders")
    cell = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("c"))
    wr = Window.partitionBy("o_orderpriority")
    wc = Window.partitionBy("o_orderstatus")
    wt = Window.partitionBy()
    exp = (F.sum("c").over(wr).cast("double")
           * F.sum("c").over(wc).cast("double")
           / F.sum("c").over(wt).cast("double"))
    chi = (F.col("c").cast("double") - exp) * (F.col("c").cast("double") - exp) / exp
    return (cell.select("o_orderpriority", "o_orderstatus",
                        F.col("c").cast("long").alias("observed"),
                        F.round(exp, 6).alias("expected"),
                        F.round(chi, 9).alias("chi_term"))
            .orderBy("o_orderpriority", "o_orderstatus"))


_QCHISQ_SQL = """
WITH cell AS (
  SELECT o_orderpriority, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2
)
SELECT o_orderpriority, o_orderstatus, c AS observed,
       ROUND(CAST(SUM(c) OVER (PARTITION BY o_orderpriority) AS DOUBLE)
             * CAST(SUM(c) OVER (PARTITION BY o_orderstatus) AS DOUBLE)
             / CAST(SUM(c) OVER () AS DOUBLE), 6) + 0.0 AS expected,
       ROUND((CAST(c AS DOUBLE)
              - CAST(SUM(c) OVER (PARTITION BY o_orderpriority) AS DOUBLE)
                * CAST(SUM(c) OVER (PARTITION BY o_orderstatus) AS DOUBLE)
                / CAST(SUM(c) OVER () AS DOUBLE))
             * (CAST(c AS DOUBLE)
                - CAST(SUM(c) OVER (PARTITION BY o_orderpriority) AS DOUBLE)
                  * CAST(SUM(c) OVER (PARTITION BY o_orderstatus) AS DOUBLE)
                  / CAST(SUM(c) OVER () AS DOUBLE))
             / (CAST(SUM(c) OVER (PARTITION BY o_orderpriority) AS DOUBLE)
                * CAST(SUM(c) OVER (PARTITION BY o_orderstatus) AS DOUBLE)
                / CAST(SUM(c) OVER () AS DOUBLE)), 9) + 0.0 AS chi_term
FROM cell
ORDER BY o_orderpriority, o_orderstatus
"""

R8_QUERIES["priority_status_chisq"] = (
    q_priority_status_chisq, _QCHISQ_SQL, False)


# --- events_skyline ---------------------------------------------------------

def q_events_skyline(spark, sf_dir):
    """Skyline (Pareto-front) operator: per event type, the events not
    dominated in (value, recency) — an event is on the front iff no
    other event of the type has BOTH higher value and later timestamp.
    Computed with the sort-scan identity: order by value desc, keep rows
    whose ts exceeds the running max ts of all higher-value rows — one
    window pass, never a pairwise dominance join (the classic skyline
    shape for 2 dimensions).  Ties ordered by (value desc, ts desc,
    event_id) so the running max is engine-identical."""
    ev = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("event_type")
         .orderBy(F.col("value").desc(), F.col("ts").desc(),
                  F.col("event_id").asc())
         .rowsBetween(Window.unboundedPreceding, -1))
    out = (ev.withColumn("prev_max_ts", F.max("ts").over(w))
           .filter(F.col("prev_max_ts").isNull()
                   | (F.col("ts") > F.col("prev_max_ts")))
           .select("event_type", "event_id",
                   F.round("value", 6).alias("value"),
                   F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
                   .alias("ts")))
    return out.orderBy("event_type", F.col("value").desc(), "event_id")


_QSKYLINE_SQL = """
WITH m AS (
  SELECT event_type, event_id, value, ts,
         MAX(ts) OVER (PARTITION BY event_type
                       ORDER BY value DESC, ts DESC, event_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max_ts
  FROM events
)
SELECT event_type, event_id, ROUND(value, 6) + 0.0 AS value,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts
FROM m
WHERE prev_max_ts IS NULL OR ts > prev_max_ts
ORDER BY event_type, value DESC, event_id
"""

R8_QUERIES["events_skyline"] = (q_events_skyline, _QSKYLINE_SQL, False)


# --- part_abc_xyz_matrix ----------------------------------------------------

def q_part_abc_xyz_matrix(spark, sf_dir):
    """ABC-XYZ inventory matrix: parts classified by revenue contribution
    (A = cumulative top 70%, B = next 25%, C = tail — window over the
    revenue-ranked part table) crossed with demand variability (X/Y/Z by
    weekly-demand coefficient of variation at 0.6/1.0 cuts) — the
    planner's 3x3 segmentation, as the cell-count matrix.  Weekly sums
    are exact (integer quantities); CV uses the sufficient-statistics
    variance with the same expression shape both sides, and the CV cuts
    are far from any data atom's wobble."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = (li.groupBy("l_partkey")
           .agg(F.round(F.sum(F.col("l_extendedprice")
                              * (1 - F.col("l_discount"))), 6).alias("rev")))
    wr = Window.orderBy(F.col("rev").desc(), F.col("l_partkey").asc())
    tot = Window.partitionBy()
    abc = (rev.withColumn(
        "cum", F.sum("rev").over(
            wr.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("share", F.col("cum") / F.sum("rev").over(tot))
        .select("l_partkey",
                F.when(F.col("share") <= 0.7, "A")
                .when(F.col("share") <= 0.95, "B").otherwise("C")
                .alias("abc")))
    wk = (li.groupBy("l_partkey",
                     F.weekofyear("l_shipdate").alias("wk"),
                     F.year("l_shipdate").alias("yr"))
          .agg(F.sum("l_quantity").alias("d")))
    st = (wk.groupBy("l_partkey")
          .agg(F.count(F.lit(1)).alias("nw"),
               F.sum("d").alias("s"), F.sum(F.col("d") * F.col("d")).alias("q")))
    nw = F.col("nw").cast("double")
    mean = F.col("s") / nw
    var = F.col("q") / nw - mean * mean
    cv = F.sqrt(F.greatest(var, F.lit(0.0))) / mean
    xyz = st.select("l_partkey",
                    F.when(cv <= 0.6, "X").when(cv <= 1.0, "Y")
                    .otherwise("Z").alias("xyz"))
    return (abc.join(xyz, "l_partkey")
            .groupBy("abc", "xyz").agg(F.count(F.lit(1)).alias("n_parts"))
            .orderBy("abc", "xyz"))


_QABCXYZ_SQL = """
WITH rev AS (
  SELECT l_partkey,
         ROUND(SUM(l_extendedprice * (1 - l_discount)), 6) AS rev
  FROM lineitem GROUP BY l_partkey
), abc AS (
  SELECT l_partkey,
         CASE WHEN SUM(rev) OVER (ORDER BY rev DESC, l_partkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   / SUM(rev) OVER () <= 0.7 THEN 'A'
              WHEN SUM(rev) OVER (ORDER BY rev DESC, l_partkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   / SUM(rev) OVER () <= 0.95 THEN 'B'
              ELSE 'C' END AS abc
  FROM rev
), wk AS (
  SELECT l_partkey, weekofyear(l_shipdate) AS wk, year(l_shipdate) AS yr,
         SUM(l_quantity) AS d
  FROM lineitem GROUP BY 1, 2, 3
), st AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS nw, SUM(d) AS s,
         SUM(d * d) AS q
  FROM wk GROUP BY l_partkey
), xyz AS (
  SELECT l_partkey,
         CASE WHEN sqrt(GREATEST(q / CAST(nw AS DOUBLE)
                        - (s / CAST(nw AS DOUBLE)) * (s / CAST(nw AS DOUBLE)),
                        0.0)) / (s / CAST(nw AS DOUBLE)) <= 0.6 THEN 'X'
              WHEN sqrt(GREATEST(q / CAST(nw AS DOUBLE)
                        - (s / CAST(nw AS DOUBLE)) * (s / CAST(nw AS DOUBLE)),
                        0.0)) / (s / CAST(nw AS DOUBLE)) <= 1.0 THEN 'Y'
              ELSE 'Z' END AS xyz
  FROM st
)
SELECT abc, xyz, CAST(COUNT(*) AS BIGINT) AS n_parts
FROM abc JOIN xyz USING (l_partkey)
GROUP BY abc, xyz
ORDER BY abc, xyz
"""

R8_QUERIES["part_abc_xyz_matrix"] = (
    q_part_abc_xyz_matrix, _QABCXYZ_SQL, False)
