"""Structured-Streaming operators over the events stream.

The reference contains no streaming code at all (SURVEY.md §1.1 — verified
absence), so this module is engine-native scope: the standard streaming
shapes a large-scale event pipeline needs, built on watermarks + windowed
aggregation + session windows + arbitrary stateful processing.

Every operator works identically on a batch DataFrame (the driver's static
``events`` parquet) and on a ``readStream`` source — the functions take
whichever DataFrame they're given; tests exercise both paths with
``Trigger.AvailableNow``.
"""

from __future__ import annotations

from typing import Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType, TimestampType)


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window counts+sums per event_type with late-data watermark.
    Streaming: incremental state per window; Batch: plain groupBy."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type", "n_events", "sum_value")
    )


def sessionize(events: DataFrame, gap: str = "30 minutes",
               watermark: str = "2 hours") -> DataFrame:
    """Session windows per user (gap-based), the canonical stateful shape."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(F.session_window("ts", gap).alias("s"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("value").alias("session_value"))
        .select(F.col("user_id"),
                F.col("s.start").alias("session_start"),
                F.col("s.end").alias("session_end"),
                "n_events", "session_value")
    )


_RUNNING_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n_events", LongType()),
    StructField("total_value", DoubleType()),
])

_STATE_SCHEMA = StructType([
    StructField("n", LongType()),
    StructField("total", DoubleType()),
])


def running_user_totals_stateful(events: DataFrame,
                                 ttl_ms: Optional[int] = None) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` — per-user
    running totals that survive across micro-batches (the
    ``applyInPandasWithState`` pattern from SURVEY.md §2 Tier E /
    the driver brief's custom-stateful-operator requirement).

    ``ttl_ms`` bounds state at scale: with a processing-time TTL, a user
    idle past the horizon has their state evicted instead of living
    forever (at 100 TB / billions of keys, NoTimeout state is a slow OOM
    of the state store).  Totals already emitted are unaffected — a user
    returning after eviction restarts their running count, the standard
    TTL trade-off.  A TTL query under an ``availableNow`` trigger does not
    stop on its own (its timeout state keeps running no-data batches)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    timeout = (GroupStateTimeout.ProcessingTimeTimeout if ttl_ms
               else GroupStateTimeout.NoTimeout)

    def update(key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            state.remove()
        else:
            n, total = state.get if state.exists else (0, 0.0)
            for pdf in pdfs:
                n += len(pdf)
                total += float(pdf["value"].fillna(0.0).sum())
            state.update((n, total))
            if ttl_ms:
                state.setTimeoutDuration(ttl_ms)
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                                "total_value": [total]})

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(update, _RUNNING_SCHEMA, _STATE_SCHEMA,
                                "update", timeout)
    )


def event_type_rollup(events: DataFrame) -> DataFrame:
    """Batch rollup used as the differential baseline for the streaming
    paths: per (event_type, hour) stats."""
    return (
        events.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("value").alias("sum_value"),
             F.avg("value").alias("avg_value"))
    )


def dedup_within_watermark(events: DataFrame, keys: list,
                           watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: drop repeats of ``keys`` arriving within the
    watermark horizon — bounded state (expired keys are evicted), the
    streaming face of pipeline.dedup.exact_dedup.  Batch: plain
    dropDuplicates."""
    if not events.isStreaming:
        return events.dropDuplicates(keys)
    return (events.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(keys))


def stream_static_enrich(events: DataFrame, dim: DataFrame,
                         on: str) -> DataFrame:
    """Stream-static join: enrich the event stream with a dimension table
    (broadcast each micro-batch — the standard streaming enrichment shape;
    no state, no watermark needed on the static side)."""
    return events.join(F.broadcast(dim), on, "left")


def stream_stream_join(left: DataFrame, right: DataFrame, key: str,
                       left_ts: str = "ts", right_ts: str = "ts",
                       within: str = "1 hour",
                       watermark: str = "2 hours",
                       how: str = "inner") -> DataFrame:
    """Stream-stream join with a time-bound join condition — both sides
    keep watermarked state; rows pair only within ±``within``.
    ``how``: inner (default), left_outer, right_outer, or full_outer —
    outer null-extensions emit when the watermark passes the join window
    (Spark's standard outer stream-stream semantics; the time bound makes
    state evictable on BOTH sides, which is what licenses full_outer).
    On batch inputs the same expression is a plain range-condition join."""
    l = left.select(F.col(key).alias("_k"), F.col(left_ts).alias("_lts"),
                    *[c for c in left.columns if c not in (key, left_ts)])
    r = right.select(F.col(key).alias("_rk"), F.col(right_ts).alias("_rts"),
                     *[c for c in right.columns if c not in (key, right_ts)])
    if left.isStreaming:
        l = l.withWatermark("_lts", watermark)
    if right.isStreaming:
        r = r.withWatermark("_rts", watermark)
    cond = ((l["_k"] == r["_rk"])
            & (r["_rts"] >= l["_lts"] - F.expr(f"INTERVAL {within}"))
            & (r["_rts"] <= l["_lts"] + F.expr(f"INTERVAL {within}")))
    return (l.join(r, cond, how)
            .select(F.col("_k").alias(key), F.col("_lts").alias("left_ts"),
                    F.col("_rts").alias("right_ts"),
                    *[c for c in l.columns if c not in ("_k", "_lts")],
                    *[c for c in r.columns if c not in ("_rk", "_rts")]))


def drain(query, timeout_sec: int = 300) -> None:
    """Block until an availableNow streaming query finishes, raising on
    timeout instead of returning with the sink half-filled.
    ``awaitTermination(t)`` returns False on timeout — a caller that
    ignores the boolean silently reads a PARTIAL result from the sink
    (round-7 advice item).  Every declared streaming query drains
    through here."""
    if not query.awaitTermination(timeout_sec):
        query.stop()
        raise RuntimeError(
            f"streaming query did not drain within {timeout_sec}s")
