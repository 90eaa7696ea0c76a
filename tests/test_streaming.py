"""Streaming operator tests: batch/stream agreement with AvailableNow trigger
over the driver's events parquet."""

import os
import time

import pytest
from pyspark.sql import functions as F

from sedona_iceberg_extension_spark import streaming as S


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    from sedona_iceberg_extension_spark.sources import load_table
    return load_table(spark, sf_dir, "events")


def test_windowed_counts_batch(events):
    out = S.windowed_event_counts(events, window="1 hour")
    rows = out.collect()
    assert len(rows) > 0
    assert sum(r["n_events"] for r in rows) == events.count()


def test_sessionize_batch(events):
    out = S.sessionize(events, gap="30 minutes")
    rows = out.collect()
    assert len(rows) > 0
    assert sum(r["n_events"] for r in rows) == events.count()
    # session windows are disjoint per user and ordered
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append((r["session_start"], r["session_end"]))
    for spans in by_user.values():
        spans.sort()
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert e1 <= s2


def test_stream_matches_batch(spark, events, sf_dir, tmp_path):
    """availableNow streaming run over the same parquet produces the same
    windowed counts as the batch path (late-data watermark honored)."""
    from sedona_iceberg_extension_spark.sources import stream_table
    stream = stream_table(spark, sf_dir, "events")
    out = S.windowed_event_counts(stream, window="1 hour", watermark="10 years")
    q = (out.writeStream.format("memory").queryName("win_counts")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["window_start"], r["event_type"]): r["n_events"]
           for r in spark.sql("SELECT * FROM win_counts").collect()}
    want = {(r["window_start"], r["event_type"]): r["n_events"]
            for r in S.windowed_event_counts(events, window="1 hour").collect()}
    assert got == want


def test_stateful_running_totals_stream(spark, events, sf_dir):
    from sedona_iceberg_extension_spark.sources import stream_table
    stream = stream_table(spark, sf_dir, "events")
    out = S.running_user_totals_stateful(stream)
    q = (out.writeStream.format("memory").queryName("running_totals")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["user_id"]: (r["n_events"], r["total_value"])
           for r in spark.sql(
               "SELECT user_id, max(n_events) n_events, max(total_value) total_value "
               "FROM running_totals GROUP BY user_id").collect()}
    want = {r["user_id"]: (r["n"], r["t"]) for r in
            events.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n"), F.sum("value").alias("t")).collect()}
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0]
        assert got[u][1] == pytest.approx(want[u][1])


def test_stateful_running_totals_with_ttl(spark, events, sf_dir):
    """The TTL variant (processing-time state eviction for idle keys —
    bounded state at scale) computes the same totals within one pass."""
    from sedona_iceberg_extension_spark.sources import stream_table
    stream = stream_table(spark, sf_dir, "events")
    out = S.running_user_totals_stateful(stream, ttl_ms=3_600_000)
    q = (out.writeStream.format("memory").queryName("running_totals_ttl")
         .outputMode("update").trigger(availableNow=True).start())
    # the processing-time timeout keeps the availableNow query running
    # no-data batches, so it never ends by itself: wait (bounded) until
    # batches holding every input row have committed, then stop it
    n_rows, committed = events.count(), {}
    deadline = time.monotonic() + 120
    while sum(committed.values()) < n_rows and q.isActive \
            and time.monotonic() < deadline:
        for p in q.recentProgress:
            committed[p["batchId"]] = p["numInputRows"]
        time.sleep(0.2)
    q.stop()
    got = {r["user_id"]: r["n_events"] for r in spark.sql(
        "SELECT user_id, max(n_events) n_events "
        "FROM running_totals_ttl GROUP BY user_id").collect()}
    want = {r["user_id"]: r["n"] for r in
            events.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want


def test_streaming_dedup_within_watermark(spark, events, sf_dir):
    from sedona_iceberg_extension_spark.sources import stream_table
    stream = stream_table(spark, sf_dir, "events")
    out = S.dedup_within_watermark(stream, ["user_id"], watermark="10 years")
    q = (out.writeStream.format("memory").queryName("dedup_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT COUNT(*) AS n, COUNT(DISTINCT user_id) AS d "
                    "FROM dedup_stream").first()
    # every user exactly once (single batch, all dups within watermark)
    assert got["n"] == got["d"] == events.select("user_id").distinct().count()
    # batch path: plain dropDuplicates
    assert S.dedup_within_watermark(events, ["user_id"]).count() == got["d"]


def test_stream_static_enrich(spark, events, sf_dir):
    from sedona_iceberg_extension_spark.sources import load_table, stream_table
    users = events.select("user_id").distinct() \
        .withColumn("tier", F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd"))
    stream = stream_table(spark, sf_dir, "events")
    out = S.stream_static_enrich(stream, users, "user_id")
    q = (out.writeStream.format("memory").queryName("enriched")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    res = spark.sql("SELECT COUNT(*) n, SUM(CASE WHEN tier IS NULL THEN 1 ELSE 0 END) miss "
                    "FROM enriched").first()
    assert res["n"] == events.count() and res["miss"] == 0


def test_stream_stream_join_batch_equivalence(spark, events, sf_dir):
    """The same stream_stream_join expression over batch inputs equals the
    hand-written range join (and runs as a streaming join shape)."""
    clicks = events.filter(F.col("event_type") == "click") \
        .select("user_id", "ts", F.col("value").alias("click_value"))
    views = events.filter(F.col("event_type") == "view") \
        .select("user_id", "ts", F.col("value").alias("view_value"))
    out = S.stream_stream_join(clicks, views, "user_id", within="30 minutes")
    n = out.count()
    want = clicks.alias("c").join(
        views.alias("v"),
        (F.col("c.user_id") == F.col("v.user_id"))
        & (F.col("v.ts") >= F.col("c.ts") - F.expr("INTERVAL 30 minutes"))
        & (F.col("v.ts") <= F.col("c.ts") + F.expr("INTERVAL 30 minutes"))).count()
    assert n == want and n > 0


def test_stream_to_snapshot_exactly_once(spark, sf_dir, tmp_path):
    """foreachBatch ingest into the snapshot layer: every micro-batch is one
    append snapshot carrying its batch id; a checkpoint replay (same or
    older id) is fenced — restart never double-writes."""
    from sedona_iceberg_extension_spark.operators.snapshots import SnapshotTable
    from sedona_iceberg_extension_spark.sources import stream_table
    from sedona_iceberg_extension_spark.streaming import write_stream_to_snapshot

    seed = spark.read.parquet(f"{sf_dir}/nation.parquet").limit(0)
    table = SnapshotTable.create(spark, str(tmp_path / "ingest"), seed)

    stream = stream_table(spark, sf_dir, "nation")
    q = write_stream_to_snapshot(stream, table, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    expected = spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    assert table.read(spark).count() == expected
    assert table.last_stream_batch_id() == 0
    hist = [h["operation"] for h in table.history()]
    assert hist[0] == "create" and all(op == "append" for op in hist[1:])

    # restart with the same checkpoint: source has no new files -> no batch;
    # and a manual replay of batch 0 is fenced by the id
    n_versions = len(table.versions())
    q2 = write_stream_to_snapshot(stream_table(spark, sf_dir, "nation"),
                                  table, str(tmp_path / "ckpt"))
    q2.awaitTermination(300)
    batch0 = spark.read.parquet(f"{sf_dir}/nation.parquet")
    assert table.append_stream_batch(batch0, 0) is None  # fenced
    assert len(table.versions()) == n_versions
    assert table.read(spark).count() == expected


def test_stream_stream_join_left_outer_batch_parity(spark, sf_dir):
    """``how='left_outer'``: on batch inputs the time-bound join is a plain
    left-outer range join — clicks with no view within the hour keep a null
    right side (the streaming path shares the identical expression; outer
    emission timing is watermark-driven there)."""
    from pyspark.sql import functions as F

    from sedona_iceberg_extension_spark.sources import load_table
    from sedona_iceberg_extension_spark.streaming import stream_stream_join

    ev = load_table(spark, sf_dir, "events")
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("user_id", "ts", F.col("event_id").alias("click_id")))
    views = (ev.filter(F.col("event_type") == "view")
             .select("user_id", "ts", F.col("event_id").alias("view_id")))
    out = stream_stream_join(clicks, views, "user_id",
                             within="60 minutes", how="left_outer")
    n_clicks = clicks.count()
    matched = out.filter(F.col("view_id").isNotNull())
    unmatched = out.filter(F.col("view_id").isNull())
    # every click appears; unmatched ones exactly once with a null view
    assert unmatched.select("click_id").distinct().count() \
        + matched.select("click_id").distinct().count() == n_clicks
    inner = stream_stream_join(clicks, views, "user_id",
                               within="60 minutes", how="inner")
    assert matched.count() == inner.count()


def test_stream_stream_join_full_outer_batch_parity(spark, sf_dir):
    """``how='full_outer'``: both unmatched sides survive with nulls; the
    matched core equals the inner join (streaming path shares the
    expression — both sides' watermarks make full-outer state evictable)."""
    from pyspark.sql import functions as F

    from sedona_iceberg_extension_spark.sources import load_table
    from sedona_iceberg_extension_spark.streaming import stream_stream_join

    ev = load_table(spark, sf_dir, "events")
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("user_id", "ts", F.col("event_id").alias("click_id")))
    views = (ev.filter(F.col("event_type") == "view")
             .select("user_id", "ts", F.col("event_id").alias("view_id")))
    out = stream_stream_join(clicks, views, "user_id",
                             within="60 minutes", how="full_outer")
    inner = stream_stream_join(clicks, views, "user_id",
                               within="60 minutes", how="inner")
    matched = out.filter(F.col("view_id").isNotNull()
                         & F.col("click_id").isNotNull())
    assert matched.count() == inner.count() > 0
    # every click and every view appears at least once
    assert out.select("click_id").distinct().count() >= clicks.count()
    assert out.filter(F.col("view_id").isNotNull()) \
        .select("view_id").distinct().count() == views.count()
    # and the streaming form of the same expression is a valid plan
    from sedona_iceberg_extension_spark.sources import stream_table
    sev = stream_table(spark, sf_dir, "events")
    sclicks = (sev.filter(F.col("event_type") == "click")
               .select("user_id", "ts", F.col("event_id").alias("click_id")))
    sviews = (sev.filter(F.col("event_type") == "view")
              .select("user_id", "ts", F.col("event_id").alias("view_id")))
    sout = stream_stream_join(sclicks, sviews, "user_id",
                              within="60 minutes", how="full_outer")
    assert sout.isStreaming


def test_stream_stream_join_full_outer_batch_parity(spark, sf_dir):
    """``how='full_outer'``: both unmatched sides null-extend exactly once;
    matched rows equal the inner join (the streaming path shares the
    identical expression — outer emission timing is watermark-driven)."""
    from pyspark.sql import functions as F

    from sedona_iceberg_extension_spark.sources import load_table
    from sedona_iceberg_extension_spark.streaming import stream_stream_join

    ev = load_table(spark, sf_dir, "events")
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("user_id", "ts", F.col("event_id").alias("click_id")))
    views = (ev.filter(F.col("event_type") == "view")
             .select("user_id", "ts", F.col("event_id").alias("view_id")))
    out = stream_stream_join(clicks, views, "user_id",
                             within="60 minutes", how="full_outer")
    inner = stream_stream_join(clicks, views, "user_id",
                               within="60 minutes", how="inner")
    matched = out.filter(F.col("view_id").isNotNull()
                         & F.col("click_id").isNotNull())
    assert matched.count() == inner.count()
    # every click and every view appears at least once
    assert out.filter(F.col("click_id").isNotNull()) \
              .select("click_id").distinct().count() == clicks.count()
    assert out.filter(F.col("view_id").isNotNull()) \
              .select("view_id").distinct().count() == views.count()
    left_null = out.filter(F.col("click_id").isNull())
    right_null = out.filter(F.col("view_id").isNull())
    # null-extended rows are exactly the keys the inner join missed
    assert left_null.count() == views.join(
        inner.select("view_id").distinct(), "view_id", "left_anti").count()
    assert right_null.count() == clicks.join(
        inner.select("click_id").distinct(), "click_id", "left_anti").count()


def test_stream_ingest_gate_runs_as_stream(spark, sf_dir):
    """The declared streaming_ingest_gate query: a real availableNow stream
    whose kept set equals the batch anti-join."""
    from sedona_iceberg_extension_spark.plans.queries_r5 import \
        q_streaming_ingest_gate
    from sedona_iceberg_extension_spark.sources import load_table
    from pyspark.sql import functions as F

    got = q_streaming_ingest_gate(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 2 == 0) \
             .select(F.md5("text").alias("h")).distinct()
    want = (docs.filter(F.col("doc_id") % 2 == 1)
            .withColumn("h", F.md5("text"))
            .join(ev, "h", "left_anti").count())
    assert got.count() == want
