"""ST4: custom stateful operator — stream state must accumulate across
micro-batches and agree with the batch twin at end-of-stream."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_session_depth_stream_matches_batch(spark):
    from real_time_recommendation_system_with_feature_store_spark.session import load_tables
    from real_time_recommendation_system_with_feature_store_spark.streaming.stateful import (
        session_depth_batch,
        session_depth_stream,
    )

    events = load_tables(spark, SF_DIR, register=False)["events"].select(
        "user_id", "event_id", "ts"
    )

    stage = os.path.join(TMP, "stateful_stage")
    shutil.rmtree(stage, ignore_errors=True)
    # The file source orders batches by file MODIFICATION TIME, so in-order
    # event-time delivery needs sequential writes (one ts-quartile per write;
    # a single 4-file write gets arbitrary order, the watermark jumps to the
    # global max, and every remaining row is dropped as late).
    bounds = events.select(
        F.expr("percentile_approx(ts, array(0.25, 0.5, 0.75), 10000)").alias("q")
    ).collect()[0]["q"]
    cuts = [None, *bounds, None]
    for i in range(4):
        part = events
        if cuts[i] is not None:
            part = part.where(F.col("ts") > F.lit(cuts[i]))
        if cuts[i + 1] is not None:
            part = part.where(F.col("ts") <= F.lit(cuts[i + 1]))
        part.coalesce(1).write.mode("append").parquet(stage)

    schema = spark.read.parquet(stage).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
    )
    # TTL far beyond the 30-day data span: parity vs the batch twin needs no
    # mid-replay eviction (eviction itself is exercised by the TTL unit test)
    out = session_depth_stream(stream, ttl_seconds=86400.0 * 365)
    # availableNow (not processAllAvailable): the engine re-runs batches while
    # timers/watermarks can still fire; availableNow drains and stops.
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("depth_out")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300), "stream did not drain in 300s"
    finally:
        q.stop()

    # update-mode memory sink keeps every emitted row: take the last per user
    final = (
        spark.sql("SELECT * FROM depth_out")
        .groupBy("user_id")
        .agg(F.max(F.struct("n_events", "session_depth")).alias("s"))
        .select("user_id", "s.n_events", "s.session_depth")
    )
    got = {r["user_id"]: (r["n_events"], r["session_depth"]) for r in final.collect()}
    expected = {
        r["user_id"]: (r["n_events"], r["session_depth"])
        for r in session_depth_batch(events).collect()
    }
    assert got == expected
    assert len(got) > 0


@pytest.mark.heavy
def test_late_data_point_in_time_parity(spark):
    """The watermark edge, end to end: OUT-OF-ORDER events replayed through
    windowed_feature_stream (update mode, real finite watermark) + the
    foreachBatch store push. Pins the guaranteed halves of the late-data
    contract THROUGH the store:

    1. late-but-within-watermark rows are integrated — their windows
       re-emit corrected, the created_field tiebreak picks the newest push,
       and get_historical_features equals the batch as-of over the same
       data;
    2. a beyond-watermark straggler cannot REWRITE history the PIT path
       already serves — answers for the label set are identical before and
       after it drains. (Spark does not guarantee the drop itself — late
       data "may or may not" be aggregated — so that side is not asserted.)
    """
    import time
    from datetime import datetime, timedelta

    from real_time_recommendation_system_with_feature_store_spark.features.store import FeatureStore, FeatureView
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        upsert_online_store,
        windowed_feature_stream,
    )

    t0 = datetime.fromisoformat("2024-03-01 00:00:00")

    def ev(uid, hours, etype, value):
        return (uid, t0 + timedelta(hours=hours), etype, float(value))

    cols = ["user_id", "ts", "event_type", "value"]
    # batch 1: on-time, hours 0-5
    b1 = [ev(1, 0.2, "view", 10), ev(1, 1.3, "click", 0), ev(2, 1.5, "view", 30),
          ev(1, 4.1, "view", 20), ev(2, 5.0, "click", 0)]
    # batch 2: LATE rows back at hour 1 (prior watermark is 5h-6h < 0 ->
    # accepted; their hour-1 windows must re-emit corrected) + hour 8
    b2 = [ev(1, 1.7, "view", 40), ev(2, 1.1, "click", 0), ev(1, 8.4, "view", 50)]
    # batch 3: hour 40 pushes the NEXT batch's watermark to 34.5h
    b3 = [ev(2, 40.5, "view", 60)]
    # batch 4 (written mid-stream): hour-2 straggler beyond that watermark
    b4 = [ev(1, 2.5, "click", 0)]

    stage = os.path.join(TMP, "late_pit_stage")
    shutil.rmtree(stage, ignore_errors=True)
    # the file source orders micro-batches by file MODIFICATION TIME; writes
    # can land within the same second, so stamp strictly increasing mtimes
    seen: set[str] = set()
    base = time.time()

    def write_batch(i, batch):
        spark.createDataFrame(batch, cols).coalesce(1).write.mode("append").parquet(stage)
        for f in os.listdir(stage):
            if f.endswith(".parquet") and f not in seen:
                seen.add(f)
                os.utime(os.path.join(stage, f), (base + 10 * i, base + 10 * i))

    for i, batch in enumerate((b1, b2, b3)):
        write_batch(i, batch)
    schema = spark.read.parquet(stage).schema

    def fresh_store():
        store = FeatureStore(spark=spark)
        store.register(
            FeatureView(
                name="rt", entities=["user_id"], ttl_seconds=None,
                timestamp_field="window_end", created_field="__push_seq",
            ),
            None,
        )
        return store

    stream_store = fresh_store()

    # one file per micro-batch: b2's hour-1 corrections must arrive in a
    # later batch than b1 so those windows re-emit (the bounded replay
    # source would admit b1-b3 as one batch)
    feats = windowed_feature_stream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage),
        key="user_id", window="1 hour", watermark="6 hours",
    )
    labels = spark.createDataFrame(
        [(u, t0 + timedelta(hours=h)) for u in (1, 2) for h in (1.0, 2.0, 6.0, 9.0, 41.0)],
        ["user_id", "ts"],
    )

    def pit(store):
        return sorted(
            map(
                str,
                store.get_historical_features("rt", labels, timestamp_col="ts")
                .drop("__push_seq")
                .collect(),
            )
        )

    # corrected re-emissions of a window share its window_end; the sink
    # stamps the epoch into the created_field, so the as-of picks the
    # newest push
    q = feats.writeStream.outputMode("update").foreachBatch(upsert_online_store(stream_store, "rt")).start()
    try:
        q.processAllAvailable()
        got = pit(stream_store)
        # half 2: the beyond-watermark straggler drains mid-stream ...
        write_batch(3, b4)
        q.processAllAvailable()
        got_after = pit(stream_store)
    finally:
        q.stop()

    # half 1: within-watermark out-of-order parity with the batch as-of
    batch_store = fresh_store()
    batch_store.push(
        "rt",
        windowed_feature_stream(
            spark.createDataFrame(b1 + b2 + b3, cols), key="user_id", window="1 hour"
        ).withColumn("__push_seq", F.lit(0)),
    )
    want = pit(batch_store)
    assert got == want and len(got) == 10

    # the late hour-1 corrections really flowed through: user 1's hour-1
    # window serves click=1 AND the late view (views=1) at the hour-2 label
    by_label = {
        (r["user_id"], str(r["ts"])): (r["clicks"], r["views"])
        for r in stream_store.get_historical_features("rt", labels, timestamp_col="ts").collect()
    }
    assert by_label[(1, "2024-03-01 02:00:00")] == (1, 1)
    assert by_label[(2, "2024-03-01 02:00:00")] == (1, 1)

    # ... and half 2: it cannot rewrite already-served history
    assert got_after == got
