"""Batch/stream parity (SURVEY.md §5): replaying the events table through a
file stream must produce byte-identical windowed features to the batch path,
because both run the same windowed_feature_stream() expression."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
    decode_kafka_json,
    replay_events_stream,
    windowed_feature_stream,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")


@pytest.fixture(scope="module")
def events_batch(spark):
    from real_time_recommendation_system_with_feature_store_spark.session import load_tables

    return load_tables(spark, SF_DIR, register=False)["events"]


def _data_batches(q) -> int:
    """Micro-batches of a query that read at least one row."""
    return sum(1 for p in q.recentProgress if p["numInputRows"] > 0)


@pytest.mark.parametrize("per_file", [False, True], ids=["bounded", "per_file"])
def test_stream_batch_parity(spark, events_batch, per_file):
    # four staged files: the bounded replay source admits them in one
    # micro-batch, the per-file source in four — parity must hold for both
    stage = os.path.join(TMP, "stream_stage")
    shutil.rmtree(stage, ignore_errors=True)
    events_batch.repartition(4).write.mode("overwrite").parquet(stage)

    schema = spark.read.parquet(stage).schema
    if per_file:
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
    else:
        stream = replay_events_stream(spark, stage, schema)
    assert stream.isStreaming

    agg_stream = windowed_feature_stream(stream, key="user_id", window="1 hour", watermark="365 days")
    q = (
        agg_stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName("parity_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert _data_batches(q) == (4 if per_file else 1)

    got = spark.sql("SELECT * FROM parity_out")
    expected = windowed_feature_stream(events_batch, key="user_id", window="1 hour")

    g = sorted(map(str, got.collect()))
    e = sorted(map(str, expected.collect()))
    assert len(g) > 0
    assert g == e


def _land_event_files(stage: str, n_files: int, events: int = 300) -> None:
    """Land ``n_files`` event files the benchmark's way: file ``i`` holds
    minute ``i``, a fifth of its events up to 3 min late (inside a 10 min
    watermark), Zipf users, the item id in ``props``. Dwell values sit on a
    1/8 grid, so any aggregation order sums them exactly. Modification
    times increase with ``i``, which is the order the file source reads."""
    import time

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(stage)
    base = time.time() - 10 * n_files
    for i in range(n_files):
        rng = np.random.default_rng([11, i])
        late = rng.uniform(0.0, 180.0, events) * (rng.random(events) < 0.2)
        secs = np.maximum(60.0 * i + rng.uniform(0.0, 60.0, events) - late, 0.0)
        frame = pd.DataFrame({
            "ts": (pd.Timestamp("2024-01-01", tz="UTC") + pd.to_timedelta(secs, unit="s"))
            .astype("datetime64[us, UTC]"),
            "user_id": (rng.zipf(1.3, events) % 50).astype("int64"),
            "event_type": rng.choice(["click", "view", "purchase"], events, p=[0.3, 0.6, 0.1]),
            "value": rng.integers(0, 480, events) / 8.0,
            "props": [f'{{"item_id": {k}}}' for k in rng.zipf(1.2, events) % 40],
        })
        path = os.path.join(stage, f"events-{i:03d}.parquet")
        pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), path)
        os.utime(path, (base + 10 * i, base + 10 * i))


def _run_feature_queries(spark, source, out_dir):
    """The benchmark's two queries over ``source()``: 5 min windowed user
    features in update mode into a FeatureStore (epoch as the view's
    created_field), and raw events folded into decayed item counts.
    Returns (latest snapshot rows without the epoch, decayed counts by
    item, data micro-batches per query)."""
    from real_time_recommendation_system_with_feature_store_spark.features.store import FeatureStore, FeatureView
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        decayed_count_stream,
        read_decayed_counts,
        upsert_online_store,
    )

    store = FeatureStore(spark=spark)
    store.register(FeatureView(name="rt", entities=["user_id"], ttl_seconds=None,
                               timestamp_field="window_end", created_field="epoch"))
    state = os.path.join(out_dir, "trending")
    feats = windowed_feature_stream(source(), key="user_id", window="5 minutes", watermark="10 minutes")
    items = source().select("ts", F.get_json_object("props", "$.item_id").cast("long").alias("item_id"))
    queries = [
        feats.writeStream.outputMode("update").foreachBatch(upsert_online_store(store, "rt"))
        .option("checkpointLocation", os.path.join(out_dir, "ckpt_feats")).start(),
        items.writeStream.foreachBatch(decayed_count_stream(state, "item_id", "ts", "1 hours"))
        .option("checkpointLocation", os.path.join(out_dir, "ckpt_items")).start(),
    ]
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()
    snap = sorted(tuple(r) for r in store.latest_snapshot("rt").drop("epoch").collect())
    decayed = {r["key"]: r["decayed_count"]
               for r in read_decayed_counts(spark, state, "2024-01-01 01:00:00", "1 hours").collect()}
    return snap, decayed, [_data_batches(q) for q in queries]


def test_replay_batch_size_invariance_and_admission_bound(spark, tmp_path):
    """A backlog of event files through the benchmark's two queries: the
    bounded replay source drains it in at most two micro-batches per query
    and gives the same store snapshot and decayed counts as one batch per
    file. With the scan wave (maxPartitionBytes x defaultParallelism) set
    below one file's size, the backlog splits into one batch per file."""
    n_files = 6
    stage = str(tmp_path / "landing")
    _land_event_files(stage, n_files)
    schema = spark.read.parquet(stage).schema

    def bounded():
        return replay_events_stream(spark, stage, schema)

    def per_file():
        return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)

    snap_b, decayed_b, batches_b = _run_feature_queries(spark, bounded, str(tmp_path / "bounded"))
    snap_f, decayed_f, batches_f = _run_feature_queries(spark, per_file, str(tmp_path / "per_file"))
    smallest = min(os.path.getsize(os.path.join(stage, f)) for f in os.listdir(stage))
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    # a byte string, as the conf may hold one
    spark.conf.set(key, f"{smallest // (2 * spark.sparkContext.defaultParallelism)}b")
    try:
        snap_s, decayed_s, batches_s = _run_feature_queries(spark, bounded, str(tmp_path / "small"))
    finally:
        spark.conf.set(key, old)

    assert all(1 <= n <= 2 for n in batches_b), batches_b
    assert batches_f == batches_s == [n_files, n_files]
    assert snap_f and snap_b == snap_f == snap_s
    for decayed in (decayed_b, decayed_s):
        assert decayed.keys() == decayed_f.keys()
        for k, v in decayed.items():
            assert abs(v - decayed_f[k]) <= 1e-9 * abs(decayed_f[k]), k


def test_kafka_json_decode_batch_analog(spark):
    """ST1: the same from_json projection used by the kafka source, on a
    batch frame standing in for kafka's (key, value) shape."""
    from real_time_recommendation_system_with_feature_store_spark.sources.schemas import schema_for

    raw = spark.createDataFrame(
        [
            ('{"event_type":"click","user_id":7,"item_id":3,"timestamp":"2024-01-01T10:00:00Z","duration":1.5,"category":"tech","session_id":"s1"}',),
            ('not json',),
        ],
        ["value"],
    )
    out = decode_kafka_json(raw, schema_for("kafka_event")).collect()
    ok = [r for r in out if r["event_type"] == "click"][0]
    assert ok["user_id"] == 7 and ok["item_id"] == 3 and ok["category"] == "tech"
    bad = [r for r in out if r["event_type"] is None]
    assert len(bad) == 1  # malformed rows -> null struct, not a crash


def test_online_store_upsert_roundtrip(spark):
    """ST8/S6/S7: stream-shaped push + latest-snapshot lookup."""
    from datetime import datetime

    from real_time_recommendation_system_with_feature_store_spark.features.store import FeatureStore, FeatureView

    t0 = datetime.fromisoformat("2024-01-01 10:00:00")
    t1 = datetime.fromisoformat("2024-01-01 11:00:00")
    base = spark.createDataFrame(
        [(1, t0, 10.0), (2, t0, 20.0)], ["user_id", "event_timestamp", "score"]
    )
    store = FeatureStore(spark=spark)
    store.register(
        FeatureView(name="v", entities=["user_id"], ttl_seconds=None), base
    )
    # push a newer row for user 1 (foreachBatch upsert path uses store.push)
    store.push("v", spark.createDataFrame([(1, t1, 99.0)], ["user_id", "event_timestamp", "score"]))

    snap = {r["user_id"]: r["score"] for r in store.latest_snapshot("v").collect()}
    assert snap == {1: 99.0, 2: 20.0}

    keys = spark.createDataFrame([(1,), (3,)], ["user_id"])
    online = {r["user_id"]: r["score"] for r in store.get_online_features("v", keys).collect()}
    assert online[1] == 99.0 and online[3] is None  # cold key -> null row


def test_upsert_online_store_stamps_epoch_as_created_field(spark):
    """Update mode re-emits a window in a later batch, so two pushes hold
    the same (user_id, window_end). The sink stamps each batch's epoch into
    the view's created_field and latest_snapshot returns the later epoch's
    values; a batch that already carries the column is pushed as it is."""
    from datetime import datetime

    from real_time_recommendation_system_with_feature_store_spark.features.store import FeatureStore, FeatureView
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import upsert_online_store

    store = FeatureStore(spark=spark)
    store.register(FeatureView(name="rt", entities=["user_id"], ttl_seconds=None,
                               timestamp_field="window_end", created_field="epoch"))
    sink = upsert_online_store(store, "rt")
    end = datetime.fromisoformat("2024-01-01 10:05:00")
    cols = ["user_id", "window_end", "clicks"]
    sink(spark.createDataFrame([(1, end, 1), (2, end, 5)], cols), 7)
    sink(spark.createDataFrame([(1, end, 3)], cols), 8)
    snap = {r["user_id"]: (r["clicks"], r["epoch"]) for r in store.latest_snapshot("rt").collect()}
    assert snap == {1: (3, 8), 2: (5, 7)}

    sink(spark.createDataFrame([(2, end, 6, 100)], [*cols, "epoch"]), 9)
    snap = {r["user_id"]: (r["clicks"], r["epoch"]) for r in store.latest_snapshot("rt").collect()}
    assert snap == {1: (3, 8), 2: (6, 100)}


def test_session_window_stream_matches_batch(spark):
    """ST7 stream tier: session_window sessions emitted by the stream
    (append mode, watermark-closed) must equal the batch run of the same
    expression. A far-future sentinel event advances the watermark past
    every real session so all of them emit before the stream drains."""
    import os as _os
    import shutil

    from pyspark.sql import functions as F

    from real_time_recommendation_system_with_feature_store_spark.session import load_tables
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import session_feature_stream

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    events = load_tables(spark, sf_dir, register=False)["events"].select(
        "user_id", "event_id", "event_type", "ts"
    )

    tmp = _os.path.join(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), ".tmp")
    stage = _os.path.join(tmp, "session_stage")
    shutil.rmtree(stage, ignore_errors=True)
    # in-event-time-order delivery (file source orders by mtime): quartile
    # slices written sequentially, then the sentinel as the newest file
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
    sentinel = spark.createDataFrame(
        [(-1, -1, "view")], "user_id long, event_id long, event_type string"
    ).withColumn("ts", F.to_timestamp(F.lit("2099-01-01 00:00:00")))
    sentinel.select(*events.columns).coalesce(1).write.mode("append").parquet(stage)

    schema = spark.read.parquet(stage).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
    out = session_feature_stream(stream, gap="30 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300), "stream did not drain in 300s"
    finally:
        q.stop()

    def keyset(rows):
        return {
            (r["user_id"], r["session_start"], r["session_end"], r["n_events"], r["clicks"])
            for r in rows
            if r["user_id"] >= 0
        }

    got = keyset(spark.sql("SELECT * FROM sess_out").collect())
    expected = keyset(session_feature_stream(events, gap="30 minutes").collect())
    assert got == expected
    assert len(got) > 100


def test_materialize_snapshot_roundtrip(spark):
    """ST8 backfill: materialize() compacts the latest row per entity to
    parquet; reading it back equals latest_snapshot."""
    import os as _os
    import shutil

    from real_time_recommendation_system_with_feature_store_spark.features.store import FeatureStore, FeatureView
    from pyspark.sql import functions as F

    store = FeatureStore(spark)
    view = FeatureView(
        name="user_feat",
        entities=["user_id"],
        timestamp_field="fts",
        ttl_seconds=86400.0,
    )
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 10.0), (1, "2024-01-02 00:00:00", 20.0),
         (2, "2024-01-01 12:00:00", 7.0)],
        "user_id long, fts string, score double",
    ).withColumn("fts", F.to_timestamp("fts"))
    store.register(view, df)

    tmp = _os.path.join(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), ".tmp", "mat")
    shutil.rmtree(tmp, ignore_errors=True)
    store.materialize("user_feat", tmp)
    back = {(r["user_id"], r["score"]) for r in spark.read.parquet(tmp).collect()}
    assert back == {(1, 20.0), (2, 7.0)}


def test_streaming_dedup_matches_batch(spark):
    """Streaming exact dedup (dropDuplicatesWithinWatermark) must keep the
    first-seen doc per fingerprint — equal to batch exact_dedup's min-id
    winners when docs arrive in id order."""
    import os as _os
    import shutil

    from pyspark.sql import functions as F

    from real_time_recommendation_system_with_feature_store_spark.operators.dedup import exact_dedup
    from real_time_recommendation_system_with_feature_store_spark.session import load_tables
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import streaming_exact_dedup

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    docs = (
        load_tables(spark, sf_dir, register=False)["documents"]
        .select("doc_id", "text")
        # synthetic arrival time: doc_id order (deterministic event time)
        .withColumn("ts", F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")))
    )

    tmp = _os.path.join(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), ".tmp")
    stage = _os.path.join(tmp, "dedup_stage")
    shutil.rmtree(stage, ignore_errors=True)
    n = docs.count()
    for lo, hi in [(0, n // 2), (n // 2, n + 1)]:
        docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(1).write.mode(
            "append"
        ).parquet(stage)

    schema = spark.read.parquet(stage).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
    # watermark wider than the synthetic ts span (= n seconds): no dedup
    # state evicts mid-replay, so stream output provably equals batch dedup
    out = streaming_exact_dedup(stream, "text", "ts", watermark="2 hours")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300), "stream did not drain in 300s"
    finally:
        q.stop()

    got = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM dedup_out").collect()}
    expected = {r["doc_id"] for r in exact_dedup(docs, "text", "doc_id").collect()}
    assert got == expected
    assert 0 < len(got) <= n


def test_attribution_stream_matches_batch(spark, events_batch):
    """Stream-stream interval join parity: replaying both sides as file
    streams yields exactly the batch join's attributed pairs (inner interval
    joins emit on match; watermark only governs state cleanup)."""
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import attribution_stream

    stage = os.path.join(TMP, "attr_stage")
    shutil.rmtree(stage, ignore_errors=True)
    events_batch.repartition(3).write.mode("overwrite").parquet(stage)
    schema = spark.read.parquet(stage).schema

    views_s = replay_events_stream(spark, stage, schema).where(F.col("event_type") == "view")
    clicks_s = replay_events_stream(spark, stage, schema).where(F.col("event_type") == "click")
    out = attribution_stream(views_s, clicks_s, horizon="1 hour", watermark="365 days")
    q = out.writeStream.outputMode("append").format("memory").queryName("attr_out").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(map(str, spark.sql("SELECT * FROM attr_out").collect()))

    views_b = events_batch.where(F.col("event_type") == "view")
    clicks_b = events_batch.where(F.col("event_type") == "click")
    expected = sorted(map(str, attribution_stream(views_b, clicks_b, horizon="1 hour").collect()))
    assert len(got) > 0
    assert got == expected


def test_stream_static_enrichment(spark, events_batch):
    """Serving read path: a streaming event joined against the (static)
    latest-snapshot feature table — the stream-static join Structured
    Streaming re-plans per micro-batch. Enriched output must equal the batch
    join row-for-row."""
    stage = os.path.join(TMP, "enrich_stage")
    shutil.rmtree(stage, ignore_errors=True)
    events_batch.repartition(3).write.mode("overwrite").parquet(stage)
    schema = spark.read.parquet(stage).schema

    # static side: per-user historical click counts (an online-store snapshot)
    feats = (
        events_batch.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count("*").alias("hist_clicks"))
    )

    stream = replay_events_stream(spark, stage, schema).where(F.col("event_type") == "purchase")
    enriched = stream.select("event_id", "user_id").join(feats, "user_id", "left")
    q = enriched.writeStream.outputMode("append").format("memory").queryName("enrich_out").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(map(str, spark.sql("SELECT * FROM enrich_out").collect()))

    expected = sorted(
        map(
            str,
            events_batch.where(F.col("event_type") == "purchase")
            .select("event_id", "user_id")
            .join(feats, "user_id", "left")
            .collect(),
        )
    )
    assert len(got) > 0 and got == expected


@pytest.mark.heavy
def test_near_dup_dedup_stream_matches_batch(spark):
    """Streaming incremental near-dup: replaying the corpus as one-file
    micro-batches through the foreachBatch index sink yields EXACTLY the
    batch minhash dedup's pair set (the union-equals-full invariant,
    batch by batch)."""
    import os as _os
    import shutil

    from pyspark.sql import functions as F

    from real_time_recommendation_system_with_feature_store_spark.operators.dedup import minhash_lsh_dedup
    from real_time_recommendation_system_with_feature_store_spark.session import load_tables
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import near_dup_dedup_stream

    sf_dir = _os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    docs = load_tables(spark, sf_dir, register=False)["documents"].select("doc_id", "text")

    tmp = _os.path.join(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), ".tmp")
    stage = _os.path.join(tmp, "nd_stage")
    dirs = {k: _os.path.join(tmp, f"nd_{k}") for k in ("index", "docs", "pairs")}
    for p in [stage, *dirs.values()]:
        shutil.rmtree(p, ignore_errors=True)
    n = docs.count()
    for lo, hi in [(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n + 1)]:
        docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(1).write.mode(
            "append"
        ).parquet(stage)

    schema = spark.read.parquet(stage).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
    sink = near_dup_dedup_stream(
        dirs["index"], dirs["docs"], dirs["pairs"], verify_threshold=0.5
    )
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    try:
        assert q.awaitTermination(300), "stream did not drain in 300s"
    finally:
        q.stop()

    got = {tuple(r) for r in spark.read.parquet(dirs["pairs"]).drop("epoch").collect()}
    expected = {
        tuple(r)
        for r in minhash_lsh_dedup(docs, "text", "doc_id", verify_threshold=0.5).collect()
    }
    assert got == expected
    assert len(got) > 0

    # at-least-once replay: re-running the LAST epoch (as foreachBatch does
    # after a mid-epoch crash) must leave every sink unchanged
    last = spark.read.parquet(f"{stage}").where(F.col("doc_id") >= 2 * n // 3)
    sink(last, 2)  # epoch ids 0,1,2 were assigned in arrival order
    replayed = {tuple(r) for r in spark.read.parquet(dirs["pairs"]).drop("epoch").collect()}
    assert replayed == expected


def test_streaming_curation_gate_matches_batch(spark):
    """The curation surface is stream-ready: the SAME stateless expressions
    (quality gate + leakage-safe fold + precomputed mixture rates joined as
    a static dim) applied to a file stream produce exactly the batch rows —
    ingest-time curation needs no second batch pass."""
    import os as _os
    import shutil

    from pyspark.sql import functions as F

    from real_time_recommendation_system_with_feature_store_spark.functions.scalars import hash_unit
    from real_time_recommendation_system_with_feature_store_spark.operators.corpus import grouped_fraction_split, mixture_resample
    from real_time_recommendation_system_with_feature_store_spark.session import load_tables

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    docs = load_tables(spark, sf_dir, register=False)["documents"].select(
        "doc_id", "text", "lang", "n_chars"
    )

    def curate(df, rates):
        gated = df.where(F.col("n_chars") >= 50)
        folded = grouped_fraction_split(
            gated, F.md5(F.lower(F.trim(F.col("text")))), [("train", 0.9), ("test", 0.1)]
        )
        u = hash_unit(F.lit("mix"), F.col("doc_id"))
        return (
            folded.join(F.broadcast(rates), "lang")
            .where(u < F.col("__rate"))
            .select("doc_id", "lang", "fold")
        )

    # rates computed ONCE in batch (a corpus-level stat), then joined into
    # the stream as a static dim — the streamable form of mixture_resample
    targets = {"en": 0.5, "de": 0.25, "es": 0.125, "fr": 0.125}
    kept = mixture_resample(docs.select("doc_id", "lang"), "lang", targets, ["doc_id"])
    counts = docs.groupBy("lang").agg(F.count("*").alias("__n"))
    tgt = spark.createDataFrame(sorted(targets.items()), "lang string, __share double")
    cap = counts.join(tgt, "lang").agg(F.min(F.col("__n") / F.col("__share")).alias("__cap"))
    rates = (
        counts.join(tgt, "lang")
        .join(F.broadcast(cap))
        .select("lang", F.least(F.lit(1.0), F.col("__share") * F.col("__cap") / F.col("__n")).alias("__rate"))
    )
    batch_out = {(r["doc_id"], r["lang"], r["fold"]) for r in curate(docs, rates).collect()}
    assert {r["doc_id"] for r in kept.select("doc_id").collect()} >= {d for d, _, _ in batch_out}

    tmp = _os.path.join(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), ".tmp")
    stage = _os.path.join(tmp, "curation_stage")
    shutil.rmtree(stage, ignore_errors=True)
    n = docs.count()
    for lo, hi in [(0, n // 2), (n // 2, n + 1)]:
        docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(1).write.mode(
            "append"
        ).parquet(stage)
    schema = spark.read.parquet(stage).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
    rates_static = spark.createDataFrame(rates.collect())  # frozen dim
    q = (
        curate(stream, rates_static)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("curation_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_out = {
        (r["doc_id"], r["lang"], r["fold"])
        for r in spark.sql("SELECT * FROM curation_out").collect()
    }
    shutil.rmtree(stage, ignore_errors=True)
    assert stream_out == batch_out


def test_near_dup_stream_replay_survives_index_without_docs(spark):
    """Partial-commit window: a crash AFTER the index epoch write but BEFORE
    the docs epoch write leaves prior_index non-None and prior_docs None on
    replay. The replayed epoch must rebuild from the batch alone and commit
    all three sinks, not fail the stream permanently."""
    import shutil

    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import near_dup_dedup_stream

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox pattern number {i % 4} jumps again and again") for i in range(24)],
        "doc_id long, text string",
    )
    tmp = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")
    dirs = {k: os.path.join(tmp, f"ndcrash_{k}") for k in ("index", "docs", "pairs")}
    for p in dirs.values():
        shutil.rmtree(p, ignore_errors=True)
    sink = near_dup_dedup_stream(
        dirs["index"], dirs["docs"], dirs["pairs"], verify_threshold=0.3
    )
    batch0 = docs.where(F.col("doc_id") < 12)
    sink(batch0, 0)
    # simulate the crash window: index epoch committed, docs epoch not
    shutil.rmtree(dirs["docs"])
    sink(batch0, 0)  # replay of the same epoch must not raise
    assert spark.read.parquet(dirs["docs"]).drop("epoch").count() == 12
    pairs0 = {tuple(r) for r in spark.read.parquet(dirs["pairs"]).drop("epoch").collect()}
    # and the next epoch proceeds normally on the recovered state
    sink(docs.where(F.col("doc_id") >= 12), 1)
    pairs1 = {tuple(r) for r in spark.read.parquet(dirs["pairs"]).drop("epoch").collect()}
    assert pairs1 >= pairs0 and len(pairs1) > len(pairs0)


def test_kafka_source_fails_at_provider_lookup_not_options(spark):
    """No kafka jar ships in this container, so the strongest executable
    evidence for the S5 surface is failure MODE: kafka_source must reach
    Spark's data-source LOOKUP (which names the kafka provider and its
    deployment guide) — not an option-validation or attribute error earlier
    in our own code. With the documented jar
    (org.apache.spark:spark-sql-kafka-0-10_2.13) on the classpath the same
    call builds the streaming plan."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import kafka_source

    schema = T.StructType([T.StructField("user_id", T.LongType())])
    with _pytest.raises(Exception) as ei:
        kafka_source(spark, "broker-1:9092,broker-2:9092", "events,clicks", schema)
    msg = str(ei.value)
    assert "kafka" in msg.lower(), msg
    # lookup-stage failure: Spark's "failed to find the data source" /
    # deploy-guide wording, not a complaint about our options
    assert "find" in msg.lower() or "deploy" in msg.lower(), msg
    for bad in ("bootstrap", "subscribe", "startingoffsets"):
        assert bad not in msg.lower(), f"option-stage failure leaked: {msg}"


def test_e2e_stream_features_feed_point_in_time_training(spark, events_batch):
    """The feature-store promise, composed end to end: a STREAM materializes
    windowed features into the store via the foreachBatch upsert, then a
    training job reads them POINT-IN-TIME for label rows — and gets exactly
    the rows a batch-materialized store yields. Stream==batch parity holds
    through the store, not just at the aggregation."""
    from real_time_recommendation_system_with_feature_store_spark.features.store import FeatureStore, FeatureView
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import upsert_online_store

    stage = os.path.join(TMP, "e2e_feat_stage")
    shutil.rmtree(stage, ignore_errors=True)
    events_batch.repartition(3).write.mode("overwrite").parquet(stage)
    schema = spark.read.parquet(stage).schema

    def fresh_store():
        store = FeatureStore(spark=spark)
        store.register(
            FeatureView(
                name="rt_user_feats", entities=["user_id"],
                ttl_seconds=7 * 24 * 3600, timestamp_field="window_end",
            ),
            None,
        )
        return store

    # STREAM path: replay -> windowed features -> foreachBatch upsert
    stream_store = fresh_store()
    feats_stream = windowed_feature_stream(
        replay_events_stream(spark, stage, schema),
        key="user_id", window="1 hour", watermark="365 days",
    )
    q = (
        feats_stream.writeStream.outputMode("complete")
        .foreachBatch(upsert_online_store(stream_store, "rt_user_feats"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # BATCH path: same expression on the batch frame, registered directly
    batch_store = fresh_store()
    batch_store.push(
        "rt_user_feats", windowed_feature_stream(events_batch, key="user_id", window="1 hour")
    )

    # label rows: one per user at a mid-corpus timestamp + one far later
    labels = (
        events_batch.groupBy("user_id")
        .agg(F.max("ts").alias("ts"))
        .select("user_id", "ts")
        .union(
            events_batch.select("user_id", (F.col("ts") - F.expr("INTERVAL 12 HOURS")).alias("ts")).distinct()
        )
    )
    got = sorted(
        map(
            str,
            stream_store.get_historical_features(
                "rt_user_feats", labels, timestamp_col="ts"
            ).collect(),
        )
    )
    want = sorted(
        map(
            str,
            batch_store.get_historical_features(
                "rt_user_feats", labels, timestamp_col="ts"
            ).collect(),
        )
    )
    assert len(got) > 0 and got == want


def test_store_push_log_compacts_and_releases_blocks(spark):
    """A long-running stream pushes forever: every `compact_every` pushes
    the store must collapse the union chain into one checkpoint and free
    the superseded snapshots' storage blocks — values identical before and
    after compaction, and stored-block count bounded (not one per push)."""
    from datetime import datetime, timedelta

    from real_time_recommendation_system_with_feature_store_spark.features.store import FeatureStore, FeatureView

    store = FeatureStore(spark=spark)
    store.register(
        FeatureView(name="v", entities=["k"], ttl_seconds=None), None
    )
    t0 = datetime.fromisoformat("2024-01-01 00:00:00")
    for i in range(9):
        store.push(
            "v",
            spark.createDataFrame(
                [(i % 3, t0 + timedelta(hours=i), float(i))],
                ["k", "event_timestamp", "x"],
            ),
            compact_every=4,
        )
    # 9 pushes, compact_every=4 -> at most (9 mod 4)+1 = ~a handful of live
    # block sets for this view, never 9
    assert len(store._ckpt_ids["v"]) < 6
    got = sorted(map(tuple, store.table("v").collect()))
    assert len(got) == 9
    snap = {r["k"]: r["x"] for r in store.latest_snapshot("v").collect()}
    assert snap == {0: 6.0, 1: 7.0, 2: 8.0}


def test_store_compaction_grace_window_for_outstanding_handles(spark):
    """A DataFrame handle taken from table() BEFORE a compaction must stay
    collectible AFTER it: block release is deferred one compaction cycle
    (superseded snapshots retire first, free on the NEXT compaction), so
    readers that grabbed a handle under the old plan get a grace window
    instead of 'checkpoint block not found'."""
    from datetime import datetime, timedelta

    from real_time_recommendation_system_with_feature_store_spark.features.store import FeatureStore, FeatureView

    store = FeatureStore(spark=spark)
    store.register(FeatureView(name="v", entities=["k"], ttl_seconds=None), None)
    t0 = datetime.fromisoformat("2024-01-01 00:00:00")

    def push(i):
        store.push(
            "v",
            spark.createDataFrame(
                [(i, t0 + timedelta(hours=i), float(i))],
                ["k", "event_timestamp", "x"],
            ),
            compact_every=3,
        )

    push(0)
    push(1)
    handle = store.table("v")  # union over snapshots 0,1 — pre-compaction plan
    push(2)  # triggers compaction: snapshots 0-2 superseded -> retired
    assert sorted(r["x"] for r in handle.collect()) == [0.0, 1.0]
    assert sorted(r["x"] for r in store.table("v").collect()) == [0.0, 1.0, 2.0]


def test_stream_restart_resumes_from_checkpoint(spark, events_batch):
    """Durability: a checkpointed feature stream stopped and restarted must
    (a) NOT reprocess already-committed files (exactly one new micro-batch
    for the one new file) and (b) restore its aggregation state, so the
    post-restart snapshot equals the batch answer over ALL data."""
    from real_time_recommendation_system_with_feature_store_spark.features.store import FeatureStore, FeatureView
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import upsert_online_store

    stage = os.path.join(TMP, "restart_stage")
    ckpt = os.path.join(TMP, "restart_ckpt")
    for p in (stage, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    half_a = events_batch.where(F.col("user_id") % 2 == 0)
    half_b = events_batch.where(F.col("user_id") % 2 == 1)
    half_a.coalesce(1).write.mode("append").parquet(stage)
    schema = spark.read.parquet(stage).schema

    store = FeatureStore(spark=spark)
    store.register(
        FeatureView(name="rt", entities=["user_id"], ttl_seconds=None,
                    timestamp_field="window_end"),
        None,
    )

    def run_once():
        feats = windowed_feature_stream(
            replay_events_stream(spark, stage, schema),
            key="user_id", window="1 hour", watermark="365 days",
        )
        q = (
            feats.writeStream.outputMode("complete")
            .option("checkpointLocation", ckpt)
            .foreachBatch(upsert_online_store(store, "rt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    pushes_run1 = store._push_counts.get("rt", 0)
    assert pushes_run1 >= 1

    half_b.coalesce(1).write.mode("append").parquet(stage)
    run_once()
    pushes_run2 = store._push_counts["rt"] - pushes_run1
    # offset recovery: only the ONE new file becomes a micro-batch
    assert pushes_run2 == 1, (pushes_run1, pushes_run2)

    got = sorted(
        map(str, store.latest_snapshot("rt").orderBy("user_id").collect())
    )
    want_tbl = windowed_feature_stream(events_batch, key="user_id", window="1 hour")
    # complete-mode state restoration: the final aggregate covers BOTH files
    from pyspark.sql import Window as W

    latest = want_tbl.withColumn(
        "__rn",
        F.row_number().over(
            W.partitionBy("user_id").orderBy(F.col("window_end").desc())
        ),
    ).where(F.col("__rn") == 1).drop("__rn")
    want = sorted(map(str, latest.orderBy("user_id").collect()))
    assert len(got) > 0 and got == want


def test_span_dedup_stream_matches_batch(spark):
    """Streaming span rewrite: replaying the corpus in doc order as
    micro-batches through the foreachBatch index sink yields EXACTLY the
    one-shot corpus-scope dedup_spans rewrite, and replaying the last
    epoch (at-least-once) changes nothing."""
    import os as _os
    import shutil

    from pyspark.sql import functions as F

    from real_time_recommendation_system_with_feature_store_spark.operators.dedup import dedup_spans
    from real_time_recommendation_system_with_feature_store_spark.session import load_tables
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import span_dedup_stream

    sf_dir = _os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    docs = load_tables(spark, sf_dir, register=False)["documents"].select("doc_id", "text")

    tmp = _os.path.join(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), ".tmp")
    stage = _os.path.join(tmp, "sd_stage")
    index_dir = _os.path.join(tmp, "sd_index")
    out_dir = _os.path.join(tmp, "sd_out")
    for p in [stage, index_dir, out_dir]:
        shutil.rmtree(p, ignore_errors=True)
    n = docs.count()
    for lo, hi in [(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n + 1)]:
        docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(1).write.mode(
            "append"
        ).parquet(stage)

    schema = spark.read.parquet(stage).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
    sink = span_dedup_stream(index_dir, out_dir, span_words=8)
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    try:
        assert q.awaitTermination(300), "stream did not drain in 300s"
    finally:
        q.stop()

    got = {tuple(r) for r in spark.read.parquet(out_dir).drop("epoch").collect()}
    expected = {
        tuple(r) for r in dedup_spans(docs, "text", "doc_id", span_words=8).collect()
    }
    assert got == expected and len(got) == n
    assert any(r[2] < r[3] for r in got)  # some spans actually dropped

    # at-least-once replay of the LAST epoch leaves both sinks unchanged
    idx_before = {r["span_fp"] for r in spark.read.parquet(index_dir).drop("epoch").collect()}
    last = spark.read.parquet(stage).where(F.col("doc_id") >= 2 * n // 3)
    sink(last, 2)
    replayed = {tuple(r) for r in spark.read.parquet(out_dir).drop("epoch").collect()}
    idx_after = {r["span_fp"] for r in spark.read.parquet(index_dir).drop("epoch").collect()}
    assert replayed == expected and idx_after == idx_before


@pytest.mark.heavy
def test_semantic_dedup_stream_matches_offline(spark):
    """Streaming SemDeDup: first batch freezes the cell geometry; the union
    of per-epoch pair emissions equals the offline intra-cell pair set
    computed under those SAME centroids; replaying the last epoch changes
    nothing."""
    import os as _os
    import shutil

    from pyspark.sql import functions as F

    from real_time_recommendation_system_with_feature_store_spark.functions.vectors import dot, l2_normalize
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import _assign_cells
    from real_time_recommendation_system_with_feature_store_spark.session import load_tables
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import semantic_dedup_stream

    sf_dir = _os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    vecs = load_tables(spark, sf_dir, register=False)["embeddings"].select("vec_id", "embedding")

    tmp = _os.path.join(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), ".tmp")
    stage = _os.path.join(tmp, "sem_stage")
    dirs = {k: _os.path.join(tmp, f"sem_{k}") for k in ("centroids", "members", "pairs")}
    for p in [stage, *dirs.values()]:
        shutil.rmtree(p, ignore_errors=True)
    n = vecs.count()
    hi = int(vecs.agg(F.max("vec_id")).collect()[0][0])
    cuts = [(0, hi // 3), (hi // 3, 2 * hi // 3), (2 * hi // 3, hi + 1)]
    for lo, up in cuts:
        vecs.where((F.col("vec_id") >= lo) & (F.col("vec_id") < up)).coalesce(1).write.mode(
            "append"
        ).parquet(stage)

    schema = spark.read.parquet(stage).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
    sink = semantic_dedup_stream(
        dirs["centroids"], dirs["members"], dirs["pairs"], n_cells=8, threshold=0.3
    )
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    try:
        assert q.awaitTermination(300), "stream did not drain in 300s"
    finally:
        q.stop()

    got = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in spark.read.parquet(dirs["pairs"]).drop("epoch").collect()
    }
    # offline expectation under the SAME persisted centroids
    cents = spark.read.parquet(dirs["centroids"])
    it = vecs.select(F.col("vec_id").alias("__iid"), l2_normalize(F.col("embedding")).alias("__iv"))
    assigned = _assign_cells(it, cents)
    a = assigned.select("__cell", F.col("__iid").alias("id_a"), F.col("__iv").alias("__va"))
    b = assigned.select("__cell", F.col("__iid").alias("id_b"), F.col("__iv").alias("__vb"))
    expected = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in (
            a.join(b, "__cell")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", F.round(dot(F.col("__va"), F.col("__vb")), 6).alias("cosine"))
            .where(F.col("cosine") >= 0.3)
        ).collect()
    }
    assert got == expected and len(got) > 0
    # member table holds every vector exactly once
    assert spark.read.parquet(dirs["members"]).count() == n

    # at-least-once replay of the LAST epoch leaves the pair set unchanged
    last = spark.read.parquet(stage).where(F.col("vec_id") >= 2 * hi // 3)
    sink(last, 2)
    replayed = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in spark.read.parquet(dirs["pairs"]).drop("epoch").collect()
    }
    assert replayed == expected


def test_cms_sketch_stream_matches_batch(spark, events_batch):
    """Streaming count-min maintenance: replaying events as micro-batches
    through the foreachBatch cell sink and folding the epochs must equal
    the one-pass batch sketch cell-for-cell (cms_merge associativity,
    batch by batch), and the skew report off the streamed sketch matches
    the batch report. Re-running an epoch (foreachBatch at-least-once
    replay) leaves the fold unchanged — overwrite idempotency."""
    import shutil

    from real_time_recommendation_system_with_feature_store_spark.operators.profile import key_skew_from_cms, key_skew_report
    from real_time_recommendation_system_with_feature_store_spark.operators.sketches import cms_build
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import cms_sketch_stream, read_cms_sketch

    stage = os.path.join(TMP, "cms_stage")
    sketch_dir = os.path.join(TMP, "cms_sketch")
    for p in (stage, sketch_dir):
        shutil.rmtree(p, ignore_errors=True)
    events_batch.select("user_id").repartition(3).write.mode("overwrite").parquet(stage)

    schema = spark.read.parquet(stage).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
    sink = cms_sketch_stream(sketch_dir, "user_id", width=64)
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    try:
        assert q.awaitTermination(300), "stream did not drain in 300s"
    finally:
        q.stop()

    folded = read_cms_sketch(spark, sketch_dir)
    folded_cells = {(r["row"], r["bucket"]): r["cell_count"] for r in folded.collect()}
    batch_cells = {
        (r["row"], r["bucket"]): r["cell_count"]
        for r in cms_build(
            events_batch.select("user_id"), F.col("user_id"), width=64
        ).collect()
    }
    assert folded_cells == batch_cells

    # the skew report off the streamed sketch == the one-pass batch report
    candidates = events_batch.select("user_id").distinct()
    from_stream = [
        tuple(r)
        for r in key_skew_from_cms(folded, candidates, ["user_id"], top=10, width=64).collect()
    ]
    one_pass = [
        tuple(r)
        for r in key_skew_report(
            events_batch.select("user_id"), ["user_id"], top=10, method="cms", cms_width=64
        ).collect()
    ]
    assert from_stream == one_pass

    # at-least-once replay: re-running an epoch with the same batch must
    # overwrite, not accumulate — the fold is a function of the LAST write
    # per epoch
    some_rows = spark.read.parquet(stage).limit(50)
    sink(some_rows, 0)
    once = {
        (r["row"], r["bucket"]): r["cell_count"]
        for r in read_cms_sketch(spark, sketch_dir).collect()
    }
    sink(some_rows, 0)  # replayed epoch
    twice = {
        (r["row"], r["bucket"]): r["cell_count"]
        for r in read_cms_sketch(spark, sketch_dir).collect()
    }
    assert twice == once


def test_hll_sketch_stream_matches_batch(spark, events_batch):
    """Streaming HLL maintenance: replaying events as micro-batches through
    the foreachBatch register sink and max-folding the epochs must equal
    the one-pass batch registers bit-for-bit, and the estimate off the
    streamed registers equals the batch estimate. The max-fold is
    idempotent BEYOND overwrite semantics: appending the same data under a
    NEW epoch id cannot move a single register (max absorbs duplicates),
    so even a non-overwriting replay cannot inflate the cardinality."""
    import shutil

    from real_time_recommendation_system_with_feature_store_spark.operators.sketches import hll_build, hll_estimate
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import hll_sketch_stream, read_hll_sketch

    stage = os.path.join(TMP, "hll_stage")
    sketch_dir = os.path.join(TMP, "hll_sketch")
    for p in (stage, sketch_dir):
        shutil.rmtree(p, ignore_errors=True)
    events_batch.select("user_id").repartition(3).write.mode("overwrite").parquet(stage)

    schema = spark.read.parquet(stage).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
    sink = hll_sketch_stream(sketch_dir, "user_id")
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    try:
        assert q.awaitTermination(300), "stream did not drain in 300s"
    finally:
        q.stop()

    folded = read_hll_sketch(spark, sketch_dir)
    folded_regs = {(r["bucket"], r["max_rho"]) for r in folded.collect()}
    batch_sk = hll_build(events_batch.select("user_id"), F.col("user_id"))
    batch_regs = {(r["bucket"], r["max_rho"]) for r in batch_sk.collect()}
    assert folded_regs == batch_regs

    est_stream = hll_estimate(folded).collect()[0]["est_distinct"]
    est_batch = hll_estimate(batch_sk).collect()[0]["est_distinct"]
    assert est_stream == est_batch

    # duplicate data under a NEW epoch id: registers must not move
    dup = spark.read.parquet(stage)
    sink(dup, 999)
    refolded = {(r["bucket"], r["max_rho"]) for r in read_hll_sketch(spark, sketch_dir).collect()}
    assert refolded == folded_regs


def test_qsketch_stream_matches_batch(spark):
    """Streaming quantile-sketch maintenance: micro-batched cells, re-sum
    folded, must equal the one-pass batch sketch cell-for-cell, and the
    quantile estimates off the fold equal the batch estimates. Replaying
    an epoch overwrites (fold unchanged)."""
    import shutil

    from real_time_recommendation_system_with_feature_store_spark.operators.sketches import qsketch_build, qsketch_quantiles
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import qsketch_stream, read_qsketch

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select("l_extendedprice")

    stage = os.path.join(TMP, "qs_stage")
    sketch_dir = os.path.join(TMP, "qs_sketch")
    for p in (stage, sketch_dir):
        shutil.rmtree(p, ignore_errors=True)
    li.repartition(3).write.mode("overwrite").parquet(stage)

    schema = spark.read.parquet(stage).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
    sink = qsketch_stream(sketch_dir, "l_extendedprice")
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    try:
        assert q.awaitTermination(300), "stream did not drain in 300s"
    finally:
        q.stop()

    folded = read_qsketch(spark, sketch_dir)
    folded_cells = sorted(tuple(r) for r in folded.collect())
    batch_sk = qsketch_build(li, F.col("l_extendedprice"))
    assert folded_cells == sorted(tuple(r) for r in batch_sk.collect())

    qs = [0.5, 0.9]
    est_stream = {r["q"]: r["est_value"] for r in qsketch_quantiles(folded, qs).collect()}
    est_batch = {r["q"]: r["est_value"] for r in qsketch_quantiles(batch_sk, qs).collect()}
    assert est_stream == est_batch

    # replayed epoch overwrites its own partition; the fold is unchanged
    some = spark.read.parquet(stage).limit(40)
    sink(some, 0)
    once = sorted(tuple(r) for r in read_qsketch(spark, sketch_dir).collect())
    sink(some, 0)
    assert sorted(tuple(r) for r in read_qsketch(spark, sketch_dir).collect()) == once


def test_funnel_state_stream_matches_batch(spark, events_batch):
    """Streaming funnel maintenance: replaying events as micro-batches
    through the foreachBatch compacted-state sink, folding the epochs, and
    running the SAME funnel_stage_times/funnel_summary over the fold must
    equal the one-pass batch funnel exactly — counts, ratios, and the
    per-pair stage times themselves. Cross-epoch duplicate events cannot
    move any stage time (mins) or entity count (distinct groups), so the
    fold is idempotent beyond overwrite semantics (the HLL property), also
    asserted by replaying data under a NEW epoch id."""
    from real_time_recommendation_system_with_feature_store_spark.operators.funnel import (
        funnel_stage_times,
        funnel_summary,
    )
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        funnel_state_stream,
        read_funnel_state,
    )

    steps = ["view", "click", "purchase"]
    ev = events_batch.withColumn(
        "item_id", F.get_json_object(F.col("props"), "$.k").cast("long")
    ).where(F.col("item_id").isNotNull()).select(
        "user_id", "item_id", "ts", "event_type"
    )

    stage = os.path.join(TMP, "funnel_stage")
    state_dir = os.path.join(TMP, "funnel_state")
    for p in (stage, state_dir):
        shutil.rmtree(p, ignore_errors=True)
    ev.repartition(3).write.mode("overwrite").parquet(stage)

    schema = spark.read.parquet(stage).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
    sink = funnel_state_stream(state_dir, ["user_id", "item_id"], steps)
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    try:
        assert q.awaitTermination(300), "stream did not drain in 300s"
    finally:
        q.stop()

    folded = read_funnel_state(spark, state_dir)
    staged_stream = funnel_stage_times(folded, steps, ["user_id", "item_id"])
    staged_batch = funnel_stage_times(ev, steps, ["user_id", "item_id"])
    rows_stream = {tuple(r) for r in staged_stream.collect()}
    rows_batch = {tuple(r) for r in staged_batch.collect()}
    assert rows_stream == rows_batch

    sum_stream = funnel_summary(staged_stream, steps).collect()[0]
    sum_batch = funnel_summary(staged_batch, steps).collect()[0]
    assert tuple(sum_stream) == tuple(sum_batch)
    assert sum_batch["n_pairs"] > sum_batch["n_view"] > 0  # non-degenerate

    # duplicate data under a NEW epoch id: stage times and counts immovable
    sink(spark.read.parquet(stage).limit(200), 999)
    refolded = read_funnel_state(spark, state_dir)
    rows_again = {
        tuple(r)
        for r in funnel_stage_times(refolded, steps, ["user_id", "item_id"]).collect()
    }
    assert rows_again == rows_batch

    # the per-epoch state is genuinely COMPACTED: a batch with repeated
    # stage-0/non-step events for one pair collapses them to per-(pair,
    # type) minima, while steps[1:] history survives in full
    burst = spark.createDataFrame(
        [(7, 7, f"2024-01-01 00:00:{s:02d}", t)
         for s, t in enumerate(["view"] * 5 + ["other"] * 4 + ["click"] * 3)],
        ["user_id", "item_id", "ts", "event_type"],
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    sink(burst, 998)
    epoch_rows = spark.read.parquet(os.path.join(state_dir, "epoch=998"))
    assert epoch_rows.count() == 1 + 1 + 3  # min(view) + min(other) + 3 clicks


def test_cohort_state_stream_matches_batch(spark, events_batch):
    """Streaming cohort-retention maintenance: replaying events as
    micro-batches through the distinct-pairs sink and running the SAME
    cohort_retention over the fold must equal the one-pass batch matrix
    cell-for-cell, and duplicate data under a NEW epoch id cannot move a
    cell (min/distinct idempotency — collect_set absorbs cross-epoch
    duplicates without any fold-side re-dedup)."""
    from real_time_recommendation_system_with_feature_store_spark.operators.cohort import cohort_retention
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        cohort_state_stream,
        read_cohort_state,
    )

    ev = events_batch.select(
        "user_id", F.expr("unix_micros(ts) div 86400000000").alias("d")
    )

    stage = os.path.join(TMP, "cohort_stage")
    state_dir = os.path.join(TMP, "cohort_state")
    for p in (stage, state_dir):
        shutil.rmtree(p, ignore_errors=True)
    ev.repartition(3).write.mode("overwrite").parquet(stage)

    schema = spark.read.parquet(stage).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
    sink = cohort_state_stream(state_dir, "user_id", "d")
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    try:
        assert q.awaitTermination(300), "stream did not drain in 300s"
    finally:
        q.stop()

    folded = read_cohort_state(spark, state_dir)
    mat_stream = {
        (r["cohort_day"], r["day_offset"]): (r["n_users"], r["retention"])
        for r in cohort_retention(folded, "user_id", "d").collect()
    }
    mat_batch = {
        (r["cohort_day"], r["day_offset"]): (r["n_users"], r["retention"])
        for r in cohort_retention(ev, "user_id", "d").collect()
    }
    assert mat_stream == mat_batch and len(mat_batch) > 5

    # the horizon-bounded variant folds identically
    capped_stream = {
        (r["cohort_day"], r["day_offset"]): r["n_users"]
        for r in cohort_retention(folded, "user_id", "d", max_offset=7).collect()
    }
    capped_batch = {
        (r["cohort_day"], r["day_offset"]): r["n_users"]
        for r in cohort_retention(ev, "user_id", "d", max_offset=7).collect()
    }
    assert capped_stream == capped_batch

    # duplicate data under a NEW epoch id: no cell moves
    sink(spark.read.parquet(stage).limit(300), 999)
    refold = read_cohort_state(spark, state_dir)
    again = {
        (r["cohort_day"], r["day_offset"]): (r["n_users"], r["retention"])
        for r in cohort_retention(refold, "user_id", "d").collect()
    }
    assert again == mat_batch

    # per-epoch state is the distinct-pair spine, strictly smaller than a
    # raw batch with intra-batch duplicates
    burst = ev.limit(1).unionByName(ev.limit(1)).unionByName(ev.limit(1))
    sink(burst, 998)
    assert spark.read.parquet(os.path.join(state_dir, "epoch=998")).count() == 1


@pytest.mark.heavy
def test_transition_state_stream_matches_batch(spark, events_batch):
    """Streaming Markov-transition maintenance: processing time-ordered
    micro-batches through the frontier-stitched pair-count sink and
    sum-folding the epochs must equal the batch LAG pair counts exactly —
    including the cross-batch stitch pairs (last event of batch k → first
    event of batch k+1), which a naive per-batch LAG would drop. Replaying
    any already-processed prefix under a NEW epoch id adds zero pairs (all
    its events sit at or before every entity's frontier), and replaying an
    epoch id overwrites its own partitions."""
    from pyspark.sql import Window
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        read_transition_state,
        transition_state_stream,
    )

    ea = events_batch.withColumn(
        "item_id", F.get_json_object(F.col("props"), "$.k").cast("long")
    ).where(F.col("item_id").isNotNull()).select("user_id", "ts", "event_id", "item_id")

    # time-slice into 3 ordered micro-batches (split on ts only, so equal-ts
    # events — ordered among themselves by event_id — stay in one batch)
    ts_sorted = [r["ts"] for r in ea.select("ts").distinct().orderBy("ts").collect()]
    t1, t2 = ts_sorted[len(ts_sorted) // 3], ts_sorted[2 * len(ts_sorted) // 3]
    slices = [
        ea.where(F.col("ts") < t1),
        ea.where((F.col("ts") >= t1) & (F.col("ts") < t2)),
        ea.where(F.col("ts") >= t2),
    ]

    state_dir = os.path.join(TMP, "transition_state")
    shutil.rmtree(state_dir, ignore_errors=True)
    sink = transition_state_stream(state_dir, "user_id", ["ts", "event_id"], "item_id")
    for i, sl in enumerate(slices):
        sink(sl, i)

    def fold():
        return {
            (r["prev_item"], r["next_item"]): r["n"]
            for r in read_transition_state(spark, state_dir).collect()
        }

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = {
        (r["prev_item"], r["next_item"]): r["n"]
        for r in ea.withColumn("__p", F.lag("item_id").over(w))
        .where(F.col("__p").isNotNull())
        .groupBy(F.col("__p").alias("prev_item"), F.col("item_id").alias("next_item"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got = fold()
    assert got == batch and len(batch) > 10
    # the stitch really fired: within-slice pairs alone undercount
    within = 0
    for sl in slices:
        within += (
            sl.withColumn("__p", F.lag("item_id").over(w))
            .where(F.col("__p").isNotNull())
            .count()
        )
    assert within < sum(batch.values())

    # replay of already-processed prefixes under NEW epoch ids: zero new pairs
    sink(slices[0], 990)
    sink(slices[1], 991)
    assert fold() == batch
    assert spark.read.parquet(f"{state_dir}/pairs/epoch=990").count() == 0

    # epoch replay overwrites its own partition: fold unchanged
    sink(slices[2], 2)
    assert fold() == batch


def test_transition_state_stream_null_order_and_meta(spark):
    """r9 ADVICE hardening: rows with NULL in any order col are dropped
    identically in EVERY epoch (previously epoch 0 kept them and they
    sorted nulls-first into pairs — a batch==stream parity break), and the
    per-epoch meta partition exposes late_dropped / null_dropped so the
    documented behind-frontier drop is observable instead of silent."""
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        read_transition_meta,
        read_transition_state,
        transition_state_stream,
    )

    sch = "user_id long, ts long, event_id long, item_id long"
    b0 = spark.createDataFrame(
        [
            (1, 10, 1, 100),
            (1, 20, 2, 101),
            (1, None, 3, 999),  # null order col in EPOCH 0 — must drop
            (2, 10, 4, 200),
        ],
        sch,
    )
    b1 = spark.createDataFrame(
        [
            (1, 30, 5, 102),
            (1, None, 6, 998),  # null order col with a frontier — must drop
            (2, 5, 7, 201),  # genuinely late: behind user 2's frontier (ts=10)
            (2, 20, 8, 202),
        ],
        sch,
    )
    state_dir = os.path.join(TMP, "transition_state_nulls")
    shutil.rmtree(state_dir, ignore_errors=True)
    sink = transition_state_stream(state_dir, "user_id", ["ts", "event_id"], "item_id")
    sink(b0, 0)
    sink(b1, 1)

    got = {
        (r["prev_item"], r["next_item"]): r["n"]
        for r in read_transition_state(spark, state_dir).collect()
    }
    # null-ordered items (999, 998) appear in NO pair, either epoch; the
    # late item 201 is dropped, so user 2 stitches 200 -> 202 directly
    assert got == {(100, 101): 1, (101, 102): 1, (200, 202): 1}

    meta = read_transition_meta(spark, state_dir).collect()[0]
    assert meta["null_dropped"] == 2
    assert meta["late_dropped"] == 1

    per_epoch = {
        r["epoch"]: (r["late_dropped"], r["null_dropped"])
        for r in spark.read.parquet(f"{state_dir}/meta").collect()
    }
    assert per_epoch == {0: (0, 1), 1: (1, 1)}


def test_dsir_resample_null_id_raises(spark):
    """r9 ADVICE: a NULL id collapses every NULL-id row onto md5(salt)'s
    single Gumbel draw — the operator now fails loudly in-plan instead of
    silently degrading its determinism contract."""
    import pytest

    from real_time_recommendation_system_with_feature_store_spark.operators.corpus import dsir_resample

    df = spark.createDataFrame(
        [(1, 0.5), (None, 0.7), (3, 0.9)], "doc_id long, score double"
    )
    out = dsir_resample(df, "doc_id", "score", k=2)
    with pytest.raises(Exception, match="NULL id_col"):
        out.collect()
    # non-null input still works and is deterministic
    ok = dsir_resample(df.where(F.col("doc_id").isNotNull()), "doc_id", "score", k=2)
    a = [tuple(r) for r in ok.orderBy("rank").collect()]
    b = [tuple(r) for r in ok.orderBy("rank").collect()]
    assert a == b and len(a) == 2


def test_bm25_index_stream_matches_batch(spark):
    """Streaming BM25 index maintenance (r9 verdict #5): ingesting the
    documents table as micro-batches through the postings/doclen sink and
    scoring the fixed catalog query from the folded index must equal the
    batch conditional-agg scorer (queries._bm25_scored) row-for-row —
    tf/df/dl/N are integers and the score expression order is identical,
    so the doubles match bit-for-bit. Re-delivering any already-indexed
    slice under a NEW epoch id moves nothing (max-fold idempotency), and
    replaying an epoch id overwrites its own partitions."""
    from real_time_recommendation_system_with_feature_store_spark.queries import _bm25_scored
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        bm25_index_stream,
        bm25_score_from_index,
    )

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    n = docs.count()
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    c1, c2 = ids[n // 3], ids[2 * n // 3]
    slices = [
        docs.where(F.col("doc_id") < c1),
        docs.where((F.col("doc_id") >= c1) & (F.col("doc_id") < c2)),
        docs.where(F.col("doc_id") >= c2),
    ]

    index_dir = os.path.join(TMP, "bm25_index")
    shutil.rmtree(index_dir, ignore_errors=True)
    sink = bm25_index_stream(index_dir, "doc_id", "text")
    for i, sl in enumerate(slices):
        sink(sl, i)

    terms = ["window", "join", "hash"]

    def stream_scores():
        return {
            r["doc_id"]: r["score"]
            for r in bm25_score_from_index(spark, index_dir, terms).collect()
        }

    batch = {r["doc_id"]: r["score"] for r in _bm25_scored(spark, sf_dir).collect()}
    got = stream_scores()
    assert got == batch and len(batch) > 50

    # at-least-once replay of an already-indexed slice under a NEW epoch:
    # max-fold absorbs it, no score moves
    sink(slices[1], 990)
    assert stream_scores() == batch

    # epoch replay overwrites its own partitions: fold unchanged
    sink(slices[2], 2)
    assert stream_scores() == batch

    # the index really is incremental state, not a rescan: postings are
    # term-sliced on read (only the query's lists leave the store)
    plan = bm25_score_from_index(
        spark, index_dir, terms
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


@pytest.mark.heavy
def test_bm25_score_long_query_one_plan(spark):
    """A 50-term query must (a) still match the batch scorer bit-for-bit
    and (b) compile to ONE tf-pivot join, not one join per term — the
    per-term loop the scorer used to build would blow up the analyzer on
    long queries (r10 VERDICT 'What's wrong' #2)."""
    from real_time_recommendation_system_with_feature_store_spark.queries import _bm25_scored
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        bm25_index_stream,
        bm25_score_from_index,
    )

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    index_dir = os.path.join(TMP, "bm25_long_query")
    shutil.rmtree(index_dir, ignore_errors=True)
    sink = bm25_index_stream(index_dir, "doc_id", "text")
    sink(docs, 0)

    # 40 real corpus terms (by document frequency, deterministic order)
    # + 10 absent ones: absent terms must contribute exactly +0.0
    from real_time_recommendation_system_with_feature_store_spark.functions.text import tokens as _tokens

    common = (
        docs.select(F.explode(F.transform(_tokens(F.col("text")), lambda t: F.lower(t))).alias("t"))
        .groupBy("t").count().orderBy(F.col("count").desc(), F.col("t")).limit(40)
    )
    real = [r["t"] for r in common.collect()]
    assert len(real) >= 20  # the sf0.001 vocabulary is small but not tiny
    terms = real + [f"zz_absent_{i}" for i in range(50 - len(real))]
    assert len(terms) == 50

    got = {
        r["doc_id"]: r["score"]
        for r in bm25_score_from_index(spark, index_dir, terms).collect()
    }
    batch = {
        r["doc_id"]: r["score"]
        for r in _bm25_scored(spark, sf_dir, terms=tuple(terms)).collect()
    }
    assert got == batch and len(batch) > 50

    plan = bm25_score_from_index(
        spark, index_dir, terms
    )._jdf.queryExecution().executedPlan().toString()
    # one tf-pivot broadcast join + one stats cross join — NOT 50 joins
    assert plan.count("BroadcastHashJoin") <= 1
    assert plan.count("SortMergeJoin") == 0


def test_bm25_index_stream_intra_batch_duplicates(spark):
    """Duplicate doc_id rows INSIDE one micro-batch (at-least-once
    delivery can replay within a batch, not just across epochs) must not
    double tf/dl: the sink dedups per id up front, so scores equal the
    clean-ingest ones (driver ADVICE r10)."""
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        bm25_index_stream,
        bm25_score_from_index,
    )

    docs = spark.createDataFrame(
        [(1, "join hash join"), (2, "window scan"), (3, "hash window join")],
        "doc_id long, text string",
    )
    clean_dir = os.path.join(TMP, "bm25_dup_clean")
    dup_dir = os.path.join(TMP, "bm25_dup_dirty")
    for d in (clean_dir, dup_dir):
        shutil.rmtree(d, ignore_errors=True)
    bm25_index_stream(clean_dir, "doc_id", "text")(docs, 0)
    bm25_index_stream(dup_dir, "doc_id", "text")(docs.unionAll(docs), 0)

    terms = ["join", "window"]
    clean = sorted(map(tuple, bm25_score_from_index(spark, clean_dir, terms).collect()))
    dirty = sorted(map(tuple, bm25_score_from_index(spark, dup_dir, terms).collect()))
    assert dirty == clean


@pytest.mark.heavy
def test_bm25_tombstones_edit_lifecycle(spark):
    """Document takedown/edit on the append-only BM25 index (r10 VERDICT
    #5): a tombstoned doc's postings stop scoring AND leave the corpus
    stats — scores equal an index that never saw the doc, bit-for-bit.
    Tombstones are replay-idempotent, they shadow a max-fold re-add of
    the same id, and bm25_purge_tombstones makes the delete physical and
    releases the id for a genuine edit."""
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        bm25_index_stream,
        bm25_purge_tombstones,
        bm25_score_from_index,
        bm25_tombstone_stream,
    )

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    victim = docs.select("doc_id").orderBy("doc_id").limit(1).collect()[0][0]
    terms = ["window", "join", "hash"]

    full_dir = os.path.join(TMP, "bm25_tomb_full")
    ref_dir = os.path.join(TMP, "bm25_tomb_ref")
    for d in (full_dir, ref_dir):
        shutil.rmtree(d, ignore_errors=True)
    bm25_index_stream(full_dir, "doc_id", "text")(docs, 0)
    bm25_index_stream(ref_dir, "doc_id", "text")(
        docs.where(F.col("doc_id") != victim), 0
    )

    def scores(d):
        return {
            r["doc_id"]: r["score"]
            for r in bm25_score_from_index(spark, d, terms).collect()
        }

    # tombstone the victim: scores == the never-indexed reference
    # (N/Σdl/df shift too — the doc leaves the corpus, not just the hits)
    tomb = bm25_tombstone_stream(full_dir, "doc_id")
    tomb(docs.where(F.col("doc_id") == victim), 1)
    ref = scores(ref_dir)
    assert victim not in ref and len(ref) > 50
    assert scores(full_dir) == ref

    # replay-idempotent: same tombstone under a NEW epoch id — no change
    tomb(docs.where(F.col("doc_id") == victim), 990)
    assert scores(full_dir) == ref

    # a max-fold re-add of the tombstoned id stays shadowed (the
    # documented contract: edits need a new id or a purge first)
    bm25_index_stream(full_dir, "doc_id", "text")(
        docs.where(F.col("doc_id") == victim), 2
    )
    assert scores(full_dir) == ref

    # purge: physical drop, deletes cleared, id reusable — re-indexing
    # the doc now restores the ORIGINAL full-corpus scores
    bm25_purge_tombstones(spark, full_dir)
    assert scores(full_dir) == ref
    assert not os.path.exists(f"{full_dir}/deletes")
    bm25_index_stream(full_dir, "doc_id", "text")(
        docs.where(F.col("doc_id") == victim), 3
    )
    clean_dir = os.path.join(TMP, "bm25_tomb_clean")
    shutil.rmtree(clean_dir, ignore_errors=True)
    bm25_index_stream(clean_dir, "doc_id", "text")(docs, 0)
    assert scores(full_dir) == scores(clean_dir)


@pytest.mark.heavy
def test_ivf_index_stream_matches_batch(spark):
    """Streaming IVF-ANN maintenance: a frozen coarse quantizer
    (ivf_build_centroids — the exact construction ivf_topk(kernel='expr')
    trains internally) plus micro-batch cell assignments, folded and
    probed, must return the SAME top-k rows as the one-shot batch
    ivf_topk over the full corpus. Re-delivering an already-indexed slice
    under a NEW epoch id moves nothing (assignment is a pure function of
    the frozen model), and replaying an epoch id overwrites its own
    partitions."""
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import (
        _assign_cells,
        ivf_build_centroids,
        ivf_topk,
    )
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        ivf_index_stream,
        ivf_search_from_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    ids = sorted(r["vec_id"] for r in emb.select("vec_id").collect())
    n = len(ids)
    c1, c2 = ids[n // 3], ids[2 * n // 3]
    slices = [
        emb.where(F.col("vec_id") < c1),
        emb.where((F.col("vec_id") >= c1) & (F.col("vec_id") < c2)),
        emb.where(F.col("vec_id") >= c2),
    ]

    cents = ivf_build_centroids(emb, "vec_id", "embedding", n_cells=8, refine_iters=1)
    index_dir = os.path.join(TMP, "ivf_index")
    shutil.rmtree(index_dir, ignore_errors=True)
    sink = ivf_index_stream(index_dir, "vec_id", "embedding", cents)
    for i, sl in enumerate(slices):
        sink(sl, i)

    queries = emb.where(F.col("vec_id") < 20)

    def search():
        return sorted(
            (r["vec_id"], r["rank"], r["vec_id_nn"], r["score"])
            for r in ivf_search_from_index(
                spark, index_dir, queries, "vec_id", "embedding",
                item_id="vec_id_nn", k=5, n_probe=3,
            ).withColumnRenamed("vec_id_nn", "vec_id_nn").collect()
        )

    batch = sorted(
        (r["vec_id"], r["rank"], r["vec_id_nn"], r["score"])
        for r in ivf_topk(
            queries.withColumnRenamed("vec_id", "qid"), emb, "qid", "vec_id",
            query_vec="embedding", item_vec="embedding",
            k=5, n_cells=8, n_probe=3, refine_iters=1, kernel="expr",
        ).select(
            F.col("qid").alias("vec_id"), "rank",
            F.col("vec_id").alias("vec_id_nn"), "score",
        ).collect()
    )
    got = search()
    assert got == batch and len(batch) == 20 * 5

    # the folded assignments equal the batch one-shot assignment
    folded = {
        (r["__iid"], r["__cell"])
        for r in spark.read.parquet(f"{index_dir}/cells").drop("epoch")
        .dropDuplicates(["__iid"]).select("__iid", "__cell").collect()
    }
    from real_time_recommendation_system_with_feature_store_spark.functions.vectors import l2_normalize
    it = emb.select(F.col("vec_id").alias("__iid"), l2_normalize(F.col("embedding")).alias("__iv"))
    one_shot = {(r["__iid"], r["__cell"]) for r in _assign_cells(it, cents).select("__iid", "__cell").collect()}
    assert folded == one_shot

    # at-least-once redelivery under a NEW epoch: no result moves
    sink(slices[0], 990)
    assert search() == batch
    # epoch replay overwrites its own partitions: unchanged
    sink(slices[1], 1)
    assert search() == batch


def test_streaming_index_read_side_guards(spark):
    """Degenerate-input contracts on the new index read/write APIs fail
    loudly instead of silently mis-scoring: empty/duplicate BM25 query
    terms, non-positive IVF search params, and null ids at ingest."""
    import pytest

    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        bm25_index_stream,
        bm25_score_from_index,
        ivf_search_from_index,
    )

    with pytest.raises(ValueError, match="empty query terms"):
        bm25_score_from_index(spark, "/nonexistent", [])
    with pytest.raises(ValueError, match="duplicate query terms"):
        bm25_score_from_index(spark, "/nonexistent", ["a", "a"])
    with pytest.raises(ValueError, match="must be positive"):
        ivf_search_from_index(spark, "/nonexistent", None, "q", k=0)

    # purging an index that has no tombstones fails loudly instead of
    # compacting for nothing and crashing on the missing deletes dir
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        bm25_purge_tombstones,
        purge_vector_tombstones,
    )

    with pytest.raises(ValueError, match="no tombstones"):
        bm25_purge_tombstones(spark, "/nonexistent")
    with pytest.raises(ValueError, match="no tombstones"):
        purge_vector_tombstones(spark, "/nonexistent")

    # null doc ids are rejected at ingest: the phantom-doc row never lands
    index_dir = os.path.join(TMP, "bm25_null_ids")
    shutil.rmtree(index_dir, ignore_errors=True)
    sink = bm25_index_stream(index_dir, "doc_id", "text")
    sink(
        spark.createDataFrame(
            [(1, "alpha beta"), (None, "ghost doc"), (2, None)],
            "doc_id long, text string",
        ),
        0,
    )
    dl = spark.read.parquet(f"{index_dir}/doclen").collect()
    assert {r["doc_id"] for r in dl} == {1}


@pytest.mark.heavy
def test_compact_epoch_state_preserves_folds(spark):
    """Compaction rewrites an epoch-partitioned state dir as one epoch
    holding the fold; every read-side fold must be unchanged afterwards,
    and FUTURE epochs must keep folding on top. Exercised on a sum-fold
    (CMS), the BM25 max-fold pair, and the Markov sink (whose frontier
    arithmetic depends on the kept epoch id being the max old id)."""
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        bm25_index_stream,
        bm25_score_from_index,
        cms_sketch_stream,
        compact_epoch_state,
        read_bm25_index,
        read_cms_sketch,
        read_transition_state,
        transition_state_stream,
    )

    # CMS sum-fold
    cms_dir = os.path.join(TMP, "cms_compact")
    shutil.rmtree(cms_dir, ignore_errors=True)
    csink = cms_sketch_stream(cms_dir, "k", depth=2, width=16)
    data = spark.createDataFrame([(i % 7,) for i in range(100)], "k long")
    csink(data.limit(60), 0)
    csink(data, 1)
    before = sorted(map(tuple, read_cms_sketch(spark, cms_dir).collect()))
    kept = compact_epoch_state(read_cms_sketch(spark, cms_dir), cms_dir)
    assert kept == 1
    assert sorted(map(tuple, read_cms_sketch(spark, cms_dir).collect())) == before
    csink(data.limit(10), 2)  # future epochs still fold on top
    after = read_cms_sketch(spark, cms_dir)
    assert after.agg(F.sum("cell_count")).collect()[0][0] == (60 + 100 + 10) * 2

    # BM25 max-folds (two subdirs) — scores identical post-compaction
    bdir = os.path.join(TMP, "bm25_compact")
    shutil.rmtree(bdir, ignore_errors=True)
    bsink = bm25_index_stream(bdir, "doc_id", "text")
    docs = spark.createDataFrame(
        [(1, "join hash join"), (2, "window scan"), (3, "hash window join")],
        "doc_id long, text string",
    )
    bsink(docs.where(F.col("doc_id") < 3), 0)
    bsink(docs.where(F.col("doc_id") >= 3), 1)
    terms = ["join", "window"]
    sb = sorted(map(tuple, bm25_score_from_index(spark, bdir, terms).collect()))
    post, dl = read_bm25_index(spark, bdir)
    compact_epoch_state(post, f"{bdir}/postings")
    compact_epoch_state(dl, f"{bdir}/doclen")
    assert sorted(map(tuple, bm25_score_from_index(spark, bdir, terms).collect())) == sb

    # Markov: compact pairs+last, then a FUTURE epoch must still stitch
    tdir = os.path.join(TMP, "transition_compact")
    shutil.rmtree(tdir, ignore_errors=True)
    tsink = transition_state_stream(tdir, "u", ["ts"], "item")
    tsink(spark.createDataFrame([(1, 10, 100), (1, 20, 101)], "u long, ts long, item long"), 0)
    tsink(spark.createDataFrame([(1, 30, 102)], "u long, ts long, item long"), 1)
    pairs_before = sorted(map(tuple, read_transition_state(spark, tdir).collect()))
    compact_epoch_state(read_transition_state(spark, tdir), f"{tdir}/pairs")
    last_fold = (
        spark.read.parquet(f"{tdir}/last").drop("epoch")
        .groupBy("u").agg(F.max(F.struct("ts", "item")).alias("__fr"))
        .select("u", F.col("__fr.ts").alias("ts"), F.col("__fr.item").alias("item"))
    )
    compact_epoch_state(last_fold, f"{tdir}/last")
    assert sorted(map(tuple, read_transition_state(spark, tdir).collect())) == pairs_before
    tsink(spark.createDataFrame([(1, 40, 103)], "u long, ts long, item long"), 2)
    got = {(r["prev_item"], r["next_item"]): r["n"] for r in read_transition_state(spark, tdir).collect()}
    assert got == {(100, 101): 1, (101, 102): 1, (102, 103): 1}


def test_compact_epoch_state_crash_recovery(spark):
    """Every compaction crash window recovers losslessly (and the
    dangerous one is no longer silent): a leftover ready-dir (crash
    after materialization, possibly mid-delete — the ONLY complete copy)
    is finished by recover_epoch_state; a leftover tmp (crash mid-write)
    is discarded; and compact_epoch_state REFUSES to run over leftovers,
    because a fold built over a half-deleted directory would silently
    compact partial state."""
    import pytest

    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        cms_sketch_stream,
        compact_epoch_state,
        read_cms_sketch,
        recover_epoch_state,
    )

    state_dir = os.path.join(TMP, "cms_crash_recovery")
    shutil.rmtree(state_dir, ignore_errors=True)
    sink = cms_sketch_stream(state_dir, "k", depth=2, width=16)
    data = spark.createDataFrame([(i % 7,) for i in range(100)], "k long")
    sink(data.limit(60), 0)
    sink(data, 1)
    want = sorted(map(tuple, read_cms_sketch(spark, state_dir).collect()))

    # crash AFTER materialization + mid-delete: ready dir holds the full
    # fold, epoch=0 already gone. Simulate by hand: write the fold to
    # ready, delete one epoch.
    read_cms_sketch(spark, state_dir).write.mode("overwrite").parquet(
        f"{state_dir}/.compact.ready.epoch=1"
    )
    shutil.rmtree(f"{state_dir}/epoch=0")

    # compact over the half-deleted dir must refuse, not silently fold
    with pytest.raises(RuntimeError, match="recover_epoch_state"):
        compact_epoch_state(read_cms_sketch(spark, state_dir), state_dir)

    assert recover_epoch_state(state_dir) is True
    assert sorted(map(tuple, read_cms_sketch(spark, state_dir).collect())) == want
    assert os.path.isdir(f"{state_dir}/epoch=1")
    assert not os.path.isdir(f"{state_dir}/epoch=0")

    # crash DURING the tmp write: epochs intact, tmp partial — discard
    os.makedirs(f"{state_dir}/.compact.tmp", exist_ok=True)
    with pytest.raises(RuntimeError, match="recover_epoch_state"):
        compact_epoch_state(read_cms_sketch(spark, state_dir), state_dir)
    assert recover_epoch_state(state_dir) is True
    assert not os.path.exists(f"{state_dir}/.compact.tmp")
    assert sorted(map(tuple, read_cms_sketch(spark, state_dir).collect())) == want

    # clean directory: no-op, and a real compaction still works end-to-end
    assert recover_epoch_state(state_dir) is False
    kept = compact_epoch_state(read_cms_sketch(spark, state_dir), state_dir)
    assert kept == 1
    assert sorted(map(tuple, read_cms_sketch(spark, state_dir).collect())) == want


def test_recovery_refuses_to_destroy_post_crash_epochs(spark):
    """Violating the run-recovery-FIRST ordering (a sink restarted and
    wrote epoch=2 over a directory holding an interrupted compaction
    targeting epoch=1) must fail LOUDLY: finishing would silently delete
    the newer epoch (r11 ADVICE). The guard raises, deletes nothing, and
    recovery still works once the newer epoch is deliberately resolved."""
    import pytest

    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        cms_sketch_stream,
        read_cms_sketch,
        recover_epoch_state,
    )

    state_dir = os.path.join(TMP, "cms_recovery_newer_epoch")
    shutil.rmtree(state_dir, ignore_errors=True)
    sink = cms_sketch_stream(state_dir, "k", depth=2, width=16)
    data = spark.createDataFrame([(i % 7,) for i in range(100)], "k long")
    sink(data.limit(60), 0)
    sink(data, 1)
    # interrupted compaction targeting epoch=1 ...
    read_cms_sketch(spark, state_dir).write.mode("overwrite").parquet(
        f"{state_dir}/.compact.ready.epoch=1"
    )
    # ... then a restarted sink writes PAST the crash
    sink(data.limit(10), 2)

    with pytest.raises(RuntimeError, match="NEWER than the interrupted"):
        recover_epoch_state(state_dir)
    # nothing was destroyed: every epoch and the ready dir are intact
    for p in ("epoch=0", "epoch=1", "epoch=2", ".compact.ready.epoch=1"):
        assert os.path.isdir(f"{state_dir}/{p}"), p

    # deliberate resolution (move the newer epoch aside) unblocks recovery
    aside = os.path.join(TMP, "cms_newer_epoch_aside")
    shutil.rmtree(aside, ignore_errors=True)  # leftover from a prior run
    os.rename(f"{state_dir}/epoch=2", aside)
    assert recover_epoch_state(state_dir) is True
    assert os.path.isdir(f"{state_dir}/epoch=1")
    total = read_cms_sketch(spark, state_dir).agg(F.sum("cell_count")).collect()[0][0]
    assert total == (60 + 100) * 2


@pytest.mark.heavy
def test_compact_recovery_every_crash_prefix(spark):
    """Compaction deletes source epochs in sorted order, so the reachable
    post-materialization crash states are exactly the deletion PREFIXES
    (none deleted, epoch=0 gone, 0..1 gone, all gone). Recovery must
    restore the identical fold from every one of them."""
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        cms_sketch_stream,
        read_cms_sketch,
        recover_epoch_state,
    )

    data = spark.createDataFrame([(i % 5,) for i in range(90)], "k long")

    def build(d):
        shutil.rmtree(d, ignore_errors=True)
        sink = cms_sketch_stream(d, "k", depth=2, width=16)
        sink(data.limit(30), 0)
        sink(data.limit(70), 1)
        sink(data, 2)

    base = os.path.join(TMP, "cms_crash_prefix_ref")
    build(base)
    want = sorted(map(tuple, read_cms_sketch(spark, base).collect()))

    for n_deleted in range(4):
        d = os.path.join(TMP, f"cms_crash_prefix_{n_deleted}")
        build(d)
        # simulate: fold fully materialized to the ready dir (target = max
        # old id 2), then crash after deleting the first n_deleted epochs
        read_cms_sketch(spark, d).write.mode("overwrite").parquet(
            f"{d}/.compact.ready.epoch=2"
        )
        for e in range(n_deleted):
            shutil.rmtree(f"{d}/epoch={e}")
        assert recover_epoch_state(d) is True, n_deleted
        assert sorted(map(tuple, read_cms_sketch(spark, d).collect())) == want, n_deleted
        assert os.path.isdir(f"{d}/epoch=2") and not os.path.isdir(f"{d}/epoch=0")
        # and the recovered directory accepts future epochs + folds on
        cms_sketch_stream(d, "k", depth=2, width=16)(data.limit(10), 3)
        total = read_cms_sketch(spark, d).agg(F.sum("cell_count")).collect()[0][0]
        assert total == (30 + 70 + 90 + 10) * 2, n_deleted


def test_compact_epoch_state_ivf_cells(spark):
    """Compaction of the IVF sink's nested cells/epoch=N/__cell=C layout:
    partition_by re-establishes the cell partitioning in the compacted
    epoch, search results are unchanged, and future adds keep landing."""
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import ivf_build_centroids
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        compact_epoch_state,
        ivf_index_stream,
        ivf_search_from_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = ivf_build_centroids(emb, "vec_id", "embedding", n_cells=4, refine_iters=1)
    index_dir = os.path.join(TMP, "ivf_compact")
    shutil.rmtree(index_dir, ignore_errors=True)
    sink = ivf_index_stream(index_dir, "vec_id", "embedding", cents)
    half = emb.where(F.col("vec_id") % 2 == 0)
    rest = emb.where(F.col("vec_id") % 2 == 1).where(F.col("vec_id") < 100)
    sink(half, 0)
    sink(rest, 1)

    queries = emb.where(F.col("vec_id") < 10)

    def search():
        return sorted(
            map(
                tuple,
                ivf_search_from_index(
                    spark, index_dir, queries, "vec_id", "embedding",
                    item_id="nn", k=3, n_probe=2,
                ).collect(),
            )
        )

    before = search()
    folded = (
        spark.read.parquet(f"{index_dir}/cells")
        .drop("epoch")
        .dropDuplicates(["__iid"])
    )
    kept = compact_epoch_state(folded, f"{index_dir}/cells", partition_by=["__cell"])
    assert kept == 1
    assert search() == before
    # cell partitioning survived compaction (prunable layout)
    import glob as g
    assert g.glob(f"{index_dir}/cells/epoch=1/__cell=*")
    # future adds keep folding
    late = emb.where((F.col("vec_id") % 2 == 1) & (F.col("vec_id") >= 100))
    sink(late, 2)
    n_idx = (
        spark.read.parquet(f"{index_dir}/cells").dropDuplicates(["__iid"]).count()
    )
    assert n_idx == emb.count()


def test_decayed_count_stream_matches_batch(spark, events_batch):
    """Streaming decayed popularity: the per-epoch numeraire sums, folded
    and rescaled at read time, must equal the direct batch decayed count
    Σ 2^(-(T-ts)/hl) per item (same events, any slicing, any arrival
    order) to float tolerance — the sufficient statistic is ONE double
    per active key per epoch, for an unbounded stream."""
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        decayed_count_stream,
        read_decayed_counts,
    )

    ev = events_batch.withColumn(
        "item_id", F.get_json_object(F.col("props"), "$.k").cast("long")
    ).where(F.col("item_id").isNotNull()).select("item_id", "ts")

    anchor, at_ts, hl = "2024-01-01 00:00:00", "2024-01-31 00:00:00", "7 days"
    state_dir = os.path.join(TMP, "decayed_counts")
    shutil.rmtree(state_dir, ignore_errors=True)
    sink = decayed_count_stream(state_dir, "item_id", "ts", half_life=hl, anchor=anchor)
    # arbitrary (non-time-ordered!) slicing: the fold is order-independent
    sink(ev.where(F.col("item_id") % 3 == 0), 0)
    sink(ev.where(F.col("item_id") % 3 == 1), 1)
    sink(ev.where(F.col("item_id") % 3 == 2), 2)

    got = {
        r["key"]: r["decayed_count"]
        for r in read_decayed_counts(spark, state_dir, at_ts, half_life=hl, anchor=anchor).collect()
    }
    exp_expr = F.pow(
        F.lit(2.0),
        -(
            F.lit(at_ts).cast("timestamp").cast("double")
            - F.col("ts").cast("timestamp").cast("double")
        )
        / F.lit(7.0 * 86400.0),
    )
    exp = {
        r["item_id"]: r["d"]
        for r in ev.groupBy("item_id").agg(F.sum(exp_expr).alias("d")).collect()
    }
    assert set(got) == set(exp) and len(exp) > 20
    for k in exp:
        assert abs(got[k] - exp[k]) <= 1e-9 * max(1.0, abs(exp[k])), (k, got[k], exp[k])

    # epoch replay overwrites its own partition: unchanged
    sink(ev.where(F.col("item_id") % 3 == 1), 1)
    again = {
        r["key"]: r["decayed_count"]
        for r in read_decayed_counts(spark, state_dir, at_ts, half_life=hl, anchor=anchor).collect()
    }
    for k in exp:
        assert abs(again[k] - exp[k]) <= 1e-9 * max(1.0, abs(exp[k]))

    # re-basing the anchor (rebase_decayed_counts — the documented
    # compaction rescale, now a real function): scores at at_ts unchanged
    # to ulp tolerance, and the state is left as ONE compacted epoch that
    # future epochs keep folding onto
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        rebase_decayed_counts,
    )

    new_anchor = "2024-01-15 00:00:00"  # 2 whole half-lives: 2^-2 rescale
    kept = rebase_decayed_counts(spark, state_dir, anchor, new_anchor, half_life=hl)
    assert kept == 2  # max old epoch id
    rebased = {
        r["key"]: r["decayed_count"]
        for r in read_decayed_counts(spark, state_dir, at_ts, half_life=hl, anchor=new_anchor).collect()
    }
    assert set(rebased) == set(again)
    for k in again:
        assert abs(rebased[k] - again[k]) <= 1e-12 * max(1.0, abs(again[k])), (
            k, rebased[k], again[k],
        )

    # a future epoch folds onto the rebased state (under the NEW anchor)
    late = ev.where(F.col("item_id") % 5 == 0)
    sink2 = decayed_count_stream(state_dir, "item_id", "ts", half_life=hl, anchor=new_anchor)
    sink2(late, 3)
    exp2 = {
        r["item_id"]: r["d"]
        for r in late.groupBy("item_id").agg(F.sum(exp_expr).alias("d")).collect()
    }
    both = {
        r["key"]: r["decayed_count"]
        for r in read_decayed_counts(spark, state_dir, at_ts, half_life=hl, anchor=new_anchor).collect()
    }
    for k in again:
        want = again[k] + exp2.get(k, 0.0)
        assert abs(both[k] - want) <= 1e-9 * max(1.0, abs(want)), (k, both[k], want)


def test_agg_delta_stream_matches_recompute(spark):
    """Streaming rollup maintenance: folding the per-epoch IVM deltas onto
    the base view equals a from-scratch recompute over base+changes —
    with an update's D/I halves deliberately split across epochs."""
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import apply_agg_delta
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        agg_delta_stream,
        read_agg_delta_state,
    )

    base = spark.createDataFrame(
        [("a", 10.0), ("a", 20.0), ("b", 5.0)], "g string, m double"
    )
    view = base.groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum(F.col("m").cast("decimal(28,10)")).alias("total"),
    )
    state_dir = os.path.join(TMP, "agg_delta_state")
    shutil.rmtree(state_dir, ignore_errors=True)
    sink = agg_delta_stream(state_dir, ["g"], "m")
    # epoch 0: delete half of an update + an insert into c
    sink(spark.createDataFrame([("D", "a", 10.0), ("I", "c", 2.0)],
                               "op string, g string, m double"), 0)
    # epoch 1: the insert half of the update + b death
    sink(spark.createDataFrame([("I", "a", 12.5), ("D", "b", 5.0)],
                               "op string, g string, m double"), 1)

    folded = read_agg_delta_state(spark, state_dir, ["g"])
    out = apply_agg_delta(view, folded, ["g"])
    got = {r["g"]: (r["n"], float(r["total"])) for r in out.collect()}
    final = spark.createDataFrame(
        [("a", 12.5), ("a", 20.0), ("c", 2.0)], "g string, m double"
    )
    exp = {
        r["g"]: (r["n"], float(r["total"]))
        for r in final.groupBy("g").agg(
            F.count("*").alias("n"),
            F.sum(F.col("m").cast("decimal(28,10)")).alias("total"),
        ).collect()
    }
    assert got == exp and "b" not in got

    # epoch replay overwrites its own partition: unchanged
    sink(spark.createDataFrame([("I", "a", 12.5), ("D", "b", 5.0)],
                               "op string, g string, m double"), 1)
    again = apply_agg_delta(view, read_agg_delta_state(spark, state_dir, ["g"]), ["g"])
    assert {r["g"]: (r["n"], float(r["total"])) for r in again.collect()} == exp


def test_agg_delta_stream_multi_measure(spark):
    """extra_measure_cols — the stream twin of agg_delta's extra_measures
    (test_ivm_multi_measure_single_pass): several sums maintained in ONE
    delta pass per epoch, each equal to its own recompute after the
    epoch fold."""
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import apply_agg_delta
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        agg_delta_stream,
        read_agg_delta_state,
    )

    base = spark.createDataFrame(
        [("a", 10.0, 2.0), ("a", 20.0, 3.0), ("b", 5.0, 1.0)],
        "g string, rev double, qty double",
    )
    view = base.groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum(F.col("rev").cast("decimal(28,10)")).alias("total"),
        F.sum(F.col("qty").cast("decimal(28,10)")).alias("qty"),
    )
    state_dir = os.path.join(TMP, "agg_delta_multi")
    shutil.rmtree(state_dir, ignore_errors=True)
    sch = "op string, g string, rev double, qty double"
    sink = agg_delta_stream(state_dir, ["g"], "rev", extra_measure_cols=["qty"])
    # the D/I halves of the 'a' update split across epochs
    sink(spark.createDataFrame([("D", "a", 10.0, 2.0), ("I", "c", 7.0, 7.0)], sch), 0)
    sink(spark.createDataFrame([("I", "a", 12.0, 5.0)], sch), 1)

    folded = read_agg_delta_state(spark, state_dir, ["g"], extra_measure_cols=["qty"])
    out = apply_agg_delta(view, folded, ["g"], extra_sum_cols=["qty"])
    got = {
        r["g"]: (r["n"], float(r["total"]), float(r["qty"])) for r in out.collect()
    }
    assert got == {
        "a": (2, 32.0, 8.0),
        "b": (1, 5.0, 1.0),
        "c": (1, 7.0, 7.0),
    }


def test_transition_state_stream_track_meta_off(spark):
    """track_meta=False skips the per-epoch counter jobs but the drop
    behavior (null order keys, behind-frontier lates) is identical."""
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        read_transition_state,
        transition_state_stream,
    )

    sch = "u long, ts long, item long"
    state_dir = os.path.join(TMP, "transition_no_meta")
    shutil.rmtree(state_dir, ignore_errors=True)
    sink = transition_state_stream(state_dir, "u", ["ts"], "item", track_meta=False)
    sink(spark.createDataFrame([(1, 10, 100), (1, None, 999), (1, 20, 101)], sch), 0)
    sink(spark.createDataFrame([(1, 5, 998), (1, 30, 102)], sch), 1)
    got = {
        (r["prev_item"], r["next_item"]): r["n"]
        for r in read_transition_state(spark, state_dir).collect()
    }
    assert got == {(100, 101): 1, (101, 102): 1}
    assert not os.path.exists(f"{state_dir}/meta")


def test_lsh_index_stream_matches_batch(spark):
    """Streaming LSH maintenance: the hash family has no trained model,
    so a stream-built index is IDENTICAL to the one-shot batch bucketing
    — lsh_search_from_index must equal lsh_topk(kernel='arrow') with the
    same params, bit-for-bit, plus the usual redelivery / epoch-replay
    invariance."""
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import lsh_topk
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        lsh_index_stream,
        lsh_search_from_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dim = len(emb.select("embedding").first()[0])
    index_dir = os.path.join(TMP, "lsh_index")
    shutil.rmtree(index_dir, ignore_errors=True)
    sink = lsh_index_stream(index_dir, "vec_id", "embedding", dim, n_planes=4, n_tables=4)
    slices = [
        emb.where(F.col("vec_id") % 3 == i) for i in range(3)
    ]
    for i, sl in enumerate(slices):
        sink(sl, i)

    queries = emb.where(F.col("vec_id") < 15)

    def search():
        return sorted(
            map(tuple, lsh_search_from_index(
                spark, index_dir, queries, "vec_id", "embedding", dim,
                item_id="nn", k=4, n_planes=4, n_tables=4,
            ).collect())
        )

    batch = sorted(
        map(tuple, lsh_topk(
            queries.withColumnRenamed("vec_id", "qid"), emb, "qid", "vec_id",
            dim, k=4, n_planes=4, n_tables=4, kernel="arrow",
        ).select(
            F.col("qid").alias("vec_id"),
            F.col("vec_id").alias("nn"), "score", "rank",
        ).collect())
    )
    got = search()
    assert got == batch and len(batch) > 30

    sink(slices[0], 990)       # redelivery under a new epoch: no-op
    assert search() == batch
    sink(slices[1], 1)         # epoch replay: overwrite, unchanged
    assert search() == batch


def test_pq_index_stream_matches_batch(spark):
    """Streaming PQ maintenance: frozen codebooks (pq_train_codebooks —
    the exact construction pq_topk trains internally) + micro-batch code
    encoding, folded and ADC-probed, must equal the one-shot batch
    pq_topk(rerank=0) row-for-row — including a codebook reload
    round-trip through the persisted parquet layout — plus redelivery /
    epoch-replay invariance."""
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import (
        pq_topk,
        pq_train_codebooks,
    )
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        pq_index_stream,
        pq_search_from_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dim = len(emb.select("embedding").first()[0])
    books = pq_train_codebooks(emb, "vec_id", "embedding", dim, n_sub=4, n_codes=8)
    index_dir = os.path.join(TMP, "pq_index")
    shutil.rmtree(index_dir, ignore_errors=True)
    sink = pq_index_stream(index_dir, "vec_id", "embedding", dim, books, n_sub=4)
    slices = [emb.where(F.col("vec_id") % 3 == i) for i in range(3)]
    for i, sl in enumerate(slices):
        sink(sl, i)

    queries = emb.where(F.col("vec_id") < 15)

    def search():
        return sorted(
            map(tuple, pq_search_from_index(
                spark, index_dir, queries, "vec_id", "embedding", dim,
                item_id="nn", k=4, n_sub=4, n_codes=8,
            ).collect())
        )

    batch = sorted(
        map(tuple, pq_topk(
            queries.withColumnRenamed("vec_id", "qid"), emb, "qid", "vec_id",
            dim, k=4, n_sub=4, n_codes=8, rerank=0,
        ).select(
            F.col("qid").alias("vec_id"),
            F.col("vec_id").alias("nn"), "score", "rank",
        ).collect())
    )
    got = search()
    assert got == batch and len(batch) == 15 * 4

    sink(slices[2], 990)   # redelivery under a new epoch: no-op
    assert search() == batch
    sink(slices[0], 0)     # epoch replay: overwrite, unchanged
    assert search() == batch


@pytest.mark.heavy
def test_vector_tombstones_all_ann_tiers(spark):
    """Vector takedown across the ANN index family: after tombstoning an
    id, every search tier returns EXACTLY what an index that never held
    the vector returns (same frozen model where one exists), the
    tombstone is replay-idempotent, it shadows a re-add of the same id,
    and purge_vector_tombstones makes the drop physical (auto-detecting
    each tier's layout) and releases the id."""
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import (
        ivf_build_centroids,
        pq_train_codebooks,
    )
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        ivf_index_stream,
        ivf_search_from_index,
        lsh_index_stream,
        lsh_search_from_index,
        pq_index_stream,
        pq_search_from_index,
        purge_vector_tombstones,
        vector_tombstone_stream,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dim = len(emb.select("embedding").first()[0])
    victim = 37
    rest = emb.where(F.col("vec_id") != victim)
    queries = emb.where(F.col("vec_id") < 10)
    cents = ivf_build_centroids(emb, "vec_id", "embedding", n_cells=8, refine_iters=1)
    books = pq_train_codebooks(emb, "vec_id", "embedding", dim, n_sub=4, n_codes=8)

    def build(tier, d, data):
        shutil.rmtree(d, ignore_errors=True)
        if tier == "ivf":
            sink = ivf_index_stream(d, "vec_id", "embedding", cents)
        elif tier == "pq":
            sink = pq_index_stream(d, "vec_id", "embedding", dim, books, n_sub=4)
        else:
            sink = lsh_index_stream(d, "vec_id", "embedding", dim)
        sink(data, 0)
        return sink

    def search(tier, d):
        if tier == "ivf":
            out = ivf_search_from_index(
                spark, d, queries, "vec_id", "embedding", item_id="nn", k=5, n_probe=3
            )
        elif tier == "pq":
            out = pq_search_from_index(
                spark, d, queries, "vec_id", "embedding", dim,
                item_id="nn", k=5, n_sub=4, n_codes=8,
            )
        else:
            out = lsh_search_from_index(
                spark, d, queries, "vec_id", "embedding", dim, item_id="nn", k=5
            )
        return sorted(map(tuple, out.collect()))

    for tier in ("ivf", "pq", "lsh"):
        full_dir = os.path.join(TMP, f"tomb_{tier}_full")
        ref_dir = os.path.join(TMP, f"tomb_{tier}_ref")
        sink = build(tier, full_dir, emb)
        build(tier, ref_dir, rest)
        ref = search(tier, ref_dir)
        assert ref and all(r[1] != victim for r in ref), tier  # (qid, nn, ...)

        tomb = vector_tombstone_stream(full_dir, "vec_id")
        tomb(emb.where(F.col("vec_id") == victim), 1)
        assert search(tier, full_dir) == ref, tier

        # replay-idempotent under a new epoch id
        tomb(emb.where(F.col("vec_id") == victim), 990)
        assert search(tier, full_dir) == ref, tier

        # a re-add of the tombstoned id stays shadowed
        sink(emb.where(F.col("vec_id") == victim), 2)
        assert search(tier, full_dir) == ref, tier

        # purge: physical, deletes cleared, id reusable — re-adding now
        # restores the full-corpus results
        purge_vector_tombstones(spark, full_dir)
        assert search(tier, full_dir) == ref, tier
        assert not os.path.exists(f"{full_dir}/.deletes"), tier
        sink(emb.where(F.col("vec_id") == victim), 3)
        clean_dir = os.path.join(TMP, f"tomb_{tier}_clean")
        build(tier, clean_dir, emb)
        assert search(tier, full_dir) == search(tier, clean_dir), tier


@pytest.mark.heavy
def test_semantic_tombstones_lifecycle(spark):
    """Takedown for the semantic-dedup sink (the last index family to get
    one): after tombstoning a member id, read_semantic_pairs returns
    EXACTLY the pair set of an index that never held the vector (same
    frozen geometry — the victim sits outside the training batch), the
    tombstone is replay-idempotent and shadows a re-add, and
    purge_semantic_tombstones makes the drop physical (members + pairs),
    clears .deletes, and releases the id so a fresh add restores the
    full-corpus pair set."""
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        purge_semantic_tombstones,
        read_semantic_pairs,
        semantic_dedup_stream,
        vector_tombstone_stream,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    hi = int(emb.agg(F.max("vec_id")).collect()[0][0])
    t = hi // 3
    cuts = [(0, t), (t, 2 * t), (2 * t, hi + 1)]

    def build(base, data):
        dirs = {k: os.path.join(base, k) for k in ("centroids", "members", "pairs")}
        shutil.rmtree(base, ignore_errors=True)
        sink = semantic_dedup_stream(
            dirs["centroids"], dirs["members"], dirs["pairs"], n_cells=8, threshold=0.3
        )
        for i, (lo, up) in enumerate(cuts):
            sink(data.where((F.col("vec_id") >= lo) & (F.col("vec_id") < up)), i)
        return sink, dirs

    def pairs_of(dirs):
        return sorted(
            map(tuple, read_semantic_pairs(spark, dirs["members"], dirs["pairs"]).collect())
        )

    full_sink, full = build(os.path.join(TMP, "semtomb_full"), emb)
    full_pairs = pairs_of(full)
    # a victim from the LAST batch (outside the geometry-training first
    # batch) that actually anchors pairs — otherwise the test is vacuous
    touched = sorted(
        {x for p in full_pairs for x in (p[0], p[1]) if x >= 2 * t}
    )
    assert touched, "no pair endpoint in the last batch — pick another SF"
    victim = touched[0]

    _, ref = build(
        os.path.join(TMP, "semtomb_ref"), emb.where(F.col("vec_id") != victim)
    )
    ref_pairs = pairs_of(ref)
    assert ref_pairs and ref_pairs != full_pairs
    assert all(victim not in (p[0], p[1]) for p in ref_pairs)

    victim_rows = emb.where(F.col("vec_id") == victim)
    tomb = vector_tombstone_stream(full["members"], "vec_id")
    tomb(victim_rows, 10)
    assert pairs_of(full) == ref_pairs

    # replay-idempotent under a new epoch id
    tomb(victim_rows, 990)
    assert pairs_of(full) == ref_pairs

    # a re-add of the tombstoned id stays shadowed at read time
    full_sink(victim_rows, 5)
    assert pairs_of(full) == ref_pairs

    # purge: physical (members + pairs live-folded), deletes cleared,
    # id released — a fresh add restores the full-corpus pair set
    purge_semantic_tombstones(spark, full["members"], full["pairs"])
    assert not os.path.exists(f"{full['members']}/.deletes")
    assert pairs_of(full) == ref_pairs
    members = spark.read.parquet(full["members"])
    assert members.where(F.col("__iid") == victim).count() == 0
    full_sink(victim_rows, 6)
    assert pairs_of(full) == full_pairs

    # no tombstones -> loud failure, same contract as the other purges
    with pytest.raises(ValueError, match="no tombstones"):
        purge_semantic_tombstones(spark, full["members"], full["pairs"])


def test_pq_codebooks_persist_at_sink_creation(spark):
    """The frozen model lands EAGERLY at sink construction (the IVF
    centroids contract, driver ADVICE r10): load_pq_codebooks works on an
    index whose stream has not processed a single batch yet, instead of
    dying on a raw missing-path parquet error."""
    import numpy as np

    from real_time_recommendation_system_with_feature_store_spark.operators.knn import pq_train_codebooks
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        load_pq_codebooks,
        pq_index_stream,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dim = len(emb.select("embedding").first()[0])
    books = pq_train_codebooks(emb, "vec_id", "embedding", dim, n_sub=4, n_codes=8)
    index_dir = os.path.join(TMP, "pq_eager_books")
    shutil.rmtree(index_dir, ignore_errors=True)
    pq_index_stream(index_dir, "vec_id", "embedding", dim, books, n_sub=4)
    # NO batch processed — the codebooks must already round-trip
    loaded = load_pq_codebooks(spark, index_dir)
    assert len(loaded) == len(books)
    for got, want in zip(loaded, books):
        assert np.array_equal(got, np.asarray(want, dtype=np.float64))


def test_bm25_index_stream_via_writestream(spark):
    """Drive the BM25 sink through a REAL Structured Streaming query
    (file source, maxFilesPerTrigger=1, availableNow, foreachBatch) —
    epoch ids and batch slicing come from the engine, not the test — and
    the folded index must still score bit-identically to the batch
    conditional-agg path."""
    from real_time_recommendation_system_with_feature_store_spark.queries import _bm25_scored
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        bm25_index_stream,
        bm25_score_from_index,
    )

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    stage = os.path.join(TMP, "bm25_ws_stage")
    index_dir = os.path.join(TMP, "bm25_ws_index")
    for p in (stage, index_dir):
        shutil.rmtree(p, ignore_errors=True)
    docs.repartition(4).write.mode("overwrite").parquet(stage)

    schema = spark.read.parquet(stage).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
    )
    sink = bm25_index_stream(index_dir, "doc_id", "text")
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    try:
        assert q.awaitTermination(300), "stream did not drain in 300s"
    finally:
        q.stop()

    terms = ["window", "join", "hash"]
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_score_from_index(spark, index_dir, terms).collect()
    }
    batch = {r["doc_id"]: r["score"] for r in _bm25_scored(spark, sf_dir).collect()}
    assert got == batch and len(batch) > 50


def test_compact_epoch_state_decayed_and_meta_layouts(spark):
    """Compaction round-trips the remaining epoch layouts: the decayed
    numeraire sums (scalar-rescale reads unchanged) and the Markov meta
    counters (totals unchanged)."""
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        compact_epoch_state,
        decayed_count_stream,
        read_decayed_counts,
        read_transition_meta,
        transition_state_stream,
    )

    ddir = os.path.join(TMP, "decayed_compact")
    shutil.rmtree(ddir, ignore_errors=True)
    dsink = decayed_count_stream(ddir, "k", "ts", half_life="1 days", anchor="2024-01-01 00:00:00")
    sch = "k long, ts timestamp"
    dsink(spark.sql("SELECT 1L AS k, TIMESTAMP '2024-01-02 00:00:00' AS ts"), 0)
    dsink(spark.sql("SELECT 1L AS k, TIMESTAMP '2024-01-03 00:00:00' AS ts"), 1)
    at = "2024-01-04 00:00:00"
    before = {r["key"]: r["decayed_count"] for r in read_decayed_counts(spark, ddir, at, half_life="1 days").collect()}
    folded = spark.read.parquet(ddir).drop("epoch").groupBy("key").agg(F.sum("w_sum").alias("w_sum"))
    compact_epoch_state(folded, ddir)
    after = {r["key"]: r["decayed_count"] for r in read_decayed_counts(spark, ddir, at, half_life="1 days").collect()}
    assert after == before and abs(before[1] - (0.25 + 0.5)) < 1e-12

    tdir = os.path.join(TMP, "meta_compact")
    shutil.rmtree(tdir, ignore_errors=True)
    tsink = transition_state_stream(tdir, "u", ["ts"], "item")
    tsink(spark.createDataFrame([(1, 10, 100), (1, None, 9)], "u long, ts long, item long"), 0)
    tsink(spark.createDataFrame([(1, 5, 8), (1, 20, 101)], "u long, ts long, item long"), 1)
    m_before = tuple(read_transition_meta(spark, tdir).collect()[0])
    meta_fold = spark.read.parquet(f"{tdir}/meta").drop("epoch").agg(
        F.sum("late_dropped").alias("late_dropped"),
        F.sum("null_dropped").alias("null_dropped"),
    )
    compact_epoch_state(meta_fold, f"{tdir}/meta")
    assert tuple(read_transition_meta(spark, tdir).collect()[0]) == m_before == (1, 1)


# ========================================================= index rebuild

def _build_tombstoned_ivf(spark, name, n_cells=4):
    """Shared fixture builder: 2-epoch IVF index over sf0.001 embeddings
    with vec_id % 5 == 0 tombstoned. Returns (index_dir, emb, live)."""
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import ivf_build_centroids
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        ivf_index_stream,
        vector_tombstone_stream,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = ivf_build_centroids(emb, "vec_id", "embedding", n_cells=n_cells, refine_iters=1)
    index_dir = os.path.join(TMP, name)
    shutil.rmtree(index_dir, ignore_errors=True)
    sink = ivf_index_stream(index_dir, "vec_id", "embedding", cents)
    sink(emb.where(F.col("vec_id") % 2 == 0), 0)
    sink(emb.where(F.col("vec_id") % 2 == 1), 1)
    vector_tombstone_stream(index_dir, "vec_id")(
        emb.where(F.col("vec_id") % 5 == 0).select("vec_id"), 0
    )
    live = emb.where(F.col("vec_id") % 5 != 0)
    return index_dir, emb, live


def _ivf_search_sorted(spark, index_dir, queries, k=3, n_probe=2):
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import ivf_search_from_index

    return sorted(
        map(
            tuple,
            ivf_search_from_index(
                spark, index_dir, queries, "vec_id", "embedding",
                item_id="nn", k=k, n_probe=n_probe,
            ).collect(),
        )
    )


@pytest.mark.heavy
def test_retrain_vector_index_equals_fresh_build(spark):
    """The rebuild contract, bit-exact: retraining the quantizer on the
    live (tombstone-applied) fold and re-assigning the stored vectors
    produces the SAME centroids and SAME search results as a from-scratch
    batch build + index over the live corpus (same frozen seeds — the
    assume_unit path keeps stored unit vectors un-re-normalized, so not
    even a last-ulp drift separates the two)."""
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import ivf_build_centroids
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        ivf_index_stream,
        retrain_vector_index,
    )

    index_dir, emb, live = _build_tombstoned_ivf(spark, "ivf_retrain_parity")
    kept = retrain_vector_index(spark, index_dir, n_cells=4, refine_iters=1)
    assert kept == 1
    assert not os.path.exists(f"{index_dir}/.deletes")  # ids released
    assert not glob.glob(f"{index_dir}/.retrain*")

    fresh_dir = os.path.join(TMP, "ivf_retrain_fresh")
    shutil.rmtree(fresh_dir, ignore_errors=True)
    fresh_cents = ivf_build_centroids(live, "vec_id", "embedding", n_cells=4, refine_iters=1)
    ivf_index_stream(fresh_dir, "vec_id", "embedding", fresh_cents)(live, 0)

    queries = emb.where(F.col("vec_id") < 10)
    got = _ivf_search_sorted(spark, index_dir, queries)
    want = _ivf_search_sorted(spark, fresh_dir, queries)
    assert got == want and got
    # tombstoned ids really are gone from the rebuilt physical state
    stored = spark.read.parquet(f"{index_dir}/cells")
    assert stored.where(F.col("__iid") % 5 == 0).count() == 0
    assert stored.count() == live.count()
    # the swapped quantizer is bit-identical to the fresh build's
    a = sorted(map(tuple, spark.read.parquet(f"{index_dir}/centroids").collect()))
    b = sorted(map(tuple, fresh_cents.collect()))
    assert a == b
    # future adds assign against the refreshed geometry and keep folding
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import ivf_index_stream as _s
    clone = queries.limit(1).select(
        F.lit(999999).cast("long").alias("vec_id"), "embedding"
    )
    _s(index_dir, "vec_id", "embedding",
       spark.read.parquet(f"{index_dir}/centroids"))(clone, 2)
    n = spark.read.parquet(f"{index_dir}/cells").dropDuplicates(["__iid"]).count()
    assert n == live.count() + 1


@pytest.mark.heavy
def test_retrain_crash_recovery_all_prefixes(spark):
    """Every reachable retrain crash window recovers to the identical
    rebuilt index: tmp-only (staging crashed — discard, old state
    intact), full ready dir, ready after the centroids swap, ready after
    centroids + partial old-epoch deletion. recover_vector_index is
    idempotent re-entry into _finish_retrain, so each prefix must land on
    the same physical state and search rows."""
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        recover_vector_index,
        retrain_vector_index,
    )

    # reference: a completed retrain
    ref_dir, emb, live = _build_tombstoned_ivf(spark, "ivf_retrain_ref")
    retrain_vector_index(spark, ref_dir, n_cells=4, refine_iters=1)
    queries = emb.where(F.col("vec_id") < 10)
    want = _ivf_search_sorted(spark, ref_dir, queries)

    # tmp-only crash: discard, old (tombstone-masked) state still serves
    d, _, _ = _build_tombstoned_ivf(spark, "ivf_retrain_crash_tmp")
    pre = _ivf_search_sorted(spark, d, queries)
    os.makedirs(f"{d}/.retrain.tmp/centroids", exist_ok=True)
    with pytest.raises(RuntimeError, match="recover_vector_index"):
        retrain_vector_index(spark, d, n_cells=4, refine_iters=1)
    assert recover_vector_index(d) is True
    assert _ivf_search_sorted(spark, d, queries) == pre
    # and a retrain now completes normally
    retrain_vector_index(spark, d, n_cells=4, refine_iters=1)
    assert _ivf_search_sorted(spark, d, queries) == want

    def staged(name):
        """Build + stage a retrain's ready dir WITHOUT finishing (the
        crash-right-after-ready-rename state), by copying the completed
        reference's new state into the ready layout."""
        d, _, _ = _build_tombstoned_ivf(spark, name)
        ready = f"{d}/.retrain.ready.epoch=1"
        shutil.copytree(f"{ref_dir}/centroids", f"{ready}/centroids")
        shutil.copytree(f"{ref_dir}/cells/epoch=1", f"{ready}/cells")
        return d, ready

    # full ready dir
    d, _ = staged("ivf_retrain_crash_ready")
    assert recover_vector_index(d) is True
    assert _ivf_search_sorted(spark, d, queries) == want
    assert not os.path.exists(f"{d}/.deletes")

    # crash after the centroids swap
    d, ready = staged("ivf_retrain_crash_cents")
    shutil.rmtree(f"{d}/centroids")
    os.rename(f"{ready}/centroids", f"{d}/centroids")
    assert recover_vector_index(d) is True
    assert _ivf_search_sorted(spark, d, queries) == want

    # crash after centroids + one old epoch deleted
    d, ready = staged("ivf_retrain_crash_partial")
    shutil.rmtree(f"{d}/centroids")
    os.rename(f"{ready}/centroids", f"{d}/centroids")
    shutil.rmtree(f"{d}/cells/epoch=0")
    assert recover_vector_index(d) is True
    assert _ivf_search_sorted(spark, d, queries) == want

    # clean dir: no-op
    assert recover_vector_index(d) is False


def test_retrain_recovery_refuses_newer_epochs(spark):
    """A sink restarted over a crashed retrain (writing cell epochs past
    the ready target, assigned under the OLD geometry) must fail loudly —
    finishing would silently drop those rows."""
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        ivf_index_stream,
        recover_vector_index,
    )

    d, emb, _ = _build_tombstoned_ivf(spark, "ivf_retrain_newer")
    ready = f"{d}/.retrain.ready.epoch=1"
    os.makedirs(f"{ready}/centroids", exist_ok=True)
    # restarted sink writes epoch=2 before recovery runs
    ivf_index_stream(d, "vec_id", "embedding",
                     spark.read.parquet(f"{d}/centroids"))(emb.limit(5), 2)
    with pytest.raises(RuntimeError, match="NEWER than the interrupted"):
        recover_vector_index(d)
    assert os.path.isdir(f"{d}/cells/epoch=2")  # nothing destroyed


def _build_tombstoned_pq(spark, name):
    """Shared fixture builder: 2-epoch PQ code index over sf0.001
    embeddings with vec_id % 5 == 0 tombstoned. Returns
    (index_dir, emb, live, dim)."""
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import pq_train_codebooks
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        pq_index_stream,
        vector_tombstone_stream,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dim = len(emb.select("embedding").first()[0])
    books = pq_train_codebooks(emb, "vec_id", "embedding", dim, n_sub=4, n_codes=8)
    index_dir = os.path.join(TMP, name)
    shutil.rmtree(index_dir, ignore_errors=True)
    sink = pq_index_stream(index_dir, "vec_id", "embedding", dim, books, n_sub=4)
    sink(emb.where(F.col("vec_id") % 2 == 0), 0)
    sink(emb.where(F.col("vec_id") % 2 == 1), 1)
    vector_tombstone_stream(index_dir, "vec_id")(
        emb.where(F.col("vec_id") % 5 == 0).select("vec_id"), 0
    )
    return index_dir, emb, emb.where(F.col("vec_id") % 5 != 0), dim


def _pq_search_sorted(spark, index_dir, queries, dim, k=3):
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import pq_search_from_index

    return sorted(
        map(
            tuple,
            pq_search_from_index(
                spark, index_dir, queries, "vec_id", "embedding", dim,
                item_id="nn", k=k, n_sub=4, n_codes=8,
            ).collect(),
        )
    )


def test_retrain_pq_index_equals_fresh_build(spark):
    """The PQ rebuild contract, bit-exact: retraining codebooks on the
    live corpus (the caller-supplied vector source restricted to live
    indexed ids) and re-encoding produces the SAME codebooks and SAME ADC
    search rows as a from-scratch sink build over the live corpus — the
    deterministic lowest-id training split makes the two identical."""
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import pq_train_codebooks
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        pq_index_stream,
        retrain_pq_index,
    )

    index_dir, emb, live, dim = _build_tombstoned_pq(spark, "pq_retrain_parity")
    kept = retrain_pq_index(
        spark, index_dir, emb, "vec_id", "embedding", dim, n_sub=4, n_codes=8
    )
    assert kept == 1
    assert not os.path.exists(f"{index_dir}/.deletes")
    assert not glob.glob(f"{index_dir}/.retrain*")

    fresh_dir = os.path.join(TMP, "pq_retrain_fresh")
    shutil.rmtree(fresh_dir, ignore_errors=True)
    fresh_books = pq_train_codebooks(
        live, "vec_id", "embedding", dim, n_sub=4, n_codes=8
    )
    pq_index_stream(fresh_dir, "vec_id", "embedding", dim, fresh_books, n_sub=4)(
        live, 0
    )
    queries = emb.where(F.col("vec_id") < 10)
    got = _pq_search_sorted(spark, index_dir, queries, dim)
    want = _pq_search_sorted(spark, fresh_dir, queries, dim)
    assert got == want and got
    stored = spark.read.parquet(f"{index_dir}/codes")
    assert stored.where(F.col("__iid") % 5 == 0).count() == 0
    assert stored.count() == live.count()
    a = sorted(map(lambda r: (r["m"], r["code"], tuple(r["codeword"])),
                   spark.read.parquet(f"{index_dir}/codebooks").collect()))
    b = sorted(map(lambda r: (r["m"], r["code"], tuple(r["codeword"])),
                   spark.read.parquet(f"{fresh_dir}/codebooks").collect()))
    assert a == b


def test_retrain_pq_missing_live_vector_fails_before_staging(spark):
    """A live indexed id absent from the supplied vector source must fail
    loudly BEFORE any state is staged — the code index stores no vectors,
    so finishing would silently shrink the index."""
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import retrain_pq_index

    index_dir, emb, _, dim = _build_tombstoned_pq(spark, "pq_retrain_missing")
    partial = emb.where(F.col("vec_id") % 7 != 0)  # drops live ids too
    with pytest.raises(ValueError, match="no row"):
        retrain_pq_index(
            spark, index_dir, partial, "vec_id", "embedding", dim,
            n_sub=4, n_codes=8,
        )
    assert not glob.glob(f"{index_dir}/.retrain*")  # nothing staged
    assert os.path.exists(f"{index_dir}/.deletes")  # old state untouched


@pytest.mark.heavy
def test_retrain_pq_crash_recovery_prefixes(spark):
    """The shared two-phase protocol under the PQ layout names: tmp-only
    crashes discard (old state intact), a full ready dir finishes to the
    reference state, and re-entry after the codebooks swap lands on the
    same physical state and search rows."""
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        recover_pq_index,
        retrain_pq_index,
    )

    ref_dir, emb, _, dim = _build_tombstoned_pq(spark, "pq_retrain_ref")
    retrain_pq_index(spark, ref_dir, emb, "vec_id", "embedding", dim,
                     n_sub=4, n_codes=8)
    queries = emb.where(F.col("vec_id") < 10)
    want = _pq_search_sorted(spark, ref_dir, queries, dim)

    # tmp-only crash
    d, _, _, _ = _build_tombstoned_pq(spark, "pq_retrain_crash_tmp")
    pre = _pq_search_sorted(spark, d, queries, dim)
    os.makedirs(f"{d}/.retrain.tmp/codebooks", exist_ok=True)
    with pytest.raises(RuntimeError, match="recover_pq_index"):
        retrain_pq_index(spark, d, emb, "vec_id", "embedding", dim,
                         n_sub=4, n_codes=8)
    assert recover_pq_index(d) is True
    assert _pq_search_sorted(spark, d, queries, dim) == pre
    retrain_pq_index(spark, d, emb, "vec_id", "embedding", dim,
                     n_sub=4, n_codes=8)
    assert _pq_search_sorted(spark, d, queries, dim) == want

    def staged(name):
        d, _, _, _ = _build_tombstoned_pq(spark, name)
        ready = f"{d}/.retrain.ready.epoch=1"
        shutil.copytree(f"{ref_dir}/codebooks", f"{ready}/codebooks")
        shutil.copytree(f"{ref_dir}/codes/epoch=1", f"{ready}/codes")
        return d, ready

    d, _ = staged("pq_retrain_crash_ready")
    assert recover_pq_index(d) is True
    assert _pq_search_sorted(spark, d, queries, dim) == want
    assert not os.path.exists(f"{d}/.deletes")

    d, ready = staged("pq_retrain_crash_books")
    shutil.rmtree(f"{d}/codebooks")
    os.rename(f"{ready}/codebooks", f"{d}/codebooks")
    shutil.rmtree(f"{d}/codes/epoch=0")
    assert recover_pq_index(d) is True
    assert _pq_search_sorted(spark, d, queries, dim) == want
    assert recover_pq_index(d) is False


def test_retrain_pq_recovery_refuses_newer_epochs(spark):
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        load_pq_codebooks,
        pq_index_stream,
        recover_pq_index,
    )

    d, emb, _, dim = _build_tombstoned_pq(spark, "pq_retrain_newer")
    ready = f"{d}/.retrain.ready.epoch=1"
    os.makedirs(f"{ready}/codebooks", exist_ok=True)
    books = load_pq_codebooks(spark, d)
    pq_index_stream(d, "vec_id", "embedding", dim, books, n_sub=4)(emb.limit(5), 2)
    with pytest.raises(RuntimeError, match="NEWER than the interrupted"):
        recover_pq_index(d)
    assert os.path.isdir(f"{d}/codes/epoch=2")


def _build_tombstoned_semantic(spark, base_name):
    """3-batch semantic index over sf0.001 embeddings with a
    pair-anchoring victim tombstoned. Returns (dirs, emb, live, victim)."""
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        read_semantic_pairs,
        semantic_dedup_stream,
        vector_tombstone_stream,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    hi = int(emb.agg(F.max("vec_id")).collect()[0][0])
    t = hi // 3
    base = os.path.join(TMP, base_name)
    dirs = {k: os.path.join(base, k) for k in ("centroids", "members", "pairs")}
    shutil.rmtree(base, ignore_errors=True)
    sink = semantic_dedup_stream(
        dirs["centroids"], dirs["members"], dirs["pairs"], n_cells=8, threshold=0.3
    )
    for i, (lo, up) in enumerate([(0, t), (t, 2 * t), (2 * t, hi + 1)]):
        sink(emb.where((F.col("vec_id") >= lo) & (F.col("vec_id") < up)), i)
    pairs = sorted(
        map(tuple, read_semantic_pairs(spark, dirs["members"], dirs["pairs"]).collect())
    )
    victim = sorted({x for p in pairs for x in (p[0], p[1])})[0]
    vector_tombstone_stream(dirs["members"], "vec_id")(
        emb.where(F.col("vec_id") == victim).select("vec_id"), 10
    )
    return dirs, emb, emb.where(F.col("vec_id") != victim), victim


def _sem_state(spark, dirs):
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import read_semantic_pairs

    cents = sorted(
        map(lambda r: (r["__cell"], tuple(r["__cv"])),
            spark.read.parquet(dirs["centroids"]).collect())
    )
    members = sorted(
        map(lambda r: (r["__cell"], r["__iid"], tuple(r["__iv"])),
            spark.read.parquet(dirs["members"]).drop("epoch").collect())
    )
    pairs = sorted(
        map(tuple, read_semantic_pairs(spark, dirs["members"], dirs["pairs"]).collect())
    )
    return cents, members, pairs


@pytest.mark.heavy
def test_retrain_semantic_index_equals_fresh_build(spark):
    """The SemDeDup rebuild contract, bit-exact: retraining the cell
    geometry on the live member fold and recomputing assignments + pairs
    equals a fresh ONE-batch sink build over the raw live corpus —
    centroids, members, and pair set all identical (stored members are
    the sink's own normalized output and feed the rebuild
    un-re-normalized, so not even a last-ulp drift separates the two)."""
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        retrain_semantic_index,
        semantic_dedup_stream,
    )

    dirs, emb, live, victim = _build_tombstoned_semantic(spark, "sem_retrain")
    old_cents = sorted(
        map(lambda r: (r["__cell"], tuple(r["__cv"])),
            spark.read.parquet(dirs["centroids"]).collect())
    )
    kept = retrain_semantic_index(
        spark, dirs["centroids"], dirs["members"], dirs["pairs"],
        n_cells=8, threshold=0.3,
    )
    assert kept == 2
    assert not os.path.exists(f"{dirs['members']}/.deletes")
    assert not glob.glob(f"{dirs['members']}/.retrain*")

    fresh_base = os.path.join(TMP, "sem_retrain_fresh")
    fresh = {k: os.path.join(fresh_base, k) for k in ("centroids", "members", "pairs")}
    shutil.rmtree(fresh_base, ignore_errors=True)
    fresh_sink = semantic_dedup_stream(
        fresh["centroids"], fresh["members"], fresh["pairs"], n_cells=8, threshold=0.3
    )
    fresh_sink(live, 0)
    got, want = _sem_state(spark, dirs), _sem_state(spark, fresh)
    assert got == want
    # drift actually moved the geometry (trained on batch 1 before, the
    # whole live corpus now), and the victim is physically gone
    assert got[0] != old_cents
    assert all(victim != m[1] for m in got[1])

    # the sink picks the refreshed geometry up on its next batch: re-add
    # the (released) victim and compare against the fresh index + the
    # same second batch
    victim_rows = emb.where(F.col("vec_id") == victim)
    semantic_dedup_stream(
        dirs["centroids"], dirs["members"], dirs["pairs"], n_cells=8, threshold=0.3
    )(victim_rows, 3)
    fresh_sink(victim_rows, 1)
    assert _sem_state(spark, dirs)[2] == _sem_state(spark, fresh)[2]


@pytest.mark.heavy
def test_retrain_semantic_crash_recovery_prefixes(spark):
    """Every reachable semantic-retrain crash window recovers to the same
    three-layout state: tmp-only discards (old state intact), a full
    ready dir finishes, re-entry after the centroids swap and after a
    partial member-epoch deletion both land on the reference state."""
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        recover_semantic_index,
        retrain_semantic_index,
    )

    ref, _, _, _ = _build_tombstoned_semantic(spark, "sem_retrain_ref")
    retrain_semantic_index(
        spark, ref["centroids"], ref["members"], ref["pairs"],
        n_cells=8, threshold=0.3,
    )
    want = _sem_state(spark, ref)

    d, _, _, _ = _build_tombstoned_semantic(spark, "sem_retrain_tmp")
    pre = _sem_state(spark, d)[2]
    os.makedirs(f"{d['members']}/.retrain.tmp/centroids", exist_ok=True)
    with pytest.raises(RuntimeError, match="recover_semantic_index"):
        retrain_semantic_index(
            spark, d["centroids"], d["members"], d["pairs"],
            n_cells=8, threshold=0.3,
        )
    assert recover_semantic_index(d["centroids"], d["members"], d["pairs"]) is True
    assert _sem_state(spark, d)[2] == pre
    retrain_semantic_index(
        spark, d["centroids"], d["members"], d["pairs"], n_cells=8, threshold=0.3
    )
    assert _sem_state(spark, d) == want

    def staged(name):
        d, _, _, _ = _build_tombstoned_semantic(spark, name)
        ready = f"{d['members']}/.retrain.ready.epoch=2"
        shutil.copytree(ref["centroids"], f"{ready}/centroids")
        shutil.copytree(f"{ref['members']}/epoch=2", f"{ready}/members")
        shutil.copytree(f"{ref['pairs']}/epoch=2", f"{ready}/pairs")
        return d, ready

    d, _ = staged("sem_retrain_ready")
    assert recover_semantic_index(d["centroids"], d["members"], d["pairs"]) is True
    assert _sem_state(spark, d) == want
    assert not os.path.exists(f"{d['members']}/.deletes")

    d, ready = staged("sem_retrain_partial")
    shutil.rmtree(d["centroids"])
    os.rename(f"{ready}/centroids", d["centroids"])
    shutil.rmtree(f"{d['members']}/epoch=0")
    assert recover_semantic_index(d["centroids"], d["members"], d["pairs"]) is True
    assert _sem_state(spark, d) == want
    assert recover_semantic_index(d["centroids"], d["members"], d["pairs"]) is False


def test_retrain_semantic_recovery_refuses_newer_epochs(spark):
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        recover_semantic_index,
        semantic_dedup_stream,
    )

    d, emb, _, _ = _build_tombstoned_semantic(spark, "sem_retrain_newer")
    ready = f"{d['members']}/.retrain.ready.epoch=2"
    os.makedirs(f"{ready}/centroids", exist_ok=True)
    semantic_dedup_stream(
        d["centroids"], d["members"], d["pairs"], n_cells=8, threshold=0.3
    )(emb.limit(5), 7)
    with pytest.raises(RuntimeError, match="NEWER than the interrupted"):
        recover_semantic_index(d["centroids"], d["members"], d["pairs"])
    assert os.path.isdir(f"{d['members']}/epoch=7")


def test_extrema_delta_stream_matches_recompute(spark):
    """Streaming MIN/MAX maintenance: folding the per-epoch extrema
    deltas (every column mergeable — min/min, max/max, sum) and applying
    via the dirty-group rule equals a from-scratch recompute over the
    post-change snapshot — with an update's D/I halves split across
    epochs AND an insert-then-delete of a would-be extremum across
    epochs (the interleave a per-epoch sequential apply would handle
    differently but the fold must also get right: the folded delete
    touches the folded insert-extremum, dirtying the group)."""
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import apply_extrema_delta
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        extrema_delta_stream,
        read_extrema_delta_state,
    )

    base = spark.createDataFrame(
        [("a", 1.0), ("a", 5.0), ("b", 2.0), ("c", 9.0), ("c", 3.0)],
        "g string, m double",
    )
    view = base.groupBy("g").agg(F.min("m").alias("mn"), F.max("m").alias("mx"))
    state_dir = os.path.join(TMP, "extrema_delta_state")
    shutil.rmtree(state_dir, ignore_errors=True)
    sink = extrema_delta_stream(state_dir, ["g"], "m")
    chg = "op string, g string, m double"
    # epoch 0: insert a transient max into a; delete half of c's update
    sink(spark.createDataFrame([("I", "a", 50.0), ("D", "c", 9.0)], chg), 0)
    # epoch 1: delete the transient max; insert the update's other half;
    # b dies
    sink(
        spark.createDataFrame(
            [("D", "a", 50.0), ("I", "c", 4.0), ("D", "b", 2.0)], chg
        ),
        1,
    )
    final = spark.createDataFrame(
        [("a", 1.0), ("a", 5.0), ("c", 3.0), ("c", 4.0)], "g string, m double"
    )
    folded = read_extrema_delta_state(spark, state_dir, ["g"])
    out = apply_extrema_delta(view, folded, final, ["g"], "m", collapsed=True)
    got = {r["g"]: (r["mn"], r["mx"]) for r in out.collect()}
    exp = {
        r["g"]: (r["mn"], r["mx"])
        for r in final.groupBy("g")
        .agg(F.min("m").alias("mn"), F.max("m").alias("mx"))
        .collect()
    }
    assert got == exp and "b" not in got

    # epoch replay overwrites its own partition: unchanged
    sink(
        spark.createDataFrame(
            [("D", "a", 50.0), ("I", "c", 4.0), ("D", "b", 2.0)], chg
        ),
        1,
    )
    again = apply_extrema_delta(
        view, read_extrema_delta_state(spark, state_dir, ["g"]),
        final, ["g"], "m", collapsed=True,
    )
    assert {r["g"]: (r["mn"], r["mx"]) for r in again.collect()} == exp

    # bad rows fold across epochs and still raise at apply time
    sink(spark.createDataFrame([("U", "a", 1.0)], chg), 2)
    with pytest.raises(Exception, match="unknown op|NULL measure"):
        apply_extrema_delta(
            view, read_extrema_delta_state(spark, state_dir, ["g"]),
            final, ["g"], "m", collapsed=True,
        ).collect()


def test_topk_delta_stream_matches_recompute(spark):
    """Streaming top-k IVM: composing the per-epoch slots sequentially
    and applying via the buffered-horizon rule equals a from-scratch
    top-k recompute — with an update's D/I halves split across epochs
    (net update re-adding with the LAST insert's value), a transient id
    added then removed across epochs (net nothing), and
    delete-insert-delete churn (net D carrying the FIRST delete's value
    — the one the view held, which the apply-side mismatch guard checks
    against)."""
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import (
        apply_topk_delta,
        build_topk_buffer,
        topk_from_buffer,
    )
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        read_topk_delta_state,
        topk_delta_stream,
    )

    rows = "g string, id long, m double"
    chg = "op string, g string, id long, m double"
    base = [("a", i, float(10 - i)) for i in range(6)] + [
        ("b", 100, 5.0), ("b", 101, 4.0)
    ]
    bdf = spark.createDataFrame(base, rows)
    view = build_topk_buffer(bdf, ["g"], "id", "m", 4)
    state_dir = os.path.join(TMP, "topk_delta_state")
    shutil.rmtree(state_dir, ignore_errors=True)
    sink = topk_delta_stream(state_dir, ["g"], "id", "m")
    # e0: delete half of id=1's update; insert transient id=50;
    #     delete b's 101 (will be re-added with a new value in e2);
    #     start D/I/D churn on id=2 (view value 8.0)
    sink(spark.createDataFrame(
        [("D", "a", 1, 9.0), ("I", "a", 50, 7.5), ("D", "b", 101, 4.0),
         ("D", "a", 2, 8.0)], chg), 0)
    # e1: the update's insert half; remove the transient; churn middle
    sink(spark.createDataFrame(
        [("I", "a", 1, 9.5), ("D", "a", 50, 7.5), ("I", "a", 2, 8.8)], chg), 1)
    # e2: re-add 101 (net update across e0+e2); plain delete of a-0;
    #     churn end — net D must carry the FIRST delete's 8.0 (the view's
    #     value), not 8.8, or the apply-side mismatch guard fires
    sink(spark.createDataFrame(
        [("I", "b", 101, 6.0), ("D", "a", 0, 10.0), ("D", "a", 2, 8.8)], chg), 2)

    final = [("a", 1, 9.5)] + [("a", i, float(10 - i)) for i in range(3, 6)] + [
        ("b", 100, 5.0), ("b", 101, 6.0)
    ]
    fdf = spark.createDataFrame(final, rows)
    net = read_topk_delta_state(spark, state_dir, ["g"], "id", "m")
    out = apply_topk_delta(view, net, fdf, ["g"], "id", "m", k=2, buffer_k=4)
    got = {(r["g"], r["rn"]): (r["id"], r["m"])
           for r in topk_from_buffer(out, ["g"], "id", "m", 2).collect()}
    exp = {(r["g"], r["rn"]): (r["id"], r["m"])
           for r in topk_from_buffer(
               build_topk_buffer(fdf, ["g"], "id", "m", 4), ["g"], "id", "m", 2
           ).collect()}
    assert got == exp
    # the transient id never reached the buffer
    assert out.where("id = 50").count() == 0

    # epoch replay overwrites its own partition: unchanged
    sink(spark.createDataFrame(
        [("I", "b", 101, 6.0), ("D", "a", 0, 10.0), ("D", "a", 2, 8.8)], chg), 2)
    again = apply_topk_delta(
        view, read_topk_delta_state(spark, state_dir, ["g"], "id", "m"),
        fdf, ["g"], "id", "m", k=2, buffer_k=4,
    )
    assert {(r["g"], r["rn"]): (r["id"], r["m"])
            for r in topk_from_buffer(again, ["g"], "id", "m", 2).collect()} == exp


def test_topk_delta_stream_bad_composition_raises(spark):
    """Unaccountable slot sequences compose to unknown-op rows that fail
    loudly at apply time: duplicate I within one epoch, count imbalance
    > 1 across epochs, and unknown-op rows folded through nbad."""
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import (
        apply_topk_delta,
        build_topk_buffer,
    )
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        read_topk_delta_state,
        topk_delta_stream,
    )

    rows = "g string, id long, m double"
    chg = "op string, g string, id long, m double"
    view = build_topk_buffer(
        spark.createDataFrame([("a", 0, 5.0), ("a", 1, 4.0)], rows),
        ["g"], "id", "m", 4,
    )
    after = spark.createDataFrame([("a", 0, 5.0), ("a", 1, 4.0)], rows)

    cases = [
        [([("I", "a", 9, 1.0), ("I", "a", 9, 2.0)], 0)],          # dup in-epoch
        [([("D", "a", 0, 5.0)], 0), ([("D", "a", 0, 5.0)], 1),
         ([("D", "a", 0, 5.0)], 2)],                              # imbalance 3
        [([("U", "a", 0, 5.0)], 0)],                              # unknown op
    ]
    for i, batches in enumerate(cases):
        state_dir = os.path.join(TMP, f"topk_delta_bad{i}")
        shutil.rmtree(state_dir, ignore_errors=True)
        sink = topk_delta_stream(state_dir, ["g"], "id", "m")
        for data, ep in batches:
            sink(spark.createDataFrame(data, chg), ep)
        net = read_topk_delta_state(spark, state_dir, ["g"], "id", "m")
        with pytest.raises(Exception, match="unknown op"):
            apply_topk_delta(
                view, net, after, ["g"], "id", "m", k=2, buffer_k=4
            ).collect()


@pytest.mark.heavy
def test_topk_delta_stream_all_pair_chains(spark):
    """Balanced chains made entirely of intra-epoch pairs resolve by
    value consistency (r12 review finding: self-cancelling churn across
    epochs was mis-composed into a mismatched update pair): linked pairs
    compose to an update chain, self-cancelling pairs net nothing, and a
    chain that is neither fails loudly."""
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import (
        apply_topk_delta,
        build_topk_buffer,
        topk_from_buffer,
    )
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        read_topk_delta_state,
        topk_delta_stream,
    )

    rows = "g string, id long, m double"
    chg = "op string, g string, id long, m double"
    base = [("a", 0, 5.0), ("a", 1, 4.0)]
    view = build_topk_buffer(spark.createDataFrame(base, rows), ["g"], "id", "m", 4)

    # self-cancelling churn on a NEW id (the review's exact case): each
    # epoch adds then removes id 9 -> net nothing
    d1 = os.path.join(TMP, "topk_pairs_selfeq")
    shutil.rmtree(d1, ignore_errors=True)
    sink = topk_delta_stream(d1, ["g"], "id", "m")
    sink(spark.createDataFrame([("I", "a", 9, 5.0), ("D", "a", 9, 5.0)], chg), 0)
    sink(spark.createDataFrame([("I", "a", 9, 7.0), ("D", "a", 9, 7.0)], chg), 1)
    net = read_topk_delta_state(spark, d1, ["g"], "id", "m")
    assert net.count() == 0
    after = spark.createDataFrame(base, rows)
    out = apply_topk_delta(view, net, after, ["g"], "id", "m", k=2, buffer_k=4)
    got = {(r["g"], r["rn"]): (r["id"], r["m"])
           for r in topk_from_buffer(out, ["g"], "id", "m", 2).collect()}
    assert got == {("a", 1): (0, 5.0), ("a", 2): (1, 4.0)}

    # linked update chain on an EXISTING id: e0 updates 0: 5.0->6.0,
    # e1 updates 6.0->8.0 -> net D(5.0)/I(8.0)
    d2 = os.path.join(TMP, "topk_pairs_linked")
    shutil.rmtree(d2, ignore_errors=True)
    sink = topk_delta_stream(d2, ["g"], "id", "m")
    sink(spark.createDataFrame([("D", "a", 0, 5.0), ("I", "a", 0, 6.0)], chg), 0)
    sink(spark.createDataFrame([("D", "a", 0, 6.0), ("I", "a", 0, 8.0)], chg), 1)
    net2 = read_topk_delta_state(spark, d2, ["g"], "id", "m")
    after2 = spark.createDataFrame([("a", 0, 8.0), ("a", 1, 4.0)], rows)
    out2 = apply_topk_delta(view, net2, after2, ["g"], "id", "m", k=2, buffer_k=4)
    got2 = {(r["g"], r["rn"]): (r["id"], r["m"])
            for r in topk_from_buffer(out2, ["g"], "id", "m", 2).collect()}
    assert got2 == {("a", 1): (0, 8.0), ("a", 2): (1, 4.0)}

    # neither linked nor self-cancelling: no consistent reading -> X
    d3 = os.path.join(TMP, "topk_pairs_bad")
    shutil.rmtree(d3, ignore_errors=True)
    sink = topk_delta_stream(d3, ["g"], "id", "m")
    sink(spark.createDataFrame([("D", "a", 0, 5.0), ("I", "a", 0, 6.0)], chg), 0)
    sink(spark.createDataFrame([("D", "a", 0, 9.9), ("I", "a", 0, 8.0)], chg), 1)
    net3 = read_topk_delta_state(spark, d3, ["g"], "id", "m")
    with pytest.raises(Exception, match="unknown op"):
        apply_topk_delta(
            view, net3, after2, ["g"], "id", "m", k=2, buffer_k=4
        ).collect()


def test_topk_delta_stream_reserved_name_collision_raises(spark):
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import topk_delta_stream

    with pytest.raises(ValueError, match="reserved"):
        topk_delta_stream("/tmp/x", ["ni"], "id", "m")
    with pytest.raises(ValueError, match="reserved"):
        topk_delta_stream("/tmp/x", ["g"], "dm", "m")


def test_topk_delta_stream_transient_value_validation(spark):
    """r12 ADVICE: a single-cycle transient (pure I epoch then pure D
    epoch) must delete the value it inserted — I(w) then D(x != w) has no
    consistent reading and composes to X (loud at apply), while the
    matching pair still nets nothing and an all-equal self-cancelling
    PAIR chain resolves through the self_eq branch (checked before
    linked) to nothing as well."""
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import (
        apply_topk_delta,
        build_topk_buffer,
    )
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        read_topk_delta_state,
        topk_delta_stream,
    )

    rows = "g string, id long, m double"
    chg = "op string, g string, id long, m double"
    base = [("a", 0, 5.0), ("a", 1, 4.0)]
    view = build_topk_buffer(spark.createDataFrame(base, rows), ["g"], "id", "m", 4)
    after = spark.createDataFrame(base, rows)

    # inconsistent transient: I(7.0)@e0 then D(9.0)@e1 -> X -> loud
    d1 = os.path.join(TMP, "topk_transient_bad")
    shutil.rmtree(d1, ignore_errors=True)
    sink = topk_delta_stream(d1, ["g"], "id", "m")
    sink(spark.createDataFrame([("I", "a", 9, 7.0)], chg), 0)
    sink(spark.createDataFrame([("D", "a", 9, 9.0)], chg), 1)
    net = read_topk_delta_state(spark, d1, ["g"], "id", "m")
    with pytest.raises(Exception, match="unknown op"):
        apply_topk_delta(view, net, after, ["g"], "id", "m", k=2, buffer_k=4).collect()

    # consistent transient still nets nothing
    d2 = os.path.join(TMP, "topk_transient_ok")
    shutil.rmtree(d2, ignore_errors=True)
    sink = topk_delta_stream(d2, ["g"], "id", "m")
    sink(spark.createDataFrame([("I", "a", 9, 7.0)], chg), 0)
    sink(spark.createDataFrame([("D", "a", 9, 7.0)], chg), 1)
    assert read_topk_delta_state(spark, d2, ["g"], "id", "m").count() == 0

    # all-equal pair chain on an EXISTING id: (D 5.0, I 5.0) twice is both
    # linked and self-cancelling; the self_eq reading wins -> net nothing
    d3 = os.path.join(TMP, "topk_pairs_alleq")
    shutil.rmtree(d3, ignore_errors=True)
    sink = topk_delta_stream(d3, ["g"], "id", "m")
    sink(spark.createDataFrame([("D", "a", 0, 5.0), ("I", "a", 0, 5.0)], chg), 0)
    sink(spark.createDataFrame([("D", "a", 0, 5.0), ("I", "a", 0, 5.0)], chg), 1)
    assert read_topk_delta_state(spark, d3, ["g"], "id", "m").count() == 0


def test_retrain_pq_index_conflicting_duplicate_vectors_raise(spark):
    """r12 ADVICE: duplicate ids carrying DIFFERENT vectors in the retrain
    source would make the rebuild nondeterministic — loud failure before
    any state is staged; identical duplicates stay acceptable."""
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import retrain_pq_index

    index_dir, emb, live, dim = _build_tombstoned_pq(spark, "pq_retrain_conflict")
    some_live_id = live.select("vec_id").first()[0]
    conflict = emb.unionByName(
        emb.where(F.col("vec_id") == some_live_id).withColumn(
            "embedding", F.transform(F.col("embedding"), lambda x: x + F.lit(1.0))
        )
    )
    with pytest.raises(ValueError, match="conflicting vectors"):
        retrain_pq_index(
            spark, index_dir, conflict, "vec_id", "embedding", dim,
            n_sub=4, n_codes=8,
        )
    assert not glob.glob(f"{index_dir}/.retrain*")  # nothing staged
    # identical duplicate rows do not trip the guard; the rebuilt codes
    # land under one compacted epoch covering exactly the live ids
    same = emb.unionByName(emb.limit(2))
    epoch = retrain_pq_index(
        spark, index_dir, same, "vec_id", "embedding", dim, n_sub=4, n_codes=8
    )
    assert epoch == 1
    stored = spark.read.parquet(f"{index_dir}/codes")
    assert stored.count() == live.count()


@pytest.mark.heavy
def test_distinct_and_join_delta_streams_under_real_runtime(spark):
    """The two r13 IVM sinks driven by the ACTUAL Structured Streaming
    engine (readStream → foreachBatch, availableNow), not just synchronous
    batch calls: the folded state must equal the one-batch collapse, an
    epoch replay must be idempotent, and compact_epoch_state must rewrite
    either sink's history as one epoch with identical folds."""
    import os as _os
    import shutil

    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import (
        apply_distinct_delta,
        build_distinct_support,
        distinct_from_support,
    )
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        compact_epoch_state,
        distinct_delta_stream,
        join_delta_stream,
        read_distinct_delta_state,
        read_join_delta_state,
    )

    tmp = _os.path.join(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), ".tmp")
    stage = _os.path.join(tmp, "ivm13_stage")
    ddir = _os.path.join(tmp, "ivm13_distinct")
    jdir = _os.path.join(tmp, "ivm13_join")
    for p in (stage, ddir, jdir):
        shutil.rmtree(p, ignore_errors=True)

    # a changelog that doubles as both sinks' input: (op, g, v) rows; the
    # join sink treats (g, v) as the full view row keyed by g
    chg = spark.createDataFrame(
        [
            ("I", 1, "x"), ("I", 2, "y"),          # file 1
            ("D", 1, "x"), ("I", 1, "z"),          # file 2: update g=1
            ("I", 3, "w"), ("D", 2, "y"),          # file 3: birth + death
        ],
        "op string, g int, v string",
    )
    for lo, hi in [(0, 2), (2, 4), (4, 6)]:
        spark.createDataFrame(
            chg.collect()[lo:hi], chg.schema
        ).coalesce(1).write.mode("append").parquet(stage)

    stream = spark.readStream.schema(chg.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(stage)
    dsink = distinct_delta_stream(ddir, ["g"], "v")
    jsink = join_delta_stream(jdir)

    def both(batch_df, epoch_id):
        dsink(batch_df, epoch_id)
        jsink(batch_df, epoch_id)

    q = stream.writeStream.foreachBatch(both).trigger(availableNow=True).start()
    try:
        assert q.awaitTermination(300), "stream did not drain in 300s"
    finally:
        q.stop()

    # distinct fold == one-batch collapse, applied from an empty base
    empty = spark.createDataFrame([], "g int, v string")
    support0 = build_distinct_support(empty, ["g"], "v")
    view0 = distinct_from_support(support0, ["g"])
    folded = read_distinct_delta_state(spark, ddir, ["g"], "v")
    nv, ns = apply_distinct_delta(
        view0, support0, folded, ["g"], "v", collapsed=True
    )
    assert {r["g"]: r["nd"] for r in nv.collect()} == {1: 1, 3: 1}
    # join fold: net rows are exactly the post-change state
    jnet = read_join_delta_state(spark, jdir)
    assert {(r["g"], r["v"], r["__net"]) for r in jnet.collect()} == {
        (1, "z", 1), (3, "w", 1),
    }

    # at-least-once: replaying the LAST epoch leaves both folds unchanged
    # (materialize the pre-replay fold first: the replay OVERWRITES the
    # epoch partition, so lazy frames over the old files must not survive,
    # and the listing cache needs a refresh)
    pre_fold = sorted(map(tuple, folded.collect()))
    last = chg.collect()[4:6]
    both(spark.createDataFrame(last, chg.schema), 2)
    spark.catalog.refreshByPath(ddir)
    spark.catalog.refreshByPath(jdir)
    assert {(r["g"], r["v"], r["__net"]) for r in read_join_delta_state(spark, jdir).collect()} == {
        (1, "z", 1), (3, "w", 1),
    }
    assert sorted(map(tuple, read_distinct_delta_state(spark, ddir, ["g"], "v").collect())) == pre_fold

    # compaction: rewrite each history as ONE epoch holding its fold;
    # the post-compaction fold is identical and future epochs append
    dfold = read_distinct_delta_state(spark, ddir, ["g"], "v")
    dfold = spark.createDataFrame(dfold.collect(), dfold.schema)
    compact_epoch_state(dfold, ddir)
    spark.catalog.refreshByPath(ddir)
    assert sorted(map(tuple, read_distinct_delta_state(spark, ddir, ["g"], "v").collect())) == \
        sorted(map(tuple, dfold.collect()))
    jfold = read_join_delta_state(spark, jdir)
    jfold = spark.createDataFrame(jfold.collect(), jfold.schema)
    compact_epoch_state(jfold, jdir)
    spark.catalog.refreshByPath(jdir)
    assert sorted(map(tuple, read_join_delta_state(spark, jdir).collect())) == \
        sorted(map(tuple, jfold.collect()))
    dsink(spark.createDataFrame([("I", 9, "q")], chg.schema), 9)
    spark.catalog.refreshByPath(ddir)
    assert {r["g"] for r in read_distinct_delta_state(spark, ddir, ["g"], "v").collect()} == {1, 3, 9}


def test_retrain_pq_index_null_vectors(spark):
    """r13 ADVICE: NULL vectors in the retrain source must not slip past
    the conflict guard (count_distinct ignores NULLs) into a
    nondeterministic first() pick. A live id carrying a NULL row beside
    its real row rebuilds deterministically from the real vector; a live
    id whose rows are ALL NULL has no re-suppliable vector and trips the
    loud missing-id check instead."""
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import retrain_pq_index

    index_dir, emb, live, dim = _build_tombstoned_pq(spark, "pq_retrain_null")
    some_live_id = live.select("vec_id").first()[0]
    null_vec = F.lit(None).cast(emb.schema["embedding"].dataType)

    # NULL row beside the real row: guard passes, rebuild uses the real
    # vector — identical codebooks to a clean-source retrain
    ref_dir, _, _, _ = _build_tombstoned_pq(spark, "pq_retrain_null_ref")
    retrain_pq_index(spark, ref_dir, emb, "vec_id", "embedding", dim,
                     n_sub=4, n_codes=8)
    noisy = emb.unionByName(
        emb.where(F.col("vec_id") == some_live_id).withColumn(
            "embedding", null_vec
        )
    )
    retrain_pq_index(spark, index_dir, noisy, "vec_id", "embedding", dim,
                     n_sub=4, n_codes=8)
    a = sorted(map(tuple, spark.read.parquet(f"{index_dir}/codes").collect()))
    b = sorted(map(tuple, spark.read.parquet(f"{ref_dir}/codes").collect()))
    assert a == b

    # all-NULL live id: vanishes from the filtered source -> missing-id
    # check raises before any state is staged
    d, emb2, _, _ = _build_tombstoned_pq(spark, "pq_retrain_allnull")
    all_null = emb2.withColumn(
        "embedding",
        F.when(F.col("vec_id") == some_live_id, null_vec).otherwise(
            F.col("embedding")
        ),
    )
    with pytest.raises(ValueError, match="no row"):
        retrain_pq_index(spark, d, all_null, "vec_id", "embedding", dim,
                         n_sub=4, n_codes=8)
    assert not glob.glob(f"{d}/.retrain*")


def test_delta_sinks_reject_epoch_column(spark):
    """r13 ADVICE: every IVM delta sink writes under epoch=N partitions
    and every read-side fold drops 'epoch' — a data column named 'epoch'
    would be silently dropped/misread, so the factories reject it loudly
    up front (join_delta_stream at first batch contact, since the view's
    columns are only known then)."""
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        agg_delta_stream,
        distinct_delta_stream,
        extrema_delta_stream,
        join_delta_stream,
        topk_delta_stream,
    )

    with pytest.raises(ValueError, match="epoch"):
        agg_delta_stream("/tmp/x", ["epoch"], "m")
    with pytest.raises(ValueError, match="epoch"):
        agg_delta_stream("/tmp/x", ["g"], "m", extra_measure_cols=["epoch"])
    with pytest.raises(ValueError, match="epoch"):
        extrema_delta_stream("/tmp/x", ["epoch"], "m")
    with pytest.raises(ValueError, match="epoch"):
        distinct_delta_stream("/tmp/x", ["g"], "epoch")
    with pytest.raises(ValueError, match="epoch"):
        topk_delta_stream("/tmp/x", ["epoch"], "id", "m")
    sink = join_delta_stream(os.path.join(TMP, "jds_epoch_guard"))
    bad = spark.createDataFrame([("I", 1, 2)], "op string, k long, epoch long")
    with pytest.raises(ValueError, match="epoch"):
        sink(bad, 0)


def test_late_epoch_dead_letter_after_compaction(spark):
    """r13 verdict #5: a changelog batch replayed for an epoch at or
    below the compacted floor must not land under epoch=N — id == floor
    would overwrite the compacted fold, id < floor would double-count at
    the next fold. Full lifecycle on the agg sink: compact writes the
    floor, the late replay routes to .late/ + meta, the fold is
    bit-identical before/after, and the next fresh epoch lands
    normally."""
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        agg_delta_stream,
        compact_epoch_state,
        read_agg_delta_state,
        read_late_epochs,
    )

    d = os.path.join(TMP, "late_epoch_agg")
    shutil.rmtree(d, ignore_errors=True)
    chg = "op string, g string, m double"
    sink = agg_delta_stream(d, ["g"], "m")
    batches = [
        [("I", "a", 1.0), ("I", "b", 2.0)],
        [("I", "a", 3.0), ("D", "b", 2.0)],
        [("I", "c", 5.0)],
    ]
    for i, rows in enumerate(batches):
        sink(spark.createDataFrame(rows, chg), i)
    folded = read_agg_delta_state(spark, d, ["g"])
    target = compact_epoch_state(folded, d)
    assert target == 2
    before = sorted(map(tuple, read_agg_delta_state(spark, d, ["g"]).collect()))

    # late replay of an already-compacted epoch: dead-lettered, loud in
    # the meta, invisible to the fold
    sink(spark.createDataFrame(batches[1], chg), 1)
    assert not os.path.exists(os.path.join(d, "epoch=1"))
    assert os.path.exists(os.path.join(d, ".late", "epoch=1"))
    spark.catalog.refreshByPath(d)
    after = sorted(map(tuple, read_agg_delta_state(spark, d, ["g"]).collect()))
    assert after == before
    meta = read_late_epochs(spark, d).collect()
    assert [(r["epoch"], r["floor"]) for r in meta] == [(1, 2)]
    assert meta[0]["late_rows"] >= 1

    # replaying the floor epoch itself is equally final
    sink(spark.createDataFrame(batches[2], chg), 2)
    assert sorted(r["epoch"] for r in read_late_epochs(spark, d).collect()) == [1, 2]

    # a genuinely new epoch past the floor lands normally
    sink(spark.createDataFrame([("I", "a", 7.0)], chg), 3)
    spark.catalog.refreshByPath(d)
    got = {r["g"]: (r["n"], float(r["total"]))
           for r in read_agg_delta_state(spark, d, ["g"]).collect()}
    assert got["a"] == (3, 11.0) and got["c"] == (1, 5.0)


def test_late_epoch_guard_uniform_across_all_ivm_sinks(spark):
    """The same dead-letter guard protects every single-directory state
    sink, the five IVM flavors and the sketch, funnel, cohort, decayed and
    ANN sinks alike — with a compacted floor of 5 on an (otherwise empty)
    state dir, an epoch-3 batch is dead-lettered and nothing lands under
    epoch=3. The IVF sink's dead letter keeps its ``__cell`` partitioning."""
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        agg_delta_stream,
        cohort_state_stream,
        decayed_count_stream,
        distinct_delta_stream,
        extrema_delta_stream,
        funnel_state_stream,
        hll_sketch_stream,
        ivf_index_stream,
        join_delta_stream,
        qsketch_stream,
        read_late_epochs,
        topk_delta_stream,
    )

    chg = "op string, g string, id long, m double"
    batch = spark.createDataFrame([("I", "a", 1, 2.0)], chg)
    events = spark.createDataFrame(
        [("a", 1, "2024-01-02 00:00:00", "view", [1.0, 0.0])],
        "g string, id long, ts string, event_type string, v array<double>",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "__cell int, __cv array<double>"
    )
    sinks = {
        "agg": (lambda d: agg_delta_stream(d, ["g"], "m"), batch, "."),
        "extrema": (lambda d: extrema_delta_stream(d, ["g"], "m"), batch, "."),
        "distinct": (lambda d: distinct_delta_stream(d, ["g"], "id"), batch, "."),
        "topk": (lambda d: topk_delta_stream(d, ["g"], "id", "m"), batch, "."),
        "join": (lambda d: join_delta_stream(d), batch, "."),
        "hll": (lambda d: hll_sketch_stream(d, "g"), events, "."),
        "qsketch": (lambda d: qsketch_stream(d, "id"), events, "."),
        "funnel": (lambda d: funnel_state_stream(d, ["g"], ["view"]), events, "."),
        "cohort": (lambda d: cohort_state_stream(d, "g", "ts"), events, "."),
        "decayed": (lambda d: decayed_count_stream(d, "g", "ts"), events, "."),
        "ivf": (lambda d: ivf_index_stream(d, "id", "v", cents), events, "cells"),
    }
    for name, (mk, rows, sub) in sinks.items():
        root = os.path.join(TMP, f"late_epoch_{name}")
        shutil.rmtree(root, ignore_errors=True)
        d = os.path.normpath(os.path.join(root, sub))
        os.makedirs(d)
        with open(os.path.join(d, ".compacted.floor"), "w") as fh:
            fh.write("5")
        sink = mk(root)
        sink(rows, 3)
        assert not os.path.exists(os.path.join(d, "epoch=3")), name
        assert os.path.exists(os.path.join(d, ".late", "epoch=3")), name
        meta = read_late_epochs(spark, d).collect()
        assert [(r["epoch"], r["floor"]) for r in meta] == [(3, 5)], name
        if name == "ivf":
            late = os.listdir(os.path.join(d, ".late", "epoch=3"))
            assert any(p.startswith("__cell=") for p in late), late
        # and past the floor the same sink still writes normally
        sink(rows, 6)
        assert os.path.exists(os.path.join(d, "epoch=6")), name


def test_late_epoch_guard_covers_non_ivm_sinks(spark):
    """_write_epoch_state is now THE epoch write path for every state
    sink, not just the IVM five — full lifecycle on the CMS sketch sink
    (sum-fold: a replayed compacted epoch would double-count) plus the
    per-directory floor on a multi-directory sink (BM25 postings/doclen
    compacted by purge get independent floors)."""
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        cms_sketch_stream,
        compact_epoch_state,
        read_cms_sketch,
        read_late_epochs,
    )

    d = os.path.join(TMP, "late_epoch_cms")
    shutil.rmtree(d, ignore_errors=True)
    sink = cms_sketch_stream(d, "k", depth=2, width=16)
    rows = "k string"
    b0 = spark.createDataFrame([("a",), ("b",), ("a",)], rows)
    b1 = spark.createDataFrame([("c",), ("a",)], rows)
    sink(b0, 0)
    sink(b1, 1)
    target = compact_epoch_state(read_cms_sketch(spark, d), d)
    assert target == 1
    before = sorted(map(tuple, read_cms_sketch(spark, d).collect()))

    sink(b0, 0)  # replay of a finalized epoch -> dead-letter, not double count
    assert not os.path.exists(os.path.join(d, "epoch=0"))
    spark.catalog.refreshByPath(d)
    assert sorted(map(tuple, read_cms_sketch(spark, d).collect())) == before
    assert [r["epoch"] for r in read_late_epochs(spark, d).collect()] == [0]

    sink(b1, 2)  # fresh epoch past the floor still lands
    spark.catalog.refreshByPath(d)
    after = {(r["row"], r["bucket"]): r["cell_count"]
             for r in read_cms_sketch(spark, d).collect()}
    base = {(r0, b): c for (r0, b, c) in before}
    assert sum(after.values()) > sum(base.values())


def test_retrain_writes_finalization_floor(spark):
    """Retrain finalizes row-epoch history exactly like compaction (old
    epochs deleted, state lives under epoch=target), so it must leave the
    same late-epoch floor: a stale sink restarting with an old checkpoint
    after a PQ retrain dead-letters its replayed epoch instead of merging
    old-codebook codes under a finalized id."""
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import pq_train_codebooks
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        pq_index_stream,
        read_late_epochs,
        retrain_pq_index,
    )

    index_dir, emb, live, dim = _build_tombstoned_pq(spark, "pq_retrain_floor")
    target = retrain_pq_index(spark, index_dir, emb, "vec_id", "embedding",
                              dim, n_sub=4, n_codes=8)
    floor_file = os.path.join(index_dir, "codes", ".compacted.floor")
    assert os.path.exists(floor_file)
    assert int(open(floor_file).read()) == target

    want = sorted(map(tuple,
                      spark.read.parquet(f"{index_dir}/codes").collect()))
    books = pq_train_codebooks(emb, "vec_id", "embedding", dim, n_sub=4, n_codes=8)
    stale_sink = pq_index_stream(index_dir, "vec_id", "embedding", dim, books, n_sub=4)
    stale_sink(emb.where(F.col("vec_id") % 2 == 0), 0)  # replayed old epoch
    assert not os.path.exists(f"{index_dir}/codes/epoch=0")
    meta = read_late_epochs(spark, f"{index_dir}/codes").collect()
    assert [(r["epoch"], r["floor"]) for r in meta] == [(0, target)]
    spark.catalog.refreshByPath(f"{index_dir}/codes")
    assert sorted(map(tuple,
                      spark.read.parquet(f"{index_dir}/codes").collect())) == want
    # a fresh epoch past the floor still lands
    stale_sink(emb.where(F.col("vec_id") % 2 == 1), target + 1)
    assert os.path.exists(f"{index_dir}/codes/epoch={target + 1}")


def test_compaction_floor_survives_crash_after_ready(spark):
    """The floor is committed at the ready-rename, not only at the tail
    of _finish_compaction: simulate a crash right after the ready stage
    (before any epoch deletion), run recovery, and the floor must guard
    the directory — a late replay dead-letters."""
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        agg_delta_stream,
        read_agg_delta_state,
        read_late_epochs,
        recover_epoch_state,
        _compacted_floor,
        _write_compacted_floor,
    )

    d = os.path.join(TMP, "late_epoch_crash")
    shutil.rmtree(d, ignore_errors=True)
    chg = "op string, g string, m double"
    sink = agg_delta_stream(d, ["g"], "m")
    sink(spark.createDataFrame([("I", "a", 1.0)], chg), 0)
    sink(spark.createDataFrame([("I", "a", 2.0)], chg), 1)
    # hand-stage the crash point compact_epoch_state reaches right after
    # its tmp -> ready rename + early floor write: ready dir present,
    # source epochs intact, no epoch deleted yet
    folded = read_agg_delta_state(spark, d, ["g"])
    folded.write.parquet(os.path.join(d, ".compact.ready.epoch=1"))
    _write_compacted_floor(d, 1)

    assert recover_epoch_state(d) is True      # finishes the compaction
    assert _compacted_floor(d) == 1
    before = sorted(map(tuple, read_agg_delta_state(spark, d, ["g"]).collect()))
    sink(spark.createDataFrame([("I", "a", 9.0)], chg), 0)   # late replay
    spark.catalog.refreshByPath(d)
    assert sorted(map(tuple, read_agg_delta_state(spark, d, ["g"]).collect())) == before
    assert [r["epoch"] for r in read_late_epochs(spark, d).collect()] == [0]


def test_replay_late_epochs_requeues_fresh_generation(spark):
    """The recovery half of the late-epoch guard: a fresh-checkpoint
    generation dead-lettered against a compacted directory is requeued
    under fresh epoch ids past the floor, the fold then equals the
    one-shot collapse of old + requeued history, and the dead letter is
    drained."""
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        agg_delta_stream,
        compact_epoch_state,
        read_agg_delta_state,
        read_late_epochs,
        replay_late_epochs,
    )

    d = os.path.join(TMP, "late_epoch_replay")
    shutil.rmtree(d, ignore_errors=True)
    chg = "op string, g string, m double"
    sink = agg_delta_stream(d, ["g"], "m")
    sink(spark.createDataFrame([("I", "a", 1.0)], chg), 0)
    sink(spark.createDataFrame([("I", "b", 2.0)], chg), 1)
    assert replay_late_epochs(d) == []          # nothing to do yet
    compact_epoch_state(read_agg_delta_state(spark, d, ["g"]), d)

    # a NEW generation restarts at epoch 0/1 (fresh checkpoint) with
    # genuinely new data -> dead-lettered
    sink(spark.createDataFrame([("I", "a", 10.0)], chg), 0)
    sink(spark.createDataFrame([("D", "b", 2.0)], chg), 1)
    assert sorted(r["epoch"] for r in read_late_epochs(spark, d).collect()) == [0, 1]

    new_ids = replay_late_epochs(d)
    assert new_ids == [2, 3]                    # past the floor (1)
    assert not os.path.exists(os.path.join(d, ".late"))
    assert not os.path.exists(os.path.join(d, ".late_meta"))
    assert read_late_epochs(spark, d).count() == 0
    spark.catalog.refreshByPath(d)
    got = {r["g"]: (r["n"], float(r["total"]))
           for r in read_agg_delta_state(spark, d, ["g"]).collect()}
    assert got == {"a": (2, 11.0), "b": (0, 0.0)}
    # and the requeued ids are live history: another compaction folds them
    compact_epoch_state(read_agg_delta_state(spark, d, ["g"]), d)
    spark.catalog.refreshByPath(d)
    assert {r["g"]: r["n"] for r in read_agg_delta_state(spark, d, ["g"]).collect()} \
        == {"a": 2, "b": 0}


def test_replay_late_epochs_preserves_sink_partitioning(spark):
    """r14 advice: a sink whose normal epochs are written with
    partitionBy (the IVF cell sink) must dead-letter in that SAME layout
    — replay_late_epochs requeues by rename, and renaming an
    unpartitioned frame next to __cell=-partitioned siblings breaks
    partition discovery for the whole dataset."""
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        _write_epoch_state,
        replay_late_epochs,
    )

    d = os.path.join(TMP, "late_epoch_partitioned")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    rows = "__cell int, __iid long, __iv array<double>"
    b0 = spark.createDataFrame(
        [(0, 1, [1.0, 0.0]), (1, 2, [0.0, 1.0])], rows
    )
    assert _write_epoch_state(b0, d, 0, partition_by=["__cell"]) is True
    with open(os.path.join(d, ".compacted.floor"), "w") as fh:
        fh.write("0")

    b_late = spark.createDataFrame([(1, 3, [0.6, 0.8])], rows)
    assert _write_epoch_state(b_late, d, 0, partition_by=["__cell"]) is False
    # dead letter carries the sink's own partition layout
    assert os.path.isdir(os.path.join(d, ".late", "epoch=0", "__cell=1"))

    new_ids = replay_late_epochs(d)
    assert new_ids == [1]
    assert os.path.isdir(os.path.join(d, "epoch=1", "__cell=1"))
    # uniform layout: partition discovery over the whole dataset works
    spark.catalog.refreshByPath(d)
    got = spark.read.parquet(d)
    assert set(got.columns) == {"__cell", "__iid", "__iv", "epoch"}
    assert sorted((r["epoch"], r["__cell"], r["__iid"]) for r in got.collect()) \
        == [(0, 0, 1), (0, 1, 2), (1, 1, 3)]


def test_replay_late_epochs_refuses_crash_window_duplicates(spark):
    """r14 advice: a same-checkpoint replay landing in the compaction
    crash window (ready renamed + floor written, old epoch dirs not yet
    deleted) is dead-lettered while its ORIGINAL partition still exists
    and gets folded by recovery — replaying that frame would
    double-count. The meta records orig_existed at dead-letter time and
    replay_late_epochs refuses such frames unless include_duplicates."""
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        agg_delta_stream,
        read_agg_delta_state,
        read_late_epochs,
        recover_epoch_state,
        replay_late_epochs,
        _write_compacted_floor,
    )

    d = os.path.join(TMP, "late_epoch_dup")
    shutil.rmtree(d, ignore_errors=True)
    chg = "op string, g string, m double"
    sink = agg_delta_stream(d, ["g"], "m")
    sink(spark.createDataFrame([("I", "a", 1.0)], chg), 0)
    sink(spark.createDataFrame([("I", "a", 2.0)], chg), 1)
    # stage the crash window exactly as compact_epoch_state leaves it:
    # fold materialized under ready, floor committed, epochs NOT deleted
    folded = read_agg_delta_state(spark, d, ["g"])
    folded.write.parquet(os.path.join(d, ".compact.ready.epoch=1"))
    _write_compacted_floor(d, 1)

    # same-checkpoint restart replays epoch 1 inside the window: the
    # original epoch=1 dir is still on disk -> flagged a true duplicate
    sink(spark.createDataFrame([("I", "a", 2.0)], chg), 1)
    meta = read_late_epochs(spark, d).collect()
    assert [(r["epoch"], r["orig_existed"]) for r in meta] == [(1, True)]

    assert recover_epoch_state(d) is True       # folds the ORIGINAL epoch 1
    before = sorted(map(tuple, read_agg_delta_state(spark, d, ["g"]).collect()))

    # default replay refuses the duplicate: nothing requeued, frame kept
    assert replay_late_epochs(d) == []
    assert os.path.isdir(os.path.join(d, ".late", "epoch=1"))
    spark.catalog.refreshByPath(d)
    assert sorted(map(tuple, read_agg_delta_state(spark, d, ["g"]).collect())) == before

    # a genuinely-late frame (original partition long gone) replays fine
    # alongside: only the duplicate is withheld
    sink(spark.createDataFrame([("I", "b", 5.0)], chg), 0)
    meta = {r["epoch"]: r["orig_existed"]
            for r in read_late_epochs(spark, d).collect()}
    assert meta == {0: False, 1: True}
    new_ids = replay_late_epochs(d)
    assert len(new_ids) == 1
    assert os.path.isdir(os.path.join(d, ".late", "epoch=1"))
    spark.catalog.refreshByPath(d)
    got = {r["g"]: (r["n"], float(r["total"]))
           for r in read_agg_delta_state(spark, d, ["g"]).collect()}
    assert got == {"a": (2, 3.0), "b": (1, 5.0)}

    # the operator can override after inspecting the frames
    forced = replay_late_epochs(d, include_duplicates=True)
    assert len(forced) == 1
    assert not os.path.exists(os.path.join(d, ".late"))
    spark.catalog.refreshByPath(d)
    got = {r["g"]: (r["n"], float(r["total"]))
           for r in read_agg_delta_state(spark, d, ["g"]).collect()}
    assert got["a"] == (3, 5.0)                  # now (knowingly) doubled


def test_ivf_sink_dead_letter_and_replay_keep_partition_discovery(spark):
    """End-to-end form of the r14 partitioned-dead-letter advice on the
    REAL IVF sink: compact the __cell-partitioned cells directory, drive
    a fresh-generation batch through the sink (dead-lettered in the
    sink's own partition layout), requeue it, and prove the folded index
    still answers searches — partition discovery over the mixed old/
    requeued epochs intact, and the late vectors searchable."""
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import ivf_build_centroids
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        compact_epoch_state,
        ivf_index_stream,
        ivf_search_from_index,
        read_late_epochs,
        replay_late_epochs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    old = emb.where(F.col("vec_id") % 2 == 0)
    late = emb.where(F.col("vec_id") % 2 == 1)
    cents = ivf_build_centroids(old, "vec_id", "embedding", n_cells=4, refine_iters=1)
    index_dir = os.path.join(TMP, "ivf_dead_letter")
    shutil.rmtree(index_dir, ignore_errors=True)
    sink = ivf_index_stream(index_dir, "vec_id", "embedding", cents)
    sink(old.where(F.col("vec_id") % 4 == 0), 0)
    sink(old.where(F.col("vec_id") % 4 == 2), 1)
    cells_dir = f"{index_dir}/cells"
    fold = spark.read.parquet(cells_dir).drop("epoch")
    compact_epoch_state(fold, cells_dir, partition_by=["__cell"])

    # fresh checkpoint generation restarts at 0 with the late vectors
    sink(late, 0)
    assert [r["epoch"] for r in read_late_epochs(spark, cells_dir).collect()] == [0]
    # dead letter preserved in the sink's own layout
    assert glob.glob(os.path.join(cells_dir, ".late", "epoch=0", "__cell=*"))

    new_ids = replay_late_epochs(cells_dir)
    assert len(new_ids) == 1
    assert glob.glob(os.path.join(cells_dir, f"epoch={new_ids[0]}", "__cell=*"))
    spark.catalog.refreshByPath(cells_dir)

    # discovery over mixed epochs works and the requeued vectors answer
    stored = spark.read.parquet(cells_dir)
    assert stored.count() == emb.count()
    q = late.where(F.col("vec_id") < 8).withColumnRenamed("vec_id", "qid")
    hits = ivf_search_from_index(
        spark, index_dir, q, "qid", "embedding",
        item_id="vec_id_nn", k=1, n_probe=4,
    ).collect()
    got = {r["qid"]: r["vec_id_nn"] for r in hits}
    # n_probe == n_cells makes IVF exhaustive: top-1 must equal the
    # brute-force nearest over the WHOLE corpus (old + requeued late,
    # self excluded) — fails if the requeued partition were invisible
    import numpy as np

    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=float)
            for r in emb.collect()}
    for qid, nn in got.items():
        qv = vecs[qid] / np.linalg.norm(vecs[qid])
        best = max(
            (iid for iid in vecs if iid != qid),
            key=lambda iid: float(
                qv @ (vecs[iid] / np.linalg.norm(vecs[iid]))
            ),
        )
        assert nn == best, (qid, nn, best)
