"""Structured Streaming pipelines — SURVEY.md §2.9 ST1-ST9.

The reference's Kafka consumer (src/streaming/kafka_consumer.py) is an
imperative poll/dispatch loop with per-event dict updates; here the whole
path is ONE streaming query:

    source (kafka | file replay) → from_json → event-time windowed aggs
        → foreachBatch upsert into the online feature table

Correctness upgrade over the reference (SURVEY.md ST6): event-time +
watermark instead of processing-time anchors, so late/out-of-order events
land in the right window.

Local testing has no Kafka broker; ``replay_events_stream`` replays the
driver's events parquet through a file stream so batch/stream parity is
testable (tests/test_streaming.py). Like the Kafka source it sizes each
micro-batch by what has arrived since the last trigger, up to one scan wave
of bytes, so a lagging query drains a backlog in few batches. The kafka
wiring is the same plan with a different source, gated behind import-try
since the kafka connector jar may be absent.

Every ST9 state sink keeps its state as epoch-partitioned parquet under
one replay contract: a micro-batch overwrites its own ``epoch=N`` and a
read folds every epoch. Only a few private helpers know that layout, and
the sinks and folds go through them: ``_epoch_sink`` builds a sink's
foreachBatch processor, ``_write_epoch_state`` lands a batch (or
dead-letters it below a compaction floor), ``_read_epochs`` and
``_read_epochs_or_none`` read the epochs back with the partition column
dropped, and ``_drop_tombstoned`` / ``_live_rows`` apply the tombstone
sets. Every directory operation on state goes through ``_StateFs``, a
small shim on Hadoop's ``FileSystem``, so the lifecycle holds on any
Hadoop URI. Compaction, the three retrains and (through compaction) the
tombstone purges finalize with one crash-safe protocol: ``_staged_swap``
stages, commits by one rename and finishes; ``_recover_swap`` finishes or
discards what a crash left.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from py4j.java_gateway import is_instance_of
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def decode_kafka_json(raw: DataFrame, schema: T.StructType) -> DataFrame:
    """ST1: kafka value bytes → typed columns (reference kafka_consumer.py:57).

    Works on any frame with a binary/string `value` column, batch or stream.
    """
    return raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("__e")
    ).select("__e.*")


def kafka_source(
    spark: SparkSession,
    brokers: str,
    topics: str,
    schema: T.StructType,
) -> DataFrame:
    """ST1: kafka → typed stream (reference kafka_consumer.py:52-78).

    Requires the Kafka connector on the classpath — the published artifact
    matching this pyspark build is
    ``org.apache.spark:spark-sql-kafka-0-10_2.13:<spark version>`` (pass via
    ``spark.jars.packages``). Not bundled in this image: absent the jar,
    ``.load()`` fails at DATA-SOURCE LOOKUP with Spark's deploy-guide
    message (asserted in tests/test_streaming.py) — the options themselves
    (bootstrap servers, subscribe list, startingOffsets) follow the
    integration guide's documented names."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topics)
        .option("startingOffsets", "earliest")
        .load()
    )
    return decode_kafka_json(raw, schema)


def replay_events_stream(spark: SparkSession, events_dir: str, schema: T.StructType) -> DataFrame:
    """File-replay source: stream the events parquet as if it were arriving.

    Each trigger admits the files that arrived since the last one, up to one
    full scan wave of bytes (``spark.sql.files.maxPartitionBytes`` ×
    ``defaultParallelism`` of ``spark``) and always at least one file. So a
    query that falls behind drains a backlog of small files in one or two
    micro-batches instead of paying a batch's fixed cost (state commit,
    sink push, epoch write) per file, while one trigger still cannot admit
    an unbounded backlog. The windowed and fold sinks downstream give the
    same results at any batch size; a consumer that needs one batch per
    file builds its own source with ``maxFilesPerTrigger``."""
    sc = spark.sparkContext
    # the conf may hold a byte string ('128MB', '134217728b'): Spark's parser
    partition_bytes = sc._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes")
    )
    wave = partition_bytes * sc.defaultParallelism
    return (
        spark.readStream.schema(schema)
        .option("maxBytesPerTrigger", wave)
        .parquet(events_dir)
    )


def windowed_feature_stream(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """ST3/ST4: tumbling (or sliding) per-entity window features:
    clicks, views, CTR, avg dwell — the realtime_user_features view shape
    (reference feature_definitions.py:217-232, kafka_consumer.py:259-331).

    Works on both a stream (append mode with watermark) and a batch frame
    (for parity tests) since window() is the same expression in both.
    """
    is_streaming = events.isStreaming
    src = events.withWatermark(ts, watermark) if is_streaming else events
    win = F.window(F.col(ts), window, slide) if slide else F.window(F.col(ts), window)
    out = src.groupBy(win.alias("__w"), F.col(key)).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("clicks"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("views"),
        F.round(F.coalesce(F.avg(F.when(F.col("event_type") == "view", F.col("value"))), F.lit(0.0)), 6).alias(
            "avg_dwell"
        ),
    )
    return out.select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        F.col(key),
        "clicks",
        "views",
        F.round(F.col("clicks") / (F.col("views") + F.lit(1e-6)), 6).alias("ctr"),
        "avg_dwell",
    )


def session_feature_stream(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """ST7 streaming tier: true sessionization via ``session_window(ts, gap)``
    — state merges windows closer than ``gap``; a session closes (and emits,
    in append mode) once the watermark passes its end. Session end is
    last-event + gap (Spark's definition). Works on batch frames with the
    same expression; the lag+cumsum batch analog is operators/sessionize.py.
    """
    is_streaming = events.isStreaming
    src = events.withWatermark(ts, watermark) if is_streaming else events
    out = src.groupBy(F.session_window(F.col(ts), gap).alias("__w"), F.col(key)).agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("clicks"),
    )
    return out.select(
        F.col("__w.start").alias("session_start"),
        F.col("__w.end").alias("session_end"),
        F.col(key),
        "n_events",
        "clicks",
    )


def streaming_exact_dedup(
    docs: DataFrame,
    text_col: str = "text",
    ts: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: first-seen doc per normalized-text fingerprint
    wins; duplicate arrivals within the watermark horizon are dropped.
    State is bounded by ``dropDuplicatesWithinWatermark`` — a fingerprint's
    state is evicted once the watermark passes it (re-arrivals later than
    the horizon are treated as new, the standard streaming-dedup trade).

    Batch twin for parity: ``operators/dedup.py::exact_dedup``.
    """
    from real_time_recommendation_system_with_feature_store_spark.functions.text import fingerprint as _fp

    with_fp = docs.withColumn("__fp", _fp(F.col(text_col)))
    if docs.isStreaming:
        return (
            with_fp.withWatermark(ts, watermark)
            .dropDuplicatesWithinWatermark(["__fp"])
            .drop("__fp")
        )
    return with_fp.dropDuplicates(["__fp"]).drop("__fp")


def attribution_stream(
    views: DataFrame,
    clicks: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    id_col: str = "event_id",
    horizon: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream interval join: attribute each click to every view by the
    same user within the preceding ``horizon``.

    A capability upgrade over the reference (its consumer handles one event
    at a time and cannot correlate streams, kafka_consumer.py:88-99). Inner
    interval joins emit eagerly on match; the watermarks + the time-range
    condition bound BOTH sides' join state — without the range condition the
    state would grow forever (the classic stream-stream join pitfall).

    Works on batch frames with the identical expression (parity tests /
    DuckDB oracle); returns (key, view id/ts, click id/ts).
    """
    v = views.select(
        F.col(key).alias("__vk"),
        F.col(ts).alias("view_ts"),
        F.col(id_col).alias("view_event_id"),
    )
    c = clicks.select(
        F.col(key).alias(key),
        F.col(ts).alias("click_ts"),
        F.col(id_col).alias("click_event_id"),
    )
    if views.isStreaming:
        v = v.withWatermark("view_ts", watermark)
    if clicks.isStreaming:
        c = c.withWatermark("click_ts", watermark)
    cond = (
        (F.col("__vk") == F.col(key))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {horizon}"))
    )
    return v.join(c, cond).select(
        key, "click_event_id", "view_event_id", "click_ts", "view_ts"
    )


def upsert_online_store(store, view_name: str):
    """ST8: foreachBatch sink — merge each micro-batch's latest rows into the
    online feature table (keyed overwrite; Delta MERGE when available).

    Update mode re-emits a window whenever a later batch changes it, so the
    store log holds several rows per (key, window). When the view declares a
    ``created_field`` that the batch does not carry, the epoch id is stamped
    into it, and ``latest_snapshot`` / the as-of join pick the newest
    emission."""

    def _upsert(batch_df: DataFrame, epoch_id: int) -> None:
        view = store.views.get(view_name)
        if view and view.created_field and view.created_field not in batch_df.columns:
            batch_df = batch_df.withColumn(view.created_field, F.lit(epoch_id).cast("long"))
        # store.push is EAGER (localCheckpoint snapshot inside): every
        # partition processes within foreachBatch (stateful queries fail
        # commit validation otherwise), the stored table detaches from the
        # epoch's unreplayable source offsets, and the push log compacts
        # periodically — see FeatureStore.push
        store.push(view_name, batch_df)

    return _upsert


def near_dup_dedup_stream(
    index_dir: str,
    docs_dir: str,
    pairs_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    verify_threshold: float | None = 0.8,
    hash_fn: str = "xxhash64",
):
    """ST9 × dedup: streaming incremental near-dup — a foreachBatch sink
    where each micro-batch probes the PERSISTED MinHash band index, emits
    the verified near-dup pairs touching the batch to ``pairs_dir``, then
    adds its own bands (and raw docs, for later verify reads) to the
    index. The corpus is sketched exactly once, as it arrives — the
    streaming face of ``operators/dedup.minhash_dedup_incremental``, whose
    union-equals-full invariant carries over batch by batch.

    Every sink is an ``epoch=N`` partition written with overwrite, and a
    batch's reads exclude its own epoch — so foreachBatch's at-least-once
    replay of a partially-committed epoch rewrites exactly that epoch's
    output instead of duplicating pairs/bands (idempotent restarts).
    Readers consume each dir as one epoch-partitioned parquet dataset
    (``_read_epochs``).

    State lives in parquet (index_dir / docs_dir), not executor memory, so
    the stream restarts cleanly and the index doubles as the offline
    dimension table (S10 pattern). At corpus scale, compact index_dir
    periodically (sources/layout.compact_to_target_size).
    """
    from real_time_recommendation_system_with_feature_store_spark.operators.dedup import (
        minhash_band_index,
        minhash_dedup_incremental,
    )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.select(id_col, text_col).persist()
        try:
            if batch.limit(1).count() == 0:
                return
            # exclude THIS epoch's partitions: under foreachBatch's
            # at-least-once replay the epoch may have partially committed
            # before the crash, and its own output must not feed its re-run
            prior = F.col("epoch") != epoch_id
            prior_docs = _read_epochs_or_none(spark, docs_dir, prior)
            index = _read_epochs_or_none(spark, index_dir, prior)
            if index is not None:
                # prior_docs can lag the index: a crash between the index
                # write and the docs write leaves index epochs with no docs
                # twin — replay must not fail permanently on that window
                if prior_docs is None:
                    verify = batch
                else:
                    verify = prior_docs.select(id_col, text_col).unionByName(batch)
            else:
                index = minhash_band_index(
                    batch.limit(0), text_col, id_col, n, num_hashes, bands, hash_fn
                )
                verify = batch
            pairs = minhash_dedup_incremental(
                batch, index, verify, text_col, id_col,
                n=n, num_hashes=num_hashes, bands=bands,
                verify_threshold=verify_threshold, hash_fn=hash_fn,
            )
            # every sink writes to an epoch=N partition with overwrite:
            # a replayed epoch rewrites exactly its own output (idempotent),
            # and readers see one epoch-partitioned parquet dataset
            _write_epoch_state(pairs, pairs_dir, epoch_id)
            _write_epoch_state(
                minhash_band_index(
                    batch, text_col, id_col, n, num_hashes, bands, hash_fn
                ),
                index_dir,
                epoch_id,
            )
            _write_epoch_state(batch, docs_dir, epoch_id)
        finally:
            batch.unpersist()

    return _process


def span_dedup_stream(
    index_dir: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 10,
    sep: str | None = None,
):
    """ST9 × span dedup: streaming corpus REWRITE — each micro-batch is
    span-deduplicated against the persisted fingerprint index
    (``operators/dedup.dedup_spans_incremental``), the rewritten documents
    land in ``out_dir``, and only the batch's genuinely new fingerprints
    append to ``index_dir``. When batches arrive in corpus order the union
    of rewritten epochs equals the one-shot ``dedup_spans`` corpus rewrite
    (parity-tested), so ingest-time dedup needs no second batch pass.

    Same durability contract as ``near_dup_dedup_stream``: every sink is an
    ``epoch=N`` partition written with overwrite and reads exclude the
    batch's own epoch, so foreachBatch's at-least-once replay rewrites
    exactly its own output (idempotent restarts); state lives in parquet —
    the index doubles as the offline dimension table (S10). The index rows
    are 16-byte hashes: compact ``index_dir`` periodically at corpus scale.
    """
    from real_time_recommendation_system_with_feature_store_spark.operators.dedup import (
        dedup_spans_incremental,
        span_index,
    )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.select(id_col, text_col).persist()
        try:
            if batch.limit(1).count() == 0:
                return
            index = _read_epochs_or_none(spark, index_dir, F.col("epoch") != epoch_id)
            if index is None:
                index = spark.createDataFrame([], "span_fp string")
            rewritten = dedup_spans_incremental(
                batch, index, text_col, id_col, span_words=span_words, sep=sep
            )
            _write_epoch_state(rewritten, out_dir, epoch_id)
            delta = span_index(batch, text_col, id_col, span_words=span_words, sep=sep).join(
                index, "span_fp", "left_anti"
            )
            _write_epoch_state(delta, index_dir, epoch_id)
        finally:
            batch.unpersist()

    return _process


def semantic_dedup_stream(
    centroids_dir: str,
    members_dir: str,
    pairs_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    threshold: float = 0.8,
    refine_iters: int = 1,
):
    """ST9 × SemDeDup: streaming semantic near-dup — the FIRST batch trains
    the IVF cell geometry (deterministic lowest-id seeds + Lloyd steps,
    exactly ``knn.semantic_dedup``'s build) and persists the centroids;
    every batch assigns its vectors to those FIXED cells, scores pairwise
    cosine against the prior members of the same cell plus its own
    intra-cell pairs, emits the ≥ ``threshold`` pairs touching the batch,
    and appends its (cell, id, normalized-vector) rows to the member table.
    With batches arriving in id order the union of emitted pairs equals the
    one-shot intra-cell pair set under the same centroids (parity-tested);
    freezing the geometry after batch one is SemDeDup's own
    incremental-index trade — retrain + re-sketch to pick up drift.

    Same durability contract as the other dedup streams: ``epoch=N``
    overwrite partitions, reads exclude the batch's own epoch, replays are
    idempotent; all state is parquet (the member table is the S10 dimension
    table — (16 B cell + id + vector) per row).
    """
    from real_time_recommendation_system_with_feature_store_spark.functions.vectors import l2_normalize
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import (
        _assign_cells,
        ivf_build_centroids,
    )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        it = batch_df.select(
            F.col(id_col).alias("__iid"), l2_normalize(F.col(vec_col)).alias("__iv")
        ).persist()
        try:
            if it.limit(1).count() == 0:
                return
            cents = _read_epochs_or_none(spark, centroids_dir)
            if cents is None:
                cents = ivf_build_centroids(
                    it, "__iid", "__iv", n_cells, refine_iters, assume_unit=True
                )
                cents.write.mode("overwrite").parquet(centroids_dir)
                cents = spark.read.parquet(centroids_dir)
            assigned = _assign_cells(it, cents).select("__cell", "__iid", "__iv")
            prior = _read_epochs_or_none(spark, members_dir, F.col("epoch") != epoch_id)
            olds = assigned
            if prior is not None:
                olds = assigned.unionByName(prior.select("__cell", "__iid", "__iv"))
            _write_epoch_state(_semantic_cell_pairs(olds, assigned, threshold), pairs_dir, epoch_id)
            _write_epoch_state(assigned, members_dir, epoch_id)
        finally:
            it.unpersist()

    return _process


def _semantic_cell_pairs(olds: DataFrame, new: DataFrame, threshold: float) -> DataFrame:
    """The semantic near-dup pairs between two (__cell, __iid, __iv) member
    frames: every same-cell pair whose round6(cosine) ≥ ``threshold``,
    deduplicated. The sink pairs a batch with the prior members plus
    itself; the retrain pairs the live members with themselves. Endpoints
    are normalized instead of requiring id_a < id_b across sides: a batch
    id smaller than a prior id must still pair even though the prior row
    sits on the "old" side (out-of-order feeds)."""
    from real_time_recommendation_system_with_feature_store_spark.functions.vectors import dot

    a = olds.select("__cell", F.col("__iid").alias("id_a"), F.col("__iv").alias("__va"))
    b = new.select("__cell", F.col("__iid").alias("id_b"), F.col("__iv").alias("__vb"))
    return (
        a.join(b, "__cell")
        .where(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            F.round(dot(F.col("__va"), F.col("__vb")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def cms_sketch_stream(
    sketch_dir: str,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    salt: str = "cm",
    weight_col: str | None = None,
):
    """ST9 × sketches: streaming count-min maintenance — each micro-batch
    builds its own bounded cell frame (``operators/sketches.cms_build``,
    ≤ depth·width rows no matter the batch size) into an ``epoch=N``
    partition; the live corpus sketch is ``read_cms_sketch``'s merge fold
    over all epochs — the raw stream is never rescanned and the sketch
    directory stays O(epochs · depth · width), compactable at any time by
    rewriting the fold (cms_merge is associative + idempotent under
    re-aggregation).

    Idempotent under foreachBatch's at-least-once replay: a replayed epoch
    overwrites exactly its own cell partition, same contract as the dedup
    sinks above.
    """
    from real_time_recommendation_system_with_feature_store_spark.ident import qcol
    from real_time_recommendation_system_with_feature_store_spark.operators.sketches import cms_build

    def _cells(batch_df: DataFrame) -> DataFrame:
        weight = qcol(weight_col).cast("long") if weight_col else None
        return cms_build(
            batch_df, qcol(key_col), depth=depth, width=width, salt=salt, weight=weight
        )

    return _epoch_sink(sketch_dir, _cells)


def read_cms_sketch(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """Fold an epoch-partitioned sketch directory into ONE count-min sketch
    (the cms_merge of every epoch's cells). Feed the result straight to
    ``operators/sketches.cms_estimate`` or
    ``operators/profile.key_skew_from_cms``."""
    return _read_epochs(spark, sketch_dir).groupBy("row", "bucket").agg(
        F.sum("cell_count").alias("cell_count")
    )


def hll_sketch_stream(
    sketch_dir: str,
    key_col: str,
    p: int = 8,
    salt: str = "hll",
):
    """ST9 × sketches: streaming HyperLogLog maintenance — each micro-batch
    builds its own register frame (``operators/sketches.hll_build``,
    ≤ 2^p rows no matter the batch size) into an ``epoch=N`` partition; the
    live corpus cardinality is ``read_hll_sketch``'s max-fold over all
    epochs — the raw stream is never rescanned and the directory stays
    O(epochs · 2^p), compactable at any time (hll_merge is associative,
    commutative, AND idempotent: max-of-max absorbs duplicate epochs, so
    even a non-overwriting replay could not inflate the estimate — strictly
    stronger than the count-based sinks' overwrite-only idempotency).

    Idempotent under foreachBatch's at-least-once replay: a replayed epoch
    overwrites exactly its own register partition, same contract as
    ``cms_sketch_stream``.
    """
    from real_time_recommendation_system_with_feature_store_spark.ident import qcol
    from real_time_recommendation_system_with_feature_store_spark.operators.sketches import hll_build

    return _epoch_sink(sketch_dir, lambda b: hll_build(b, qcol(key_col), p=p, salt=salt))


def read_hll_sketch(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """Fold an epoch-partitioned register directory into ONE HLL register
    frame (the hll_merge of every epoch). Feed the result straight to
    ``operators/sketches.hll_estimate``."""
    regs = _read_epochs(spark, sketch_dir)
    return regs.groupBy("bucket").agg(F.max("max_rho").alias("max_rho"))


def qsketch_stream(
    sketch_dir: str,
    value_col: str,
    sub_bits: int = 4,
    scale: int = 100,
):
    """ST9 × sketches: streaming quantile-sketch maintenance — each
    micro-batch collapses its values into the bounded log-bucket cell
    frame (``operators/sketches.qsketch_build``, O(log range * 2^sub_bits)
    rows no matter the batch size) under an ``epoch=N`` partition; live
    quantiles come from ``read_qsketch``'s re-sum fold — running
    percentiles over an unbounded stream with fixed state and no
    rescans, where the exact answer would need the whole history sorted.

    Idempotent under foreachBatch's at-least-once replay: a replayed epoch
    overwrites exactly its own cell partition (same contract as
    ``cms_sketch_stream``)."""
    from real_time_recommendation_system_with_feature_store_spark.ident import qcol
    from real_time_recommendation_system_with_feature_store_spark.operators.sketches import qsketch_build

    return _epoch_sink(
        sketch_dir,
        lambda b: qsketch_build(b, qcol(value_col), sub_bits=sub_bits, scale=scale),
    )


def read_qsketch(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """Fold an epoch-partitioned quantile-sketch directory into ONE cell
    frame (the qsketch_merge of every epoch). Feed the result straight to
    ``operators/sketches.qsketch_quantiles``."""
    return _read_epochs(spark, sketch_dir).groupBy("__qs_msb", "__qs_sub").agg(
        F.sum("__qs_cnt").alias("__qs_cnt")
    )


def funnel_state_stream(
    state_dir: str,
    group_cols: list[str],
    steps: list[str],
    ts_col: str = "ts",
    type_col: str = "event_type",
):
    """ST9 × funnel: streaming maintenance of the ordered-conversion-funnel
    state (``operators/funnel.py``) — each micro-batch compacts its events
    into the SUFFICIENT per-entity state and writes an ``epoch=N``
    partition; ``funnel_stage_times`` over ``read_funnel_state``'s fold
    equals the one-pass batch funnel row-for-row (parity-tested), and the
    raw stream is never rescanned.

    Compaction soundness (why each tier keeps what it keeps):

    * stage-0 events: only the GLOBAL first matters and min-of-epoch-mins
      is the global min → one row per entity per epoch;
    * non-step events: only entity EXISTENCE matters (the funnel counts
      entities with any activity) → one min row per (entity, type);
    * stage 1+ events: ``t_k`` = first stage-k event >= ``t_{k-1}``, and a
      LATER-arriving EARLIER stage-0 event lowers ``t_{k-1}``, admitting
      stage-k events a premature prune would have dropped → distinct
      (entity, type, ts) rows all survive.

    Fold idempotency is the strong HLL kind, not just overwrite: stage
    times are mins and counts are per-entity distinct groups, so the SAME
    event landing under two DIFFERENT epoch ids cannot move any stage time
    or count (replaying an epoch additionally overwrites its own
    partition, the sibling sinks' contract).
    """
    from real_time_recommendation_system_with_feature_store_spark.ident import qcol

    if not steps:
        raise ValueError("funnel_state_stream: need at least one step")

    def _state(batch_df: DataFrame) -> DataFrame:
        gcols = [qcol(c) for c in group_cols]
        # no ts-null filter: a row whose timestamps are all NULL still
        # records entity EXISTENCE (min() skips nulls and emits a null-ts
        # marker row), exactly like the batch path's collected structs.
        # Every name routes through qcol — hostile identifiers (dots,
        # spaces) must survive here exactly as in the batch operator.
        ev = batch_df.select(*gcols, qcol(ts_col), qcol(type_col))
        later = qcol(type_col).isin(list(steps[1:])) if len(steps) > 1 else F.lit(False)
        head = (
            ev.where(~F.coalesce(later, F.lit(False)))
            .groupBy(*gcols, qcol(type_col))
            .agg(F.min(qcol(ts_col)).alias(ts_col))
            .select(*gcols, qcol(ts_col), qcol(type_col))
        )
        tail = (
            ev.where(F.coalesce(later, F.lit(False)))
            .dropDuplicates([*group_cols, type_col, ts_col])
            .select(*gcols, qcol(ts_col), qcol(type_col))
        )
        return head.unionByName(tail)

    return _epoch_sink(state_dir, _state)


def read_funnel_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Fold an epoch-partitioned funnel-state directory into ONE event
    frame; feed it straight to ``operators/funnel.funnel_stage_times`` /
    ``funnel_summary`` with the same steps. No re-aggregation is needed —
    stage times are mins and entity counts are distinct groups, both
    insensitive to the cross-epoch duplicates the compaction leaves."""
    return _read_epochs(spark, state_dir)


def cohort_state_stream(
    state_dir: str,
    entity_col: str,
    period_col: str,
):
    """ST9 × cohort: streaming maintenance of the retention-matrix state
    (``operators/cohort.py::cohort_retention``) — each micro-batch compacts
    to its DISTINCT (entity, period) pairs under an ``epoch=N`` partition;
    ``cohort_retention`` over ``read_cohort_state``'s fold equals the
    one-pass batch matrix cell-for-cell (parity-tested). The distinct pairs
    ARE the operator's sufficient statistic: the cohort day is a min over
    periods and every matrix cell counts distinct entity-periods, so the
    fold is min/distinct-idempotent — the same event landing under two
    DIFFERENT epoch ids cannot move a cell (the strong HLL-style
    idempotency; replayed epochs additionally overwrite their own
    partition). State per epoch is bounded by active entities × distinct
    periods touched in that epoch — for daily periods, one row per active
    entity-day, the natural size of a daily activity spine."""
    from real_time_recommendation_system_with_feature_store_spark.ident import qcol

    def _pairs(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(qcol(entity_col), qcol(period_col))
            .where(qcol(period_col).isNotNull())
            .dropDuplicates([entity_col, period_col])
        )

    return _epoch_sink(state_dir, _pairs)


def read_cohort_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Fold an epoch-partitioned cohort-state directory into ONE activity
    frame; feed it straight to ``operators/cohort.cohort_retention``. No
    re-dedup is needed — the operator's per-entity collect_set absorbs
    cross-epoch duplicates."""
    return _read_epochs(spark, state_dir)


def transition_state_stream(
    state_dir: str,
    entity_col: str,
    order_cols: list[str],
    item_col: str,
    track_meta: bool = True,
):
    """ST9 × Markov transitions: streaming maintenance of the first-order
    next-item transition counts (the ``item_transition_matrix`` batch
    analytic; reference analog: the incremental per-event handlers,
    src/streaming/kafka_consumer.py:259-331). Sufficient statistic per the
    r8 design review: per-epoch (prev_item, next_item) pair counts under
    ``pairs/epoch=N``, plus each active entity's FRONTIER — its last event
    by the unique ``order_cols`` key — under ``last/epoch=N``. The live
    matrix is ``read_transition_state``'s sum-fold over the pair epochs;
    the raw stream is never rescanned.

    Cross-batch stitching: each micro-batch seeds the per-entity LAG with
    the folded frontier — the max over ``last/`` epochs STRICTLY BEFORE
    the current epoch id (partition-pruned), a monotone max needing no
    "latest epoch" discovery. The strict bound is what makes epoch replay
    exact: a replayed epoch sees the same frontier it saw the first time
    (never its own previous partial write) and reproduces its partitions
    byte-for-byte. The stitch pair (last event of batch k → first event
    of batch k+1) is counted exactly once.

    Ordering contract (the watermark-style rule): events at or before an
    entity's recorded frontier are DROPPED as replays — this is what makes
    at-least-once redelivery of already-processed data a no-op for the
    counts (replaying any prefix of the stream under a NEW epoch id adds
    zero pairs; replaying an epoch additionally overwrites its own
    partitions, the sibling sinks' contract). The flip side: a genuinely
    late event that time-travels behind its entity's frontier is ignored
    rather than spliced into history — incremental pair counting cannot
    re-open closed transitions, the same trade the reference's per-event
    handlers make. Batch==stream parity therefore holds when micro-batches
    partition each entity's timeline in order (parity-tested); within a
    batch, arrival order is irrelevant (the LAG sorts).

    State size: ``pairs/epoch=N`` is bounded by distinct (prev, next)
    pairs touched in the epoch; ``last/epoch=N`` by entities active in the
    epoch. Both compactable at any time by rewriting their folds (sum and
    max are associative).

    Null-ordered events (r9 ADVICE): a row with NULL in any order col is
    dropped UP FRONT, in every epoch. Previously such rows were dropped
    only for entities that already had a frontier (the ``struct > frontier``
    comparison is NULL) but survived — and sorted FIRST under Spark's
    nulls-first ordering — in epoch 0, a batch==stream parity break. A
    NULL order key has no position on the entity's timeline, so the sink
    enforces the non-null order-key contract uniformly; the drop is
    visible in the meta counter below.

    Observability: each epoch also writes ``meta/epoch=N`` — one row of
    ``(late_dropped, null_dropped)`` counting events discarded as
    behind-frontier replays/late arrivals vs. null-order-key rows, so an
    operator can SEE the late-data drop rate instead of inferring it from
    count drift (``read_transition_meta`` folds the per-epoch rows). The
    counters cost two extra count jobs per micro-batch (over the
    persisted frames); pass ``track_meta=False`` on latency-critical
    sinks to skip them — the drops themselves are identical either
    way."""
    from real_time_recommendation_system_with_feature_store_spark.ident import qcol

    if not order_cols:
        raise ValueError("transition_state_stream: need at least one order col")

    def _last_events(events: DataFrame) -> DataFrame:
        # each entity's last event by the order key: its frontier
        ocols = [qcol(c) for c in order_cols]
        return (
            events.groupBy(qcol(entity_col))
            .agg(F.max(F.struct(*ocols, qcol(item_col))).alias("__fr"))
            .select(
                qcol(entity_col),
                *[F.col("__fr").getField(c).alias(c) for c in order_cols],
                F.col("__fr").getField(item_col).alias(item_col),
            )
        )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import Window

        spark = batch_df.sparkSession
        ocols = [qcol(c) for c in order_cols]
        raw = (
            batch_df.select(qcol(entity_col), *ocols, qcol(item_col))
            .where(qcol(item_col).isNotNull())
            .dropDuplicates([entity_col, *order_cols])
        )
        # non-null order-key contract, enforced identically in EVERY epoch
        # (see docstring): a null order col has no timeline position
        nn = raw
        for oc in ocols:
            nn = nn.where(oc.isNotNull())
        nn = nn.persist() if track_meta else nn
        null_dropped = (raw.count() - nn.count()) if track_meta else None
        ev = nn
        # strictly-prior epochs only (partition-pruned): a REPLAYED epoch
        # must see the same frontier it saw the first time, not its own
        # previous partial write — otherwise the replay drops its whole
        # batch as "already processed" and overwrites its pairs partition
        # with nothing
        last = _read_epochs_or_none(spark, f"{state_dir}/last", F.col("epoch") < epoch_id)
        seeds = None if last is None else _last_events(last)
        if seeds is not None:
            fr = seeds.select(
                qcol(entity_col),
                F.struct(*ocols).alias("__frontier"),
            )
            ev = (
                ev.join(fr, [entity_col], "left")
                .where(
                    F.col("__frontier").isNull()
                    | (F.struct(*ocols) > F.col("__frontier"))
                )
                .drop("__frontier")
            )
            if track_meta:
                ev = ev.persist()
                late_dropped = nn.count() - ev.count()
            else:
                late_dropped = None
            union = ev.withColumn("__seed", F.lit(False)).unionByName(
                seeds.withColumn("__seed", F.lit(True))
            )
        else:
            late_dropped = 0 if track_meta else None
            union = ev.withColumn("__seed", F.lit(False))
        w = Window.partitionBy(qcol(entity_col)).orderBy(*ocols)
        seq = union.withColumn("__prev", F.lag(qcol(item_col)).over(w))
        pairs = (
            # the seed can only be each entity's FIRST row (survivors are
            # strictly after the frontier), so no pair's current row is a
            # seed — the filter below is belt-and-braces for the degenerate
            # all-replay batch where the seed is the only row
            seq.where(F.col("__prev").isNotNull() & ~F.col("__seed"))
            .groupBy(
                F.col("__prev").alias("prev_item"),
                qcol(item_col).alias("next_item"),
            )
            .agg(F.count("*").alias("n"))
        )
        _write_epoch_state(pairs, f"{state_dir}/pairs", epoch_id)
        _write_epoch_state(_last_events(ev), f"{state_dir}/last", epoch_id)
        if track_meta:
            meta = spark.createDataFrame(
                [(int(late_dropped), int(null_dropped))],
                "late_dropped long, null_dropped long",
            )
            _write_epoch_state(meta, f"{state_dir}/meta", epoch_id)
            nn.unpersist()
            if ev is not nn:
                ev.unpersist()

    return _process


def read_transition_meta(spark: SparkSession, state_dir: str) -> DataFrame:
    """Fold the per-epoch drop counters into ONE observability row:
    ``(late_dropped, null_dropped)`` totals across all epochs. Non-zero
    ``late_dropped`` means genuinely-late events time-traveled behind
    their entity's frontier and were excluded from the transition counts
    (the documented watermark-style trade); ``null_dropped`` counts rows
    rejected by the non-null order-key contract."""
    return _read_epochs(spark, f"{state_dir}/meta").agg(
        F.sum("late_dropped").alias("late_dropped"),
        F.sum("null_dropped").alias("null_dropped"),
    )


def read_transition_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Fold an epoch-partitioned transition-state directory into ONE
    ``(prev_item, next_item, n)`` pair-count frame — the sum-fold over the
    per-epoch counts. Feed it to the same normalize-and-rank tail the
    batch ``item_transition_matrix`` entry uses (prob = n / row_total)."""
    pairs = _read_epochs(spark, f"{state_dir}/pairs")
    return pairs.groupBy("prev_item", "next_item").agg(F.sum("n").alias("n"))


def bm25_index_stream(
    index_dir: str,
    id_col: str,
    text_col: str,
):
    """ST9 × lexical retrieval: streaming maintenance of the BM25 inverted
    index (the ``bm25_doc_search`` batch analytic; reference analog: the
    incremental index updates, src/serving/retrieval.py:199-226). The
    sufficient statistic folds exactly like the CMS/HLL/Markov sinks:

    * ``postings/epoch=N`` — (term, doc_id, tf): the epoch's inverted-index
      increments (term → df is the per-term doc count of the fold);
    * ``doclen/epoch=N`` — (doc_id, dl): per-doc token lengths (corpus N
      and Σdl are one tiny aggregate over the fold).

    Each micro-batch tokenizes ONLY its own documents (lowercased
    whitespace tokens — functions/text.tokens, the exact batch tokenizer);
    the raw stream is never rescanned and scoring any query replays the
    batch expression over a term-pruned slice of the fold.

    Idempotency is the strong HLL kind, not just overwrite: a document's
    (tf, dl) stats are a pure function of its text, so the fold reads
    ``max(tf)`` / ``max(dl)`` per (term, doc) / doc — the SAME document
    re-delivered under a DIFFERENT epoch id cannot move any score
    (at-least-once replay of any stream prefix is a no-op; replaying an
    epoch additionally overwrites its own partitions, the sibling sinks'
    contract). Contract: documents are IMMUTABLE and ``id_col`` unique per
    document — an edited doc re-sent under the same id folds max-wise, not
    last-write. Edits/takedowns go through the tombstone path
    (``bm25_tombstone_stream`` + ``bm25_purge_tombstones``), same as every
    append-only lexical index.

    State size: ``postings/epoch=N`` is bounded by the epoch's distinct
    (term, doc) pairs, ``doclen/epoch=N`` by its documents — both
    compactable at any time by rewriting their max-folds (max is
    associative, commutative, idempotent)."""
    from real_time_recommendation_system_with_feature_store_spark.functions.text import tokens
    from real_time_recommendation_system_with_feature_store_spark.ident import qcol

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        # null doc id would fold every anonymous doc into ONE phantom
        # document (postings/doclen key on it) — same contract as the
        # Markov sink's non-null order key: reject up front.
        # dropDuplicates: the strong-idempotency claim covers CROSS-epoch
        # redelivery (max-fold absorbs it); a duplicate doc_id INSIDE one
        # micro-batch would double tf/dl before the epoch write and the
        # max-fold would then keep the inflated values forever — dedup up
        # front (documents are immutable per id, so any same-id row
        # carries the same text and the pick is immaterial), the same
        # guard the Markov sink applies.
        docs = (
            batch_df.where(qcol(text_col).isNotNull() & qcol(id_col).isNotNull())
            .select(qcol(id_col).alias("doc_id"), qcol(text_col).alias("__text"))
            .dropDuplicates(["doc_id"])
        )
        toks = docs.select(
            "doc_id",
            F.explode(
                F.transform(tokens(F.col("__text")), lambda t: F.lower(t))
            ).alias("term"),
        )
        postings = toks.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
        doclen = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
        _write_epoch_state(postings, f"{index_dir}/postings", epoch_id)
        _write_epoch_state(doclen, f"{index_dir}/doclen", epoch_id)

    return _process


def bm25_tombstone_stream(index_dir: str, id_col: str):
    """Takedown/edit path for the append-only BM25 index (the lifecycle
    piece the max-fold contract cannot express — an edited doc re-sent
    under the same id folds max-wise, not last-write; reference analog:
    the mocked item updates, src/streaming/kafka_consumer.py:333-350).
    Each micro-batch writes its distinct non-null doc_ids under
    ``deletes/epoch=N``; ``read_bm25_index`` anti-joins the tombstone
    fold out of BOTH frames, so tombstoned docs stop scoring AND leave
    the corpus statistics (N, Σdl, df) exactly as if never indexed.

    Set semantics make the fold strongly idempotent: re-delivering a
    tombstone under a new epoch id is a no-op, an epoch replay overwrites
    its own partition. A tombstone hides EVERY past and FUTURE posting of
    that doc_id — re-indexing an edited document therefore uses a NEW
    doc_id, or runs ``bm25_purge_tombstones`` first (which physically
    drops the dead postings and clears the tombstones, releasing the id
    for reuse)."""
    from real_time_recommendation_system_with_feature_store_spark.ident import qcol

    def _ids(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.where(qcol(id_col).isNotNull())
            .select(qcol(id_col).alias("doc_id"))
            .distinct()
        )

    return _epoch_sink(f"{index_dir}/deletes", _ids)


def read_bm25_index(spark: SparkSession, index_dir: str) -> tuple[DataFrame, DataFrame]:
    """Fold an epoch-partitioned BM25 index into its two live frames:
    ``postings`` (term, doc_id, tf) and ``doclen`` (doc_id, dl). Max-folds
    — see ``bm25_index_stream`` for why max makes cross-epoch duplicates
    free. Tombstoned doc_ids (``bm25_tombstone_stream``) anti-join out of
    both frames; the tombstone set is usually tiny relative to the corpus,
    so the anti-joins broadcast."""
    postings = (
        _read_epochs(spark, f"{index_dir}/postings")
        .groupBy("term", "doc_id")
        .agg(F.max("tf").alias("tf"))
    )
    doclen = (
        _read_epochs(spark, f"{index_dir}/doclen")
        .groupBy("doc_id")
        .agg(F.max("dl").alias("dl"))
    )
    deletes = f"{index_dir}/deletes"
    return (
        _drop_tombstoned(spark, deletes, postings, "doc_id"),
        _drop_tombstoned(spark, deletes, doclen, "doc_id"),
    )


def bm25_purge_tombstones(spark: SparkSession, index_dir: str) -> None:
    """Make the tombstones physical: compact postings/doclen to their
    live (tombstone-applied) folds, then drop the ``deletes/`` directory —
    after this, a tombstoned doc_id is reusable (re-indexing it is a
    fresh add). ``compact_epoch_state``'s contract applies verbatim:
    stream stopped, no readers in flight. A purge interrupted by a crash
    is finished by running it again (``_purge_tombstones``)."""
    _purge_tombstones(
        _StateFs(spark),
        "bm25_purge_tombstones",
        f"{index_dir}/deletes",
        [
            (lambda: read_bm25_index(spark, index_dir)[0], f"{index_dir}/postings", None),
            (lambda: read_bm25_index(spark, index_dir)[1], f"{index_dir}/doclen", None),
        ],
    )


def _purge_tombstones(
    fs: _StateFs,
    who: str,
    deletes_dir: str,
    compactions: list[tuple[Callable[[], DataFrame], str, list[str] | None]],
) -> None:
    """The shape of every tombstone purge: compact each ``(fold, rows_dir,
    partition_by)`` to its live fold, then drop the tombstone set. The
    purge is its own recovery: an interrupted compaction of a rows
    directory is finished first, and the live folds are built only after
    that, so a purge cut by a crash at any step completes when run again
    (its tombstones are dropped last)."""
    if not fs.exists(deletes_dir):
        raise ValueError(
            f"{who}: no tombstones under {deletes_dir} — nothing to purge "
            "(plain compaction is compact_epoch_state)"
        )
    for _, rows_dir, _ in compactions:
        _recover_swap(fs, _compact_swap(rows_dir))
    folds = [(fold(), rows_dir, by) for fold, rows_dir, by in compactions]
    for folded, rows_dir, by in folds:
        compact_epoch_state(folded, rows_dir, partition_by=by)
    fs.delete(deletes_dir)


def bm25_score_from_index(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score every indexed document against ``terms`` with Okapi BM25
    (Lucene idf, the ``queries._bm25_scored`` constants) from the folded
    streaming index — exact batch parity: tf/df/dl/N are integers, the
    score sums its per-term contributions in the SAME fixed expression
    order, and a tf=0 term contributes exactly +0.0, so the stream-side
    left-join-coalesce path produces bit-identical doubles to the batch
    conditional-agg path (parity-tested over time-sliced micro-batches).

    Scale: the postings read is term-pruned (predicate pushdown on the
    query's terms — the only rows that leave the index are the query's
    postings lists), the matched postings pivot to per-doc tf columns in
    ONE conditional aggregation + ONE left join onto doclen (the batch
    scorer's shape — plan size is O(1) in query length, where a per-term
    join loop would compile one join per term and blow up the analyzer
    on long queries), and df/N/Σdl reduce to ONE broadcast row. The
    per-doc frame is consumed twice (stats reduce + final projection),
    so it snapshots via localCheckpoint — the pq_topk pattern — instead
    of re-running the postings scan and join per consumer. Returns
    (doc_id, score) rounded half-up to 6.

    ``terms`` must be non-empty and duplicate-free (a repeated term would
    double-count its contribution — the batch scorer's query is a set);
    terms are matched as stored, i.e. lowercased."""
    terms = list(terms)
    if not terms:
        raise ValueError("bm25_score_from_index: empty query terms")
    if len(set(terms)) != len(terms):
        raise ValueError(
            f"bm25_score_from_index: duplicate query terms {sorted(terms)} "
            "would double-count their score contributions"
        )
    postings, doclen = read_bm25_index(spark, index_dir)
    qp = postings.where(F.col("term").isin(list(terms)))
    # pivot the ≤len(terms) matched posting lists to per-doc tf columns:
    # integer conditional sums, so tf values are exactly the stored ones
    tfs = qp.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("term") == t, F.col("tf")).otherwise(0)).alias(
                f"tf{i}"
            )
            for i, t in enumerate(terms)
        ]
    )
    from real_time_recommendation_system_with_feature_store_spark.plans.inspect import gated_broadcast

    per_doc = (
        # tfs is bounded by the query terms' posting lists (slim for
        # selective terms) while doclen is corpus-sized — but a STOPWORD
        # query term makes tfs corpus-sized too, so the hint is stats-
        # gated on the term-pruned postings read (a sanely-estimated
        # bounding child) and falls back to a shuffled join when the
        # posting lists outgrow the broadcast budget
        doclen.join(gated_broadcast(tfs, gate_df=qp), "doc_id", "left")
        .select(
            "doc_id",
            "dl",
            *[
                F.coalesce(F.col(f"tf{i}"), F.lit(0)).alias(f"tf{i}")
                for i in range(len(terms))
            ],
        )
        .localCheckpoint(eager=True)
    )
    st = per_doc.agg(
        F.count("*").alias("n"),
        F.sum("dl").alias("sumdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(len(terms))
        ],
    )
    joined = per_doc.crossJoin(F.broadcast(st))
    avgdl = F.col("sumdl").cast("double") / F.col("n")
    norm_len = F.lit(1.0) - F.lit(b) + F.lit(b) * (
        F.col("dl").cast("double") / avgdl
    )
    score = None
    for i in range(len(terms)):
        idf = F.log(
            (F.col("n") - F.col(f"df{i}") + F.lit(0.5))
            / (F.col(f"df{i}") + F.lit(0.5))
            + F.lit(1.0)
        )
        part = idf * (F.col(f"tf{i}") * F.lit(k1 + 1.0)) / (
            F.col(f"tf{i}") + F.lit(k1) * norm_len
        )
        score = part if score is None else score + part
    return joined.select("doc_id", F.round(score, 6).alias("score"))


def ivf_index_stream(
    index_dir: str,
    id_col: str,
    vec_col: str,
    centroids: DataFrame,
):
    """ST9 × vector retrieval: streaming maintenance of the IVF-ANN index —
    the reference's faiss train-once / ``index.add``-incrementally split
    (src/serving/retrieval.py:88-139, the incremental index updates at
    :199-226). The coarse quantizer (``operators/knn.ivf_build_centroids``)
    is a FROZEN model written once under ``centroids/`` at sink creation;
    each micro-batch l2-normalizes its vectors, assigns them to their
    nearest centroid (broadcast ≤n_cells frame — one map-side pass, no
    shuffle of the vector stream), and writes ``cells/epoch=N/__cell=C``
    partitions. The live index is the fold over epochs;
    ``ivf_search_from_index`` probes it reading ONLY the probed cells'
    partitions (partition-pruned — the 100 TB design point: a query
    touches n_probe/n_cells of the stored vectors, never the corpus).

    Idempotency is the strong kind: a vector's cell assignment is a pure
    function of (vector, frozen centroids), so the fold's per-id dedup
    absorbs the SAME vector re-delivered under a DIFFERENT epoch id
    (at-least-once replay of any prefix is a no-op; replaying an epoch id
    additionally overwrites its own partitions, the sibling sinks'
    contract). Contract: vectors are immutable per id — like every
    append-only ANN index, an EDITED/removed vector goes through the
    tombstone path (``vector_tombstone_stream`` +
    ``purge_vector_tombstones``), and centroid refresh (model drift) is a
    rebuild, exactly as faiss retrains.

    The frozen-quantizer trade (documented, not hidden): incremental adds
    never move centroids, so recall degrades if the embedding
    distribution drifts far from the training sample — the same trade the
    reference's serving index makes between retrains."""
    from real_time_recommendation_system_with_feature_store_spark.ident import qcol
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import _assign_cells
    from real_time_recommendation_system_with_feature_store_spark.functions.vectors import l2_normalize

    # eager materialization (≤ n_cells rows) BEFORE the overwrite: a sink
    # restarted on an existing index naturally passes
    # spark.read.parquet(f"{index_dir}/centroids") back in, and a lazy
    # frame would then be overwriting its own input files mid-read
    cents = centroids.select("__cell", "__cv").localCheckpoint(eager=True)
    cents.write.mode("overwrite").parquet(f"{index_dir}/centroids")

    def _assigned(batch_df: DataFrame) -> DataFrame:
        frozen = batch_df.sparkSession.read.parquet(f"{index_dir}/centroids")
        # null id/vector rows have no index position (same non-null-key
        # contract as the BM25/Markov sinks)
        it = batch_df.where(
            qcol(vec_col).isNotNull() & qcol(id_col).isNotNull()
        ).select(
            qcol(id_col).alias("__iid"),
            l2_normalize(qcol(vec_col)).alias("__iv"),
        )
        return _assign_cells(it, frozen)

    return _epoch_sink(f"{index_dir}/cells", _assigned, partition_by=["__cell"])


def ivf_search_from_index(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    query_id: str,
    query_vec: str = "embedding",
    item_id: str = "vec_id",
    k: int = 10,
    n_probe: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """Probe the streaming-built IVF index: per query, score only the
    ``n_probe`` nearest cells' stored vectors through the batch search
    tail (``knn._ivf_probes``/``knn._ivf_search``, which
    ``ivf_topk(kernel="expr")`` runs on a fresh build), so a stream-built
    index over the same corpus returns the SAME rows (parity-tested). The
    union of probed cells is collected driver-side (≤ n_cells scalars —
    the sanctioned stats-gate collect) and pushed as an IN filter so the
    parquet read prunes to the probed ``__cell=`` partitions before the
    epoch fold."""
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import (
        _ivf_probes,
        _ivf_search,
        _require_positive,
    )

    _require_positive("ivf_search_from_index", k=k, n_probe=n_probe)
    cents = spark.read.parquet(f"{index_dir}/centroids")
    probes = _ivf_probes(queries, query_id, query_vec, cents, n_probe)
    probed_cells = [r["__cell"] for r in probes.select("__cell").distinct().collect()]
    cells = _live_rows(
        spark, index_dir, f"{index_dir}/cells", where=F.col("__cell").isin(probed_cells)
    )
    return _ivf_search(
        cells, probes, queries.select(query_id, query_vec), query_id, item_id, k, exclude_self
    )


class _StateFs:
    """The one door from the state lifecycle to storage: a few py4j calls
    on ``org.apache.hadoop.fs.FileSystem``, resolved per path the way
    Spark's own readers and writers resolve it, so every protocol below
    holds on any Hadoop URI (a plain path, ``file://``, ``hdfs://``,
    ``s3a://``). ``epoch_ids`` is the only parser of ``name=N`` entries.
    The protocols take the session's filesystem from their caller's
    session; the recovery calls, which take no session, use the active
    one."""

    _FLOOR = ".compacted.floor"

    def __init__(self, spark: SparkSession | None = None) -> None:
        self.spark = spark or SparkSession.active()
        self._jvm = self.spark._jvm
        self._conf = self.spark._jsc.hadoopConfiguration()

    def _resolve(self, path: str):
        p = self._jvm.org.apache.hadoop.fs.Path(path)
        return p.getFileSystem(self._conf), p

    def _raw(self, path: str):
        """The filesystem under any checksum layer: the floor marker is
        read and written without a ``.crc`` sidecar, because a marker
        written by hand next to a stale sidecar would fail verification."""
        fs, p = self._resolve(path)
        if is_instance_of(
            self.spark.sparkContext._gateway, fs, "org.apache.hadoop.fs.ChecksumFileSystem"
        ):
            fs = fs.getRawFileSystem()
        return fs, p

    def exists(self, path: str) -> bool:
        fs, p = self._resolve(path)
        return bool(fs.exists(p))

    def epoch_ids(self, path: str, prefix: str = "epoch") -> list[int]:
        """The sorted ids N of the ``{prefix}=N`` entries directly under
        ``path`` (none when ``path`` does not exist)."""
        fs, p = self._resolve(path)
        if not fs.exists(p):
            return []
        names = (str(st.getPath().getName()).rsplit("=", 1) for st in fs.listStatus(p))
        return sorted(
            int(n[1]) for n in names if len(n) == 2 and n[0] == prefix and n[1].isdigit()
        )

    def find_ready(self, root: str, kind: str) -> int | None:
        """The target id of a ``.{kind}.ready.epoch=N`` directory under
        ``root``, or ``None`` when no staged swap awaits its finish."""
        ids = self.epoch_ids(root, f".{kind}.ready.epoch")
        return ids[0] if ids else None

    def rename(self, src: str, dst: str) -> None:
        """Move ``src`` to the NEW path ``dst``. Hadoop's rename moves a
        directory INSIDE an existing destination and reports success, so
        an existing ``dst`` raises here; so does a rename the store
        refuses."""
        fs, s = self._resolve(src)
        d = self._jvm.org.apache.hadoop.fs.Path(dst)
        if fs.exists(d):
            raise FileExistsError(f"rename {src} -> {dst}: destination exists")
        if not fs.rename(s, d):
            raise OSError(f"rename {src} -> {dst} failed")

    def delete(self, path: str) -> None:
        """Delete ``path`` recursively; a missing path is a no-op, a
        delete the store refuses raises."""
        fs, p = self._resolve(path)
        if not fs.delete(p, True) and fs.exists(p):
            raise OSError(f"delete {path} failed")

    def read_floor(self, state_dir: str) -> int | None:
        """The highest epoch id ever folded into a compaction of this
        state directory (``None`` before the first one). Epoch ids at or
        below the floor are FINALIZED: their partitions were deleted and
        their contributions live only inside the compacted fold, so a
        replay landing there would either overwrite the fold (id ==
        floor) or double-count at the next fold (id < floor). One
        ``exists`` per call while no marker exists: this runs on every
        epoch write."""
        marker = f"{state_dir}/{self._FLOOR}"
        if not self.exists(marker):
            return None
        fs, p = self._raw(marker)
        stream = fs.open(p)
        try:
            return int(bytes(stream.readAllBytes()).decode().strip())
        finally:
            stream.close()

    def write_floor(self, state_dir: str, target: int) -> None:
        """Raise the floor marker to ``target``; it never moves down, so
        re-entering a finish rewrites it harmlessly."""
        prev = self.read_floor(state_dir)
        fs, marker = self._raw(f"{state_dir}/{self._FLOOR}")
        tmp = self._jvm.org.apache.hadoop.fs.Path(f"{state_dir}/{self._FLOOR}.tmp")
        out = fs.create(tmp, True)
        try:
            out.write(str(max(target, prev if prev is not None else target)).encode())
        finally:
            out.close()
        # a POSIX rename(2) replaces the old marker atomically; a store
        # whose rename refuses an existing file (HDFS) takes FileContext's
        # OVERWRITE rename, which that store performs atomically (on a
        # local path it would delete, then rename)
        if not fs.rename(tmp, marker):
            opt = getattr(self._jvm.org.apache.hadoop.fs, "Options$Rename")
            opts = self.spark.sparkContext._gateway.new_array(opt, 1)
            opts[0] = opt.OVERWRITE
            fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri(), self._conf)
            fc.rename(fs.makeQualified(tmp), fs.makeQualified(marker), opts)


class _Swap(NamedTuple):
    """The layout one finalize protocol swaps. Its staging dir is
    ``root/.{kind}.tmp``, renamed to ``root/.{kind}.ready.epoch=N`` once
    complete. ``rows`` pairs each epoch-partitioned live directory with
    its staged subdirectory (``""``: the ready directory itself), which
    lands as ``epoch=N``; ``models`` pairs each live directory replaced
    whole with its staged subdirectory; ``clear`` lists the directories
    the staged state already folded in (tombstone sets). ``who`` and
    ``recover`` name the operation and its recovery call in errors."""

    root: str
    kind: str
    rows: tuple[tuple[str, str], ...]
    models: tuple[tuple[str, str], ...]
    clear: tuple[str, ...]
    who: str
    recover: str


def _staged_swap(fs: _StateFs, swap: _Swap, stage: Callable[[str], None]) -> int:
    """Finalize a state layout crash-safely: refuse leftovers of an
    interrupted run, take the target id (the max epoch of the rows
    directories, so every FUTURE epoch stays monotone), let ``stage``
    fully materialize the new state under the tmp path, commit it with
    one rename to ``.{kind}.ready.epoch=<target>`` (the target id travels
    in the name), then finish. A crash before the commit leaves a
    discardable tmp; after it, the complete new state is in the ready
    directory and ``_recover_swap`` re-enters the finish from any prefix.
    Returns the target id."""
    tmp = f"{swap.root}/.{swap.kind}.tmp"
    if fs.find_ready(swap.root, swap.kind) is not None or fs.exists(tmp):
        raise RuntimeError(
            f"{swap.who}: leftover {swap.kind} state under {swap.root} from an "
            f"interrupted run — call {swap.recover} first, then REBUILD any "
            "fold from the recovered directory (a fold built over half-deleted "
            "epochs would be partial)"
        )
    epochs = [e for live, _ in swap.rows for e in fs.epoch_ids(live)]
    if not epochs:
        raise ValueError(
            f"{swap.who}: no epoch partitions under {' or '.join(d for d, _ in swap.rows)}"
        )
    target = max(epochs)
    stage(tmp)
    fs.rename(tmp, f"{swap.root}/.{swap.kind}.ready.epoch={target}")
    _finish_swap(fs, swap, target)
    return target


def _finish_swap(fs: _StateFs, swap: _Swap, target: int) -> None:
    """Move a committed swap into place. Idempotent by construction: each
    step keys on what still exists under the ready directory, so recovery
    can re-enter after a crash at any point. The swap finalizes row-epoch
    history (old epochs deleted, everything under ``epoch=<target>``), so
    each rows directory gets the late-epoch floor; the final floor write
    is unconditional (max-fold) so that a re-entry still lands it."""
    ready = f"{swap.root}/.{swap.kind}.ready.epoch={target}"
    for live, sub in swap.models:
        if fs.exists(f"{ready}/{sub}"):
            fs.delete(live)
            fs.rename(f"{ready}/{sub}", live)
    for live, sub in swap.rows:
        staged = f"{ready}/{sub}" if sub else ready
        if not fs.exists(staged):
            continue
        if not sub:
            # the rename below consumes the ready dir itself, leaving no
            # ready dir for a recovery to re-enter, so the floor lands
            # first: ids <= target are final from the commit on, whenever
            # the epoch deletions land
            fs.write_floor(live, target)
        for e in fs.epoch_ids(live):
            fs.delete(f"{live}/epoch={e}")
        fs.rename(staged, f"{live}/epoch={target}")
    for d in swap.clear:
        fs.delete(d)
    for live, _ in swap.rows:
        fs.write_floor(live, target)
    fs.delete(ready)


def _recover_swap(fs: _StateFs, swap: _Swap) -> bool:
    """Finish a committed swap or discard an uncommitted one (see
    ``_staged_swap``). The run-recovery-FIRST ordering is enforced: an
    epoch NEWER than the ready target means a sink wrote past the crash
    before recovery ran, and finishing would delete it — that raises
    instead. Returns True when it changed anything."""
    changed = False
    target = fs.find_ready(swap.root, swap.kind)
    if target is not None:
        newer = sorted(e for live, _ in swap.rows for e in fs.epoch_ids(live) if e > target)
        if newer:
            raise RuntimeError(
                f"{swap.recover}: epochs {newer} under "
                f"{' or '.join(d for d, _ in swap.rows)} are NEWER than the "
                f"interrupted {swap.kind}'s target epoch={target} — a sink "
                "wrote past the crash before recovery ran, and the staged "
                "state never folded them. Finishing would delete them; move "
                "them aside deliberately, or discard the ready dir and run "
                f"the {swap.kind} again."
            )
        _finish_swap(fs, swap, target)
        changed = True
    tmp = f"{swap.root}/.{swap.kind}.tmp"
    if fs.exists(tmp):
        fs.delete(tmp)
        changed = True
    return changed


def _compact_swap(state_dir: str) -> _Swap:
    return _Swap(
        state_dir, "compact", ((state_dir, ""),), (), (),
        "compact_epoch_state", "recover_epoch_state(state_dir)",
    )


def compact_epoch_state(
    folded: DataFrame,
    state_dir: str,
    partition_by: list[str] | None = None,
) -> int:
    """Rewrite an epoch-partitioned state directory as ONE compacted epoch
    holding the given fold — the operation every sink docstring promises
    ("compactable at any time by rewriting the fold"). Pass the matching
    read-side fold (``read_cms_sketch``, ``read_bm25_index``'s frames,
    ``read_transition_state`` …, each of which drops the epoch column);
    the fold is fully MATERIALIZED into a temp directory before any
    source partition is deleted, then renamed to ``epoch=<max old id>``
    so the sinks' strictly-monotone epoch arithmetic (e.g. the Markov
    frontier's ``epoch < current``) keeps working for every FUTURE epoch.

    Contract: run only while the stream is stopped, only when the
    checkpoint's committed offset is past every folded epoch, AND with no
    fold-readers in flight — between the epoch deletions and the final
    rename a concurrent ``read_*`` sees partial state (an empty or
    single-epoch directory), so reads must drain before compacting, the
    same way they must for any non-atomic multi-directory rewrite.
    Compaction finalizes history: an epoch-id replay of a pre-compaction
    epoch is no longer byte-exact (its partition is gone; for the
    sum-folds it would double-count, for the max-folds it is absorbed).
    This is the standard log-compaction trade; the per-epoch partitions
    exist precisely so the operator chooses when to pay it.

    Crash safety (every window covered, none silent) is ``_staged_swap``'s:
    the fold materializes into ``.compact.tmp``, is renamed to
    ``.compact.ready.epoch=<id>``, and the compacted floor lands before
    any source epoch is deleted. A crash before the ready-rename leaves a
    discardable tmp; a crash after it leaves a complete fold plus
    possibly-partial epochs — ``recover_epoch_state`` finishes either
    case, and THIS function refuses to run while leftovers exist
    (compacting over a half-deleted directory would silently fold partial
    state: the caller's ``folded`` frame must be rebuilt AFTER recovery).
    Returns the epoch id the compacted state landed under."""
    writer = folded.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    return _staged_swap(_StateFs(folded.sparkSession), _compact_swap(state_dir), writer.parquet)


# the floor marker's module-level spellings, kept for callers that hold no
# _StateFs (the lifecycle tests stage crash windows through them)
def _compacted_floor(state_dir: str) -> int | None:
    return _StateFs().read_floor(state_dir)


def _write_compacted_floor(state_dir: str, target: int) -> None:
    _StateFs().write_floor(state_dir, target)


def _route_late_epoch(
    state_dir: str,
    epoch_id: int,
    collapsed: DataFrame,
    partition_by: list[str] | None = None,
) -> bool:
    """Late-epoch dead-letter guard of every state sink: it runs on each
    ``_write_epoch_state`` call (the uniform upgrade over the reference's
    ignore-late-data behavior, ST6). A batch arriving for an epoch id AT
    OR BELOW the compacted floor must not land under ``epoch=N`` —
    ``id == floor`` would overwrite the compacted fold itself, ``id <
    floor`` would double-count at the next fold (its original partition
    is gone, its contribution already lives in the fold). Instead the
    collapsed frame is preserved under ``.late/epoch=N`` (dot-prefixed:
    invisible to every ``read_*`` fold) and a per-epoch meta row records
    the dropped row count, like the Markov sink's ``late_dropped``.
    Returns True when the batch was dead-lettered.

    This also catches the fresh-checkpoint footgun: restarting a stream
    over compacted state with a NEW checkpoint restarts epoch ids at 0 —
    previously those batches silently merged under already-finalized
    ids. They now land in the dead letter, loud in ``read_late_epochs``;
    recover by restarting with the original checkpoint (the supported
    contract) or by replaying the dead-lettered frames under fresh ids.

    An epoch-id replay ABOVE the floor keeps the sinks' normal replay
    contract (overwrite-own-partition); the floor only finalizes what
    compaction already made unreplayable. The dead letter follows the
    same contract: a second late batch for the SAME epoch id overwrites
    the first's preserved frame (and its meta row) — exactly-once replay
    of one checkpoint generation is preserved verbatim, but two distinct
    fresh-checkpoint generations colliding on an id keep only the
    latest; drain the dead letter before restarting yet another
    generation.

    The preserved frame is written with the SINK'S OWN ``partition_by``
    (threaded from ``_write_epoch_state``): ``replay_late_epochs`` moves
    it under ``epoch=<fresh>`` by rename, so the dead-letter layout must
    be byte-compatible with a normal epoch partition — a sink whose
    epochs are ``partitionBy('__cell')`` (the IVF cell sink) getting an
    unpartitioned frame renamed in would break partition discovery for
    the whole dataset. The meta row also records whether the ORIGINAL
    ``epoch=N`` partition still existed at dead-letter time
    (``orig_existed``): that is the crash-window signature — compaction
    committed (ready + floor) but crashed before deleting old epochs, a
    same-checkpoint restart replays id N, and recovery will fold the
    still-present original partition. Such a frame is a TRUE DUPLICATE
    of folded data; ``replay_late_epochs`` refuses it by default. After
    a COMPLETED compaction the fold itself lives at ``epoch=<floor>``,
    so a bare existence check would false-positive on id == floor — the
    flag therefore requires the dir to be a lingering ORIGINAL: either
    id < floor (originals below the floor only survive mid-crash), or
    the ``.compact.ready`` marker is still present (the rename that
    retires originals hasn't happened yet)."""
    spark = collapsed.sparkSession
    fs = _StateFs(spark)
    floor = fs.read_floor(state_dir)
    if floor is None or epoch_id > floor:
        return False
    orig_existed = fs.exists(f"{state_dir}/epoch={epoch_id}") and (
        epoch_id < floor or fs.find_ready(state_dir, "compact") is not None
    )
    w = collapsed.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(f"{state_dir}/.late/epoch={epoch_id}")
    n = spark.read.parquet(f"{state_dir}/.late/epoch={epoch_id}").count()
    # epoch travels in the partition dir name (the sinks' own layout);
    # storing it as a data column too would collide at partition discovery
    spark.createDataFrame(
        [(int(floor), int(n), bool(orig_existed))],
        "floor long, late_rows long, orig_existed boolean",
    ).write.mode("overwrite").parquet(f"{state_dir}/.late_meta/epoch={epoch_id}")
    return True


def _write_epoch_state(
    df: DataFrame,
    state_dir: str,
    epoch_id: int,
    partition_by: list[str] | None = None,
) -> bool:
    """THE epoch-partition write path for every state sink: land ``df``
    under ``epoch=N`` with overwrite (the replay contract — a replayed
    epoch rewrites exactly its own output) UNLESS compaction already
    finalized that id for this directory, in which case the batch is
    dead-lettered (``_route_late_epoch``). Per-DIRECTORY by design:
    compaction finalizes each state directory independently (e.g. a BM25
    purge compacts postings/ and doclen/ but not a sibling pairs/ dir),
    so a multi-directory sink's batch may legitimately land in one
    directory and dead-letter in another — each directory's fold
    stays correct on its own. Returns True when written, False when
    dead-lettered.

    The tombstone sinks write through it too, but the guard never fires
    there: purge and retrain remove their ``deletes``/``.deletes`` sets
    whole, so no floor marker ever exists under them, and their
    protection remains the purge contract ("run past the committed
    offset")."""
    if _route_late_epoch(state_dir, epoch_id, df, partition_by=partition_by):
        return False
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(f"{state_dir}/epoch={epoch_id}")
    return True


def _epoch_sink(
    state_dir: str,
    build: Callable[[DataFrame], DataFrame],
    partition_by: list[str] | None = None,
):
    """The foreachBatch processor of a one-directory state sink: land
    ``build(batch_df)`` under ``state_dir`` through ``_write_epoch_state``."""

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        _write_epoch_state(build(batch_df), state_dir, epoch_id, partition_by=partition_by)

    return _sink


def _read_epochs(
    spark: SparkSession, state_dir: str, where: Column | None = None
) -> DataFrame:
    """Every epoch of a state directory as one frame, with the ``epoch``
    partition column dropped. ``where`` applies before the drop, so a
    predicate on a partition column (``epoch``, the IVF ``__cell``)
    prunes the listing."""
    df = spark.read.parquet(state_dir)
    if where is not None:
        df = df.where(where)
    return df.drop("epoch")


def _read_epochs_or_none(
    spark: SparkSession, state_dir: str, where: Column | None = None
) -> DataFrame | None:
    """``_read_epochs``, or ``None`` while the directory holds no state.
    A sink reading its own earlier state passes ``epoch != id`` or
    ``epoch < id`` so that a replayed epoch never reads its own partial
    write. A failed parquet read (missing path, no files yet) is the
    existence probe: it works on local disk and on s3/hdfs alike, where
    a driver-local os.path check would miss remote filesystems."""
    from pyspark.errors import AnalysisException

    try:
        return _read_epochs(spark, state_dir, where)
    except AnalysisException:
        return None


def _drop_tombstoned(
    spark: SparkSession,
    deletes_dir: str,
    frame: DataFrame,
    id_col: str = "__iid",
    on: tuple[str, ...] = (),
) -> DataFrame:
    """Anti-join the tombstone set under ``deletes_dir`` (if any) out of
    ``frame``. A row survives only while none of its ``on`` columns
    (default: ``id_col`` itself) holds a tombstoned ``id_col``. The set is
    usually tiny relative to the corpus, so the anti-join broadcasts. It
    is stats-gated on the un-deduped scan (a sane estimate), so an
    unpurged years-long takedown log falls back to a shuffled anti-join
    instead of an OOM."""
    if not _StateFs(spark).exists(deletes_dir):
        return frame
    from real_time_recommendation_system_with_feature_store_spark.plans.inspect import gated_broadcast

    raw_dead = spark.read.parquet(deletes_dir)
    dead = gated_broadcast(raw_dead.drop("epoch").distinct(), gate_df=raw_dead)
    for c in on or (id_col,):
        cond = id_col if c == id_col else F.col(c) == F.col(id_col)
        frame = frame.join(dead, cond, "left_anti")
    return frame


def _live_rows(
    spark: SparkSession,
    index_dir: str,
    rows_dir: str,
    key: tuple[str, ...] = ("__iid",),
    where: Column | None = None,
) -> DataFrame:
    """The live rows of an ANN index or of the semantic member table: every
    epoch under ``rows_dir``, deduplicated on ``key`` (the fold that
    absorbs redelivery under new epoch ids), minus the ids tombstoned
    under ``index_dir/.deletes``."""
    return _drop_tombstoned(
        spark,
        f"{index_dir}/.deletes",
        _read_epochs(spark, rows_dir, where).dropDuplicates(list(key)),
    )


def read_late_epochs(spark: SparkSession, state_dir: str) -> DataFrame:
    """Per-epoch dead-letter meta for a state sink's directory:
    one row (epoch, floor, late_rows) per dead-lettered batch — empty
    when nothing ever arrived late. The preserved frames themselves sit
    under ``.late/epoch=N`` in the sink's collapsed schema, replayable
    under fresh epoch ids after the operator resolves the checkpoint
    mismatch. ``orig_existed`` flags crash-window TRUE DUPLICATES — the
    original ``epoch=N`` partition still existed when the batch was
    dead-lettered, so its content is (or will be, via recovery) already
    inside the compacted fold; ``replay_late_epochs`` refuses those by
    default. NULL for meta written before the flag existed."""
    if not _StateFs(spark).epoch_ids(f"{state_dir}/.late_meta"):
        return spark.createDataFrame(
            [], "epoch long, floor long, late_rows long, orig_existed boolean"
        )
    meta = spark.read.option("mergeSchema", "true").parquet(
        f"{state_dir}/.late_meta"
    )
    if "orig_existed" not in meta.columns:
        meta = meta.withColumn("orig_existed", F.lit(None).cast("boolean"))
    return meta.select(
        F.col("epoch").cast("long"), "floor", "late_rows", "orig_existed"
    )


def replay_late_epochs(
    state_dir: str, include_duplicates: bool = False
) -> list[int]:
    """Requeue a directory's dead-lettered batches under FRESH epoch ids
    — the recovery half of the late-epoch guard, for the case where the
    dead-lettered data is genuinely new (a fresh-checkpoint restart, not
    a true replay of already-folded content; ``read_late_epochs`` +
    inspecting the frames is how the operator decides which).

    Each ``.late/epoch=K`` frame is the sink's ALREADY-COLLAPSED state
    layout, written with the sink's own ``partitionBy`` — exactly what a
    normal epoch partition holds — so replay is a rename: the frames
    land, in their original relative order, at consecutive ids starting
    past both the compacted floor and the highest existing epoch. For
    the order-free folds (sums, extrema min/max, distinct dsupp, join
    nets, sketch cells/registers) this is exact; for the epoch-ORDERED
    top-k slot composition it appends the dead-lettered batches after
    current history in their original order — the same semantics as
    those batches genuinely arriving late, which is what they did.

    Frames whose meta says ``orig_existed`` (the compaction crash
    window: the batch's original ``epoch=K`` partition was still on disk
    at dead-letter time, so recovery folds the original and this frame
    is a true duplicate of folded content) are REFUSED — left in the
    dead letter, not requeued — unless ``include_duplicates=True``
    (replaying one double-counts: sums twice, distinct supports
    inflated). Meta predating the flag replays as before.

    Run with the stream stopped (the new ids must stay below the ids the
    live checkpoint will assign next — restart the stream with a FRESH
    checkpoint afterwards, or its next epoch id may collide). Returns the
    new epoch ids, empty when no dead letter exists (or only refused
    duplicates remain)."""
    spark = SparkSession.active()
    fs = _StateFs(spark)
    lates = fs.epoch_ids(f"{state_dir}/.late")
    if lates and not include_duplicates:
        dups = {
            r["epoch"]
            for r in read_late_epochs(spark, state_dir).where("orig_existed").collect()
        }
        lates = [k for k in lates if k not in dups]
    if not lates:
        return []
    floor = fs.read_floor(state_dir)
    nxt = max([*fs.epoch_ids(state_dir), floor if floor is not None else -1]) + 1
    new_ids = []
    for k in lates:
        fs.rename(f"{state_dir}/.late/epoch={k}", f"{state_dir}/epoch={nxt}")
        fs.delete(f"{state_dir}/.late_meta/epoch={k}")
        new_ids.append(nxt)
        nxt += 1
    for d in (f"{state_dir}/.late", f"{state_dir}/.late_meta"):
        if not fs.epoch_ids(d):
            fs.delete(d)
    return new_ids


def recover_epoch_state(state_dir: str) -> bool:
    """Finish or discard a compaction interrupted by a crash — run this
    BEFORE building any fold over (or restarting any sink into) a state
    directory that may hold an interrupted ``compact_epoch_state``:

    * ``.compact.ready.epoch=<id>`` present: the fold was FULLY
      materialized and the target id travels in the dir name — finish
      the compaction (delete leftover epoch dirs, rename into place).
      This is the only complete copy when the crash hit mid-delete, so
      finishing is the lossless choice.
    * ``.compact.tmp`` present: the fold write itself crashed — the
      source epochs are all intact; discard the partial tmp.

    Returns True when it changed anything, False on a clean directory.
    Same stopped-stream / no-readers contract as ``compact_epoch_state``.
    The run-recovery-FIRST ordering is enforced, not just documented: if
    any epoch id NEWER than the ready fold's
    target exists (a sink was restarted over the crashed directory before
    recovery ran), finishing would delete post-crash epochs — that raises
    instead of silently destroying data; resolve by folding the newer
    epochs into a fresh compaction or moving them aside deliberately."""
    return _recover_swap(_StateFs(), _compact_swap(state_dir))


def decayed_count_stream(
    state_dir: str,
    key_col: str,
    ts_col: str,
    half_life: str = "7 days",
    anchor: str = "2024-01-01 00:00:00",
):
    """ST9 × trending: streaming maintenance of exponentially-decayed
    per-key event counts — the ``item_trending_scores`` batch analytic's
    decay weighting (functions/scalars.py decay; reference analog: the
    recency-weighted popularity the serving layer ranks by) kept as
    BOUNDED streaming state.

    The trick that makes decay mergeable: a decayed count at read time T,
    ``Σ 2^(-(T - ts_i)/hl)``, factors into ``2^(-(T - anchor)/hl) · Σ
    2^((ts_i - anchor)/hl)`` — the right-hand sum is a pure per-key SUM
    in a fixed numeraire (the anchor), independent of T and of arrival
    order, so each micro-batch folds its events into ONE row per active
    key (``w_sum``) and the live trending score for ANY read time is a
    scalar rescale of the sum-fold. No window state, no event retention:
    O(distinct keys) state for an unbounded stream, and reads never
    rescan raw events.

    Numeric bound (documented, not hidden): the numeraire grows as
    ``2^((ts - anchor)/hl)`` — doubles overflow past ~1023 half-lives
    after the anchor (~19 years at a 7-day half-life, ~2.8 years at 1
    day). Re-base during compaction with ``rebase_decayed_counts``:
    fold, multiply every ``w_sum`` by ``2^(-(new_anchor - old_anchor)/
    hl)``, write back with the new anchor (a scalar rescale — decayed
    scores are unchanged, exactly so when the anchor moves a whole
    number of half-lives, to 1-2 ulp otherwise).

    Replay contract: sum-fold, the CMS tier — a replayed epoch id
    overwrites its own partition (at-least-once safe); redelivery under a
    NEW epoch id double-counts, so upstream must be exactly-once per
    epoch id (the foreachBatch guarantee).

    Timezone contract: ``anchor`` (and the reader's ``at_ts``) are
    interpreted in UTC — the engine's sessions pin
    ``spark.sql.session.timeZone=UTC`` (session.get_spark), and
    ``read_decayed_counts`` parses with an explicit UTC offset. A
    non-UTC caller session would shift the sink-side anchor cast."""
    from real_time_recommendation_system_with_feature_store_spark.ident import qcol

    def _sums(batch_df: DataFrame) -> DataFrame:
        # cast timestamp -> double keeps fractional (micro)seconds;
        # unix_timestamp would truncate to whole seconds
        exponent = (
            qcol(ts_col).cast("timestamp").cast("double")
            - F.lit(anchor).cast("timestamp").cast("double")
        ) / F.lit(float(_interval_seconds(half_life)))
        return (
            batch_df.where(qcol(ts_col).isNotNull() & qcol(key_col).isNotNull())
            .select(qcol(key_col).alias("key"), F.pow(F.lit(2.0), exponent).alias("__w"))
            .groupBy("key")
            .agg(F.sum("__w").alias("w_sum"))
        )

    return _epoch_sink(state_dir, _sums)


def _interval_seconds(interval: str) -> float:
    """Parse a '<n> <unit>' half-life into seconds (units: seconds,
    minutes, hours, days, weeks)."""
    n, unit = interval.strip().split()
    mult = {
        "second": 1, "seconds": 1,
        "minute": 60, "minutes": 60,
        "hour": 3600, "hours": 3600,
        "day": 86400, "days": 86400,
        "week": 604800, "weeks": 604800,
    }.get(unit.lower())
    if mult is None:
        raise ValueError(f"unsupported half-life unit: {interval!r}")
    return float(n) * mult


def read_decayed_counts(
    spark: SparkSession,
    state_dir: str,
    at_ts: str,
    half_life: str = "7 days",
    anchor: str = "2024-01-01 00:00:00",
) -> DataFrame:
    """Fold the per-epoch numeraire sums and rescale to the decayed count
    as of ``at_ts``: ``(key, decayed_count)``. Pass the SAME half_life
    and anchor the sink was built with."""
    return _decayed_fold(spark, state_dir, anchor, at_ts, half_life, "decayed_count")


def _decayed_fold(
    spark: SparkSession,
    state_dir: str,
    since: str,
    until: str,
    half_life: str,
    out_col: str,
) -> DataFrame:
    """The per-key sum-fold of a decayed-count directory, rescaled by
    ``2^(-(until - since)/hl)``: ``(key, out_col)``."""
    import math

    folded = _read_epochs(spark, state_dir).groupBy("key").agg(F.sum("w_sum").alias("w_sum"))
    scale = math.pow(
        2.0, -(_epoch_seconds(until) - _epoch_seconds(since)) / _interval_seconds(half_life)
    )
    return folded.select("key", (F.col("w_sum") * F.lit(scale)).alias(out_col))


def _epoch_seconds(s: str) -> float:
    """'YYYY-MM-DD HH:MM:SS' -> UTC epoch seconds (the sink's anchor
    contract: anchors/read times are UTC wall-clock strings)."""
    from datetime import datetime, timezone

    return (
        datetime.strptime(s, "%Y-%m-%d %H:%M:%S")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def rebase_decayed_counts(
    spark: SparkSession,
    state_dir: str,
    old_anchor: str,
    new_anchor: str,
    half_life: str = "7 days",
) -> int:
    """Move a decayed-count sink's numeraire anchor — the documented
    escape hatch for the ~1023-half-life overflow bound: fold the
    per-epoch sums, rescale every ``w_sum`` by the scalar
    ``2^(-(new_anchor - old_anchor)/hl)``, and rewrite the state as one
    compacted epoch via ``compact_epoch_state`` (whose stopped-stream /
    no-readers / local-path contract applies verbatim). After this, the
    sink and every ``read_decayed_counts`` MUST be constructed with
    ``anchor=new_anchor`` — mixing anchors mis-scales silently, the same
    contract as mixing half-lives.

    Exactness: decayed scores are unchanged to the last 1-2 ulp (two pow
    calls + a multiply replace one pow); moving the anchor a whole
    number of half-lives makes the rescale a power of two and the
    roundtrip bit-exact. Returns the epoch id the rebased state landed
    under."""
    return compact_epoch_state(
        _decayed_fold(spark, state_dir, old_anchor, new_anchor, half_life, "w_sum"),
        state_dir,
    )


def _reject_epoch_columns(sink: str, cols) -> None:
    """Shared name-collision guard for the IVM delta sinks: every sink
    writes its per-batch state under ``epoch=N`` partition directories and
    every ``read_*_delta_state`` fold reads through ``_read_epochs``, which
    drops the partition column — a data column literally named ``epoch``
    would collide with the partition scheme and be silently dropped or
    misread at the fold. Loud up front, the same discipline as the
    ``__net``/``dsupp``/slot-name reservations."""
    if "epoch" in set(cols):
        raise ValueError(
            f"{sink}: a column named 'epoch' collides with the sink's "
            "epoch=N partition scheme (the read-side fold drops it) — "
            "rename upstream"
        )


def agg_delta_stream(
    state_dir: str,
    keys: list[str],
    measure_col: str,
    op_col: str = "op",
    extra_measure_cols: list[str] | None = None,
):
    """ST9 × IVM: streaming maintenance of an aggregated rollup from a CDC
    changelog stream (``operators/ivm.py``) — each micro-batch collapses
    its D/I rows into per-group (Δcount, Δsum…) under ``epoch=N``; the live
    rollup is ``read_agg_delta_state``'s sum-fold applied onto the base
    view with ``apply_agg_delta`` (or standalone, starting from an empty
    base). Equals the from-scratch recompute row-for-row (parity-tested),
    and the raw changelog is never rescanned.

    ``extra_measure_cols`` maintains additional sums in the SAME delta
    pass (one shuffle for all measures — the batch ``agg_delta``'s
    ``extra_measures`` threaded through): each named column lands as its
    own Δsum under its own name; pass the same list to
    ``read_agg_delta_state`` and the view-side names to
    ``apply_agg_delta(extra_sum_cols=...)``.

    Replay contract: sum-fold, the CMS tier — a replayed epoch id
    overwrites its own partition; + and − commute, so the D and I halves
    of an update may land in different epochs and the fold still
    converges. Per-epoch state is bounded by the groups the epoch
    touched."""
    from real_time_recommendation_system_with_feature_store_spark.ident import qcol
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import agg_delta

    _reject_epoch_columns(
        "agg_delta_stream", [*keys, *(extra_measure_cols or [])]
    )
    extras = {c: qcol(c) for c in (extra_measure_cols or [])}

    return _epoch_sink(
        state_dir,
        lambda b: agg_delta(b, keys, qcol(measure_col), op_col=op_col, extra_measures=extras),
    )


def read_agg_delta_state(
    spark: SparkSession,
    state_dir: str,
    keys: list[str],
    extra_measure_cols: list[str] | None = None,
) -> DataFrame:
    """Fold an epoch-partitioned delta directory into ONE per-group
    (n, total, extras…) contribution frame — feed it to
    ``operators/ivm.apply_agg_delta`` against the materialized base view
    (drop groups with n <= 0 yourself if using it standalone). Pass the
    same ``extra_measure_cols`` the sink was built with."""
    from real_time_recommendation_system_with_feature_store_spark.ident import qcol

    return (
        _read_epochs(spark, state_dir)
        .groupBy(*[qcol(k) for k in keys])
        .agg(
            F.sum("n").alias("n"),
            F.sum("total").alias("total"),
            *[F.sum(qcol(c)).alias(c) for c in (extra_measure_cols or [])],
        )
    )


def extrema_delta_stream(
    state_dir: str,
    keys: list[str],
    measure_col: str,
    op_col: str = "op",
):
    """ST9 × IVM, extrema tier: streaming maintenance of the MIN/MAX
    delta state from a CDC changelog stream — the ``agg_delta_stream``
    sibling for the aggregate class the sum rule can't self-maintain
    (``operators/ivm.apply_extrema_delta``'s dirty-group rule). Each
    micro-batch collapses to the per-group (imn, imx, dmn, dmx, nbad)
    contribution frame (``collapse_extrema_changes``) under ``epoch=N``;
    every column is mergeable (min/min, max/max, sum), so
    ``read_extrema_delta_state``'s fold equals the collapse of the
    concatenated changelog bit-for-bit, and ``apply_extrema_delta(...,
    collapsed=True)`` refreshes the view against the post-change
    snapshot with only delete-touched groups re-reading base.

    Replay contract: sum-fold family — a replayed epoch id overwrites its
    own partition; min/max/+ commute, so an update's D and I halves may
    land in different epochs. Per-epoch state is bounded by the groups
    the epoch touched; the raw changelog is never rescanned."""
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import collapse_extrema_changes

    _reject_epoch_columns("extrema_delta_stream", keys)

    return _epoch_sink(
        state_dir, lambda b: collapse_extrema_changes(b, keys, measure_col, op_col=op_col)
    )


def read_extrema_delta_state(
    spark: SparkSession, state_dir: str, keys: list[str]
) -> DataFrame:
    """Fold an epoch-partitioned extrema-delta directory into ONE
    per-group contribution frame — feed it to
    ``apply_extrema_delta(collapsed=True)`` against the materialized
    view. Exactly ``collapse_extrema_changes`` of the concatenated
    changelog (every column mergeable)."""
    from real_time_recommendation_system_with_feature_store_spark.ident import qcol

    return (
        _read_epochs(spark, state_dir)
        .groupBy(*[qcol(k) for k in keys])
        .agg(
            F.min("imn").alias("imn"),
            F.max("imx").alias("imx"),
            F.min("dmn").alias("dmn"),
            F.max("dmx").alias("dmx"),
            F.sum("nbad").alias("nbad"),
        )
    )


def distinct_delta_stream(
    state_dir: str,
    keys: list[str],
    value_col: str,
    op_col: str = "op",
):
    """ST9 × IVM, distinct-count tier: streaming maintenance of the
    (group, value) support-delta state from a CDC changelog stream — the
    fourth IVM sink (sums: ``agg_delta_stream``, extrema:
    ``extrema_delta_stream``, top-k: ``topk_delta_stream``), for the
    aggregate class that needs a support-count side table
    (``operators/ivm.apply_distinct_delta``; an HLL register cannot
    retract a delete). Each micro-batch collapses its D/I rows into
    per-(group, value) ``dsupp`` sums (``collapse_distinct_changes``)
    under ``epoch=N``; ``read_distinct_delta_state``'s fold equals the
    one-batch collapse bit-for-bit (plain integer sums), and
    ``apply_distinct_delta(..., collapsed=True)`` advances the view and
    support table with zero base access.

    Replay contract: sum-fold family — a replayed epoch id overwrites
    its own partition; + and - commute, so an update's D and I halves
    may land in different epochs. Per-epoch state is bounded by the
    (group, value) pairs the epoch touched; the raw changelog is never
    rescanned."""
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import collapse_distinct_changes

    _reject_epoch_columns("distinct_delta_stream", [*keys, value_col])

    return _epoch_sink(
        state_dir, lambda b: collapse_distinct_changes(b, keys, value_col, op_col=op_col)
    )


def read_distinct_delta_state(
    spark: SparkSession, state_dir: str, keys: list[str], value_col: str
) -> DataFrame:
    """Fold an epoch-partitioned distinct-delta directory into ONE
    per-(group, value) ``dsupp`` contribution frame — feed it to
    ``apply_distinct_delta(collapsed=True)`` against the materialized
    view + support pair. Exactly ``collapse_distinct_changes`` of the
    concatenated changelog (integer sums merge)."""
    from real_time_recommendation_system_with_feature_store_spark.ident import qcol

    return (
        _read_epochs(spark, state_dir)
        .groupBy(*[qcol(k) for k in keys], qcol(value_col))
        .agg(F.sum("dsupp").alias("dsupp"))
        .where(F.col("dsupp") != 0)
    )


def join_delta_stream(state_dir: str, op_col: str = "op"):
    """ST9 × IVM, join-view tier: streaming capture of a join-view
    changelog (``operators/ivm.join_view_delta``'s output — D/I rows
    carrying the view's full columns) for ``apply_join_delta`` — the
    fifth IVM sink, completing the family (sums, extrema, top-k,
    distinct, join). Each micro-batch collapses to per-ROW Z-multiset
    nets (``collapse_join_changes``: every column except the op is the
    key, ``__net`` the signed multiplicity) under ``epoch=N``; nets are
    plain integer sums, so ``read_join_delta_state``'s fold equals the
    one-batch collapse bit-for-bit — including an update whose D and I
    halves straddle epochs — and ``apply_join_delta(collapsed=True)``
    advances the view.

    Replay contract: sum-fold family — a replayed epoch id overwrites
    its own partition. Per-epoch state is bounded by the rows the epoch
    touched; the raw changelog is never rescanned."""
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import collapse_join_changes

    def _nets(batch_df: DataFrame) -> DataFrame:
        # the view's columns are only known per-batch here (the factory
        # takes no schema), so the epoch-name guard runs on first contact
        _reject_epoch_columns("join_delta_stream", batch_df.columns)
        return collapse_join_changes(batch_df, op_col=op_col)

    return _epoch_sink(state_dir, _nets)


def read_join_delta_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Fold an epoch-partitioned join-delta directory into ONE per-row
    ``__net`` frame — feed it to ``apply_join_delta(collapsed=True)``
    against the materialized view. Exactly ``collapse_join_changes`` of
    the concatenated changelog (integer nets merge; cross-epoch
    cancellations drop at the fold)."""
    df = _read_epochs(spark, state_dir)
    cols = [c for c in df.columns if c != "__net"]
    return (
        df.groupBy(*cols)
        .agg(F.sum("__net").alias("__net"))
        .where(F.col("__net") != 0)
    )


def topk_delta_stream(
    state_dir: str,
    keys: list[str],
    id_col: str,
    measure_col: str,
    op_col: str = "op",
):
    """ST9 × IVM, top-k tier: streaming capture of a CDC changelog for
    ``operators/ivm.apply_topk_delta``'s buffered-horizon maintenance —
    the third IVM sink (sums: ``agg_delta_stream``, extrema:
    ``extrema_delta_stream``). Top-k deltas are NOT order-free the way
    sums and extrema are (a delete must pair with the stored row by id,
    and an id may churn I→D→I across epochs), so each micro-batch
    collapses to per-(group, id) SLOTS — (ni, nd, im, dm, nbad) under
    ``epoch=N`` — and ``read_topk_delta_state`` composes the slots
    SEQUENTIALLY by epoch into the net changelog the batch operator
    consumes: last insert wins, the first delete carries the view's
    then-value, balanced churn cancels. Per-epoch state is bounded by the
    ids the epoch touched; the raw changelog is never rescanned.

    Replay contract: a replayed epoch id overwrites its own partition
    (slot collapse is a pure function of the batch). Within one epoch the
    batch rules apply (at most one I and one D per id — violations
    surface as composed unknown-op rows that fail loudly at apply time).
    The five slot names (ni, nd, im, dm, nbad) are RESERVED — a key/id
    column named one of them would collide with the slot aliases, so the
    sink fails loudly up front (rename upstream)."""
    from real_time_recommendation_system_with_feature_store_spark.ident import qcol
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import (
        _bad_row_count,
        _reject_reserved,
    )

    _reject_reserved(
        "topk_delta_stream", [*keys, id_col], ("ni", "nd", "im", "dm", "nbad")
    )
    _reject_epoch_columns("topk_delta_stream", [*keys, id_col, measure_col])

    def _slots(batch_df: DataFrame) -> DataFrame:
        op = qcol(op_col)
        m = qcol(measure_col)
        return batch_df.groupBy(*[qcol(k) for k in keys], qcol(id_col)).agg(
            F.count(F.when(op == "I", F.lit(1))).alias("ni"),
            F.count(F.when(op == "D", F.lit(1))).alias("nd"),
            F.max(F.when(op == "I", m)).alias("im"),
            F.max(F.when(op == "D", m)).alias("dm"),
            _bad_row_count(op, m).alias("nbad"),
        )

    return _epoch_sink(state_dir, _slots)


def read_topk_delta_state(
    spark: SparkSession,
    state_dir: str,
    keys: list[str],
    id_col: str,
    measure_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Compose an epoch-partitioned top-k slot directory into the NET
    changelog rows ``apply_topk_delta`` consumes. Composition is the
    sequential CDC semantics per (group, id), ordered by epoch:

    * one more insert than delete → net ``I`` with the LAST insert's
      value (intermediate churn cancels);
    * one more delete than insert → net ``D`` with the FIRST delete's
      value — the value the VIEW held when the sequence started, which
      is what the apply-side mismatch guard checks against;
    * balanced counts → an update pair ``D(first)`` + ``I(last)`` when
      the sequence started with a pure delete, NOTHING when it started
      with a pure insert (transient id: add then remove); a balanced
      chain of intra-epoch pairs resolves by VALUE consistency — linked
      pairs (each delete retracts the previous insert) emit the update
      pair, self-cancelling pairs net nothing, anything else is
      unaccountable;
    * anything unaccountable — per-epoch duplicate I/D for one id,
      count imbalance > 1, unknown ops, NULL measures — composes to an
      ``X`` row whose unknown op fails loudly inside
      ``apply_topk_delta`` (counts and pair structure are validated;
      full alternation is trusted, the same grace ``agg_delta``'s
      commutative fold extends).

    Like every fold here it is one scan + one aggregation, bounded by
    the touched ids — with one honest caveat: the pair-chain validation
    collects one (epoch, d, i) struct per PAIR epoch per id, so an id
    updated via D/I pairs in many epochs carries per-id state
    proportional to those epochs (concentrated on exactly the hottest
    ids). The bound is epochs-since-last-maintenance: apply the net
    changelog to the view and truncate the state directory at
    maintenance points (the view IS the compaction of this state), and
    the chain length resets."""
    from real_time_recommendation_system_with_feature_store_spark.ident import qcol

    slots = spark.read.parquet(state_dir)
    ep = F.col("epoch").cast("long")
    fold = slots.groupBy(*[qcol(k) for k in keys], qcol(id_col)).agg(
        F.sum("ni").alias("__si"),
        F.sum("nd").alias("__sd"),
        F.max(F.greatest(F.col("ni"), F.col("nd"))).alias("__mxdup"),
        F.sum("nbad").alias("__snbad"),
        F.max(F.when(F.col("ni") > 0, F.struct(ep.alias("e"), F.col("im").alias("v"))))
        .getField("v")
        .alias("__last_i"),
        F.min(F.when(F.col("nd") > 0, F.struct(ep.alias("e"), F.col("dm").alias("v"))))
        .getField("v")
        .alias("__first_d"),
        F.min(F.when((F.col("ni") > 0) & (F.col("nd") == 0), ep)).alias("__fpi"),
        F.min(F.when((F.col("nd") > 0) & (F.col("ni") == 0), ep)).alias("__fpd"),
        F.sort_array(
            F.collect_list(
                F.when(
                    (F.col("ni") > 0) & (F.col("nd") > 0),
                    F.struct(
                        ep.alias("e"),
                        F.col("dm").alias("d"),
                        F.col("im").alias("i"),
                    ),
                )
            )
        ).alias("__prs"),
    )
    si, sd = F.col("__si"), F.col("__sd")
    bad = (
        (F.col("__snbad") > 0)
        | (F.col("__mxdup") > 1)
        | (F.abs(si - sd) > 1)
    )
    eq = (si == sd) & (si > 0)
    transient = eq & F.col("__fpi").isNotNull() & (
        F.col("__fpd").isNull() | (F.col("__fpi") < F.col("__fpd"))
    )
    update_pure = eq & F.col("__fpd").isNotNull() & (
        F.col("__fpi").isNull() | (F.col("__fpd") < F.col("__fpi"))
    )
    # balanced chains made ENTIRELY of intra-epoch pairs are ambiguous
    # without view membership (update chain vs add-then-remove churn), but
    # the VALUES disambiguate: a chain whose consecutive epochs link
    # (next delete retracts the previous insert's value) is only
    # consistent as an update chain -> emit the D(first)/I(last) pair and
    # let the apply side resolve against the buffer; a chain of
    # self-cancelling pairs (each epoch deletes what it inserted) is only
    # consistent as transient churn -> net nothing; anything else has no
    # consistent reading -> X.
    all_pairs = eq & F.col("__fpi").isNull() & F.col("__fpd").isNull()
    mt = slots.schema["im"].dataType
    linked = F.aggregate(
        F.col("__prs"),
        F.struct(F.lit(True).alias("ok"), F.lit(None).cast(mt).alias("prev")),
        lambda a, x: F.struct(
            (a["ok"] & (a["prev"].isNull() | (x["d"] == a["prev"]))).alias("ok"),
            x["i"].alias("prev"),
        ),
    )["ok"]
    self_eq = F.forall(F.col("__prs"), lambda x: x["d"] == x["i"])
    d_row = F.struct(
        F.lit("D").alias("o"), F.col("__first_d").cast(mt).alias("v")
    )
    i_row = F.struct(
        F.lit("I").alias("o"), F.col("__last_i").cast(mt).alias("v")
    )
    x_row = F.struct(F.lit("X").alias("o"), F.lit(None).cast(mt).alias("v"))
    # single-cycle transient (exactly one pure-I epoch then one pure-D
    # epoch) must delete the value it inserted — a mismatch like I(w)@e1
    # D(x!=w)@e2 has no consistent reading and composes to X instead of
    # silently netting nothing. Longer pure alternations (I..D..I..D
    # across 3+ epochs) carry only first-delete/last-insert values here,
    # so their interior links stay trusted — the same grace the
    # docstring's "full alternation is trusted" clause records.
    transient_mismatch = (
        transient
        & (si == 1)
        & ~F.col("__first_d").eqNullSafe(F.col("__last_i"))
    )
    # self_eq is checked BEFORE linked: a chain whose pairs all carry
    # d == i satisfies both (it is value-constant, so "each delete
    # retracts the previous insert" holds vacuously), and the
    # self-cancelling reading is the stronger one — net nothing, rather
    # than emitting a D/I pair and relying on the apply side to drop
    # both halves of a no-op update.
    events = (
        F.when(bad, F.array(x_row))
        .when(si - sd == 1, F.array(i_row))
        .when(sd - si == 1, F.array(d_row))
        .when(transient_mismatch, F.array(x_row))
        .when(transient, F.slice(F.array(d_row), 1, 0))
        .when(update_pure, F.array(d_row, i_row))
        .when(all_pairs & self_eq, F.slice(F.array(d_row), 1, 0))
        .when(all_pairs & linked, F.array(d_row, i_row))
        .otherwise(F.array(x_row))
    )
    return (
        fold.select(
            *[qcol(k) for k in keys],
            qcol(id_col),
            F.explode(events).alias("__e"),
        )
        .select(
            F.col("__e.o").alias(op_col),
            *[qcol(k) for k in keys],
            qcol(id_col),
            F.col("__e.v").alias(measure_col),
        )
    )


def vector_tombstone_stream(index_dir: str, id_col: str):
    """Takedown path shared by the ANN index family (IVF/LSH/PQ) and the
    semantic-dedup member table (point it at ``members_dir``; fold reads
    go through ``read_semantic_pairs``/``purge_semantic_tombstones``) —
    the vector-side twin of ``bm25_tombstone_stream`` (a GDPR delete or an
    embedding refresh cannot be expressed by the append-only dedup-folds;
    reference analog: the mocked item updates,
    src/streaming/kafka_consumer.py:333-350). Each micro-batch writes its
    distinct non-null ids as ``__iid`` under ``.deletes/epoch=N`` — the
    DOT-prefixed name keeps the tombstones invisible to the LSH sink's
    root-level epoch read (Spark's listing skips hidden dirs; explicit
    reads of the dir still work), and is harmless for the IVF/PQ layouts
    whose data lives under ``cells/``/``codes/``. Every
    ``*_search_from_index`` anti-joins the fold out of its candidate set.

    Set semantics: replay-idempotent under new epoch ids, epoch replays
    overwrite. A tombstone shadows past AND future adds of the id —
    re-indexing an updated vector uses a new id, or runs
    ``purge_vector_tombstones`` first (physical drop + id release)."""
    from real_time_recommendation_system_with_feature_store_spark.ident import qcol

    def _ids(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.where(qcol(id_col).isNotNull())
            .select(qcol(id_col).alias("__iid"))
            .distinct()
        )

    return _epoch_sink(f"{index_dir}/.deletes", _ids)


def purge_vector_tombstones(spark: SparkSession, index_dir: str) -> None:
    """Make an ANN index's tombstones physical: compact the stored rows
    to their live (tombstone-applied) fold, then drop ``.deletes/`` —
    after this a tombstoned id is reusable. The layout is auto-detected
    (``cells/`` = IVF, re-partitioned by ``__cell``; ``codes/`` = PQ;
    otherwise the LSH root-level epochs). ``compact_epoch_state``'s
    contract applies verbatim: stream stopped, no readers in flight. A
    purge interrupted by a crash is finished by running it again."""
    fs = _StateFs(spark)
    if fs.exists(f"{index_dir}/cells"):
        rows, key, partition_by = f"{index_dir}/cells", ("__iid",), ["__cell"]
    elif fs.exists(f"{index_dir}/codes"):
        rows, key, partition_by = f"{index_dir}/codes", ("__iid",), None
    else:
        rows, key, partition_by = index_dir, ("__iid", "__bucket"), None
    _purge_tombstones(
        fs,
        "purge_vector_tombstones",
        f"{index_dir}/.deletes",
        [(lambda: _live_rows(spark, index_dir, rows, key), rows, partition_by)],
    )


def retrain_vector_index(
    spark: SparkSession,
    index_dir: str,
    n_cells: int = 16,
    refine_iters: int = 1,
) -> int:
    """Rebuild the IVF index's frozen coarse quantizer on the LIVE fold —
    the drift path every frozen-model sink documents ("recall degrades if
    the distribution drifts; centroid refresh is a rebuild") made an
    operator, the engine's analog of the reference's periodic index
    rebuild (src/serving/retrieval.py:228-246):

    1. fold the stored vectors (epoch-dedup, tombstones applied);
    2. retrain the quantizer on that fold with the SAME deterministic
       k-means as a fresh build (lowest-id seeds + Lloyd steps;
       ``assume_unit=True`` because stored vectors are already unit —
       re-normalizing would perturb the last ulp), so
       **rebuilt ≡ fresh batch build over the live corpus, bit-exact**;
    3. re-assign every stored vector to its new cell;
    4. swap atomically via ``_staged_swap``: the new centroids AND
       re-assigned cells fully materialize under ``.retrain.tmp``, one
       rename marks them ``.retrain.ready.epoch=N`` (N = the max folded
       epoch id, so future sink epochs stay monotone), and only then is
       the old state replaced. A crash before the ready-rename leaves a
       discardable tmp; a crash during the finish leaves the complete new
       state in the ready dir — ``recover_vector_index`` resumes
       idempotently from any prefix. Tombstones are folded in at step 1,
       so ``.deletes/`` is cleared in the finish (ids released, same as a
       purge).

    Future ``ivf_index_stream`` batches read ``centroids/`` per batch, so
    adds AFTER the swap assign against the refreshed geometry — run with
    the stream stopped and no readers in flight (``compact_epoch_state``'s
    contract, verbatim). Returns the epoch id the rebuilt cells landed
    under."""
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import (
        _assign_cells,
        ivf_build_centroids,
    )

    def stage(tmp: str) -> None:
        live = _live_rows(spark, index_dir, f"{index_dir}/cells").select("__iid", "__iv")
        cents = ivf_build_centroids(
            live, "__iid", "__iv", n_cells=n_cells, refine_iters=refine_iters,
            assume_unit=True,
        ).localCheckpoint(eager=True)  # n_cells rows; the Lloyd subtree would
        # otherwise re-execute for the centroids write AND the re-assign pass
        cents.write.mode("overwrite").parquet(f"{tmp}/centroids")
        _assign_cells(live, cents).write.mode("overwrite").partitionBy("__cell").parquet(
            f"{tmp}/cells"
        )

    return _staged_swap(_StateFs(spark), _index_swap(index_dir), stage)


def _index_swap(
    index_dir: str,
    model_dir: str = "centroids",
    rows_dir: str = "cells",
    who: str = "retrain_vector_index",
    recover: str = "recover_vector_index(index_dir)",
) -> _Swap:
    """The retrain layout of an ANN index: the frozen model and the
    epoch-rooted rows (IVF: centroids/cells, PQ: codebooks/codes). The
    staged rebuild folded the tombstones in, so ``.deletes`` clears."""
    return _Swap(
        index_dir, "retrain",
        ((f"{index_dir}/{rows_dir}", rows_dir),),
        ((f"{index_dir}/{model_dir}", model_dir),),
        (f"{index_dir}/.deletes",),
        who, recover,
    )


def recover_vector_index(
    index_dir: str, model_dir: str = "centroids", rows_dir: str = "cells"
) -> bool:
    """Finish or discard a ``retrain_vector_index`` interrupted by a crash
    — run BEFORE restarting the sink or probing a possibly-interrupted
    index. A ``.retrain.ready.epoch=<id>`` dir holds the COMPLETE new
    state (frozen model + re-encoded rows), so finishing is lossless and
    idempotent from every crash prefix; a bare ``.retrain.tmp`` is a
    partial materialization with the old state intact — discard it.
    Same loud-failure ordering contract as ``recover_epoch_state``: row
    epochs NEWER than the ready target mean a sink wrote past the crash
    before recovery ran — raise instead of silently deleting them.
    ``model_dir``/``rows_dir`` name the model and rows layouts (IVF
    defaults; ``recover_pq_index`` passes the PQ layout). Returns True
    when it changed anything."""
    return _recover_swap(_StateFs(), _index_swap(index_dir, model_dir, rows_dir))


def retrain_pq_index(
    spark: SparkSession,
    index_dir: str,
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_sub: int = 8,
    n_codes: int = 16,
    refine_iters: int = 1,
    train_rows: int = 4096,
) -> int:
    """Rebuild the PQ index's frozen codebooks on the LIVE corpus — the
    PQ leg of the drift path (``retrain_vector_index`` is the IVF leg;
    reference analog: faiss retrains/re-adds on its periodic rebuild,
    src/serving/retrieval.py:228-246). The code index deliberately stores
    NO vectors (8 ints per item is the whole point), so the rebuild takes
    the authoritative vector source as input: ``vectors`` must cover
    every live indexed id — a live id with no vector cannot be re-encoded
    and fails loudly rather than silently shrinking the index.

    Steps mirror the IVF retrain exactly: fold the live ids (epoch-dedup,
    tombstones applied), retrain codebooks on their vectors with the SAME
    deterministic construction as a fresh build
    (``pq_train_codebooks``: train_rows lowest-id items, no rand() — so
    **rebuilt ≡ fresh batch build over the live corpus, bit-exact**),
    re-encode every live vector, and swap atomically via the
    ``.retrain.tmp`` → ``.retrain.ready.epoch=N`` protocol
    (``recover_pq_index`` resumes idempotently from any crash prefix).
    Tombstones fold in at step 1, so ``.deletes/`` clears in the finish.

    Run with the stream stopped and no readers in flight
    (``compact_epoch_state``'s contract). Returns the epoch id the rebuilt
    codes landed under."""
    from real_time_recommendation_system_with_feature_store_spark.ident import qcol
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import (
        _pq_encode,
        pq_train_codebooks,
    )

    def stage(tmp: str) -> None:
        live_ids = _live_rows(spark, index_dir, f"{index_dir}/codes").select("__iid")
        # ONE aggregation pass dedups the source AND detects duplicate ids
        # carrying DIFFERENT vectors (which would make the rebuild
        # nondeterministic — breaking the "rebuilt == fresh batch build,
        # bit-exact" guarantee the sibling rebuild paths enforce; identical
        # duplicates are fine, first() is then exact). Persisted so the
        # conflict count, the missing-id check, and the re-encode all reuse
        # the same shuffle instead of re-scanning the vector source.
        # NULL vectors are filtered BEFORE the groupBy: count_distinct ignores
        # NULLs, so an id with one NULL row plus one real row would pass the
        # conflict guard (__nv=1) while a plain first() could still
        # nondeterministically pick the NULL — exactly the nondeterministic
        # rebuild the guard exists to prevent. Filtered out, an id whose rows
        # are ALL NULL simply vanishes from the source and trips the loud
        # missing-live-id check below instead; ignorenulls on first() is
        # belt-and-braces for the same hazard.
        src_agg = (
            vectors.select(qcol(id_col).alias("__iid"), qcol(vec_col).alias("__vec"))
            .where(F.col("__vec").isNotNull())
            .groupBy("__iid")
            .agg(
                F.count_distinct(F.col("__vec")).alias("__nv"),
                F.first("__vec", ignorenulls=True).alias("__vec"),
            )
            .persist()
        )
        try:
            n_conflicts = src_agg.where(F.col("__nv") > 1).count()
            if n_conflicts:
                raise ValueError(
                    f"retrain_pq_index: {n_conflicts} id(s) in the vector source "
                    "carry conflicting vectors — the source must be id-unique "
                    "(or duplicate rows must agree) for a deterministic rebuild"
                )
            src = src_agg.select("__iid", "__vec")
            # loud failure before any state is staged: a live indexed id missing
            # from the vector source would silently vanish from the rebuilt index
            n_missing = live_ids.join(src.select("__iid"), "__iid", "left_anti").count()
            if n_missing:
                raise ValueError(
                    f"retrain_pq_index: {n_missing} live indexed id(s) have no row "
                    f"in the supplied vector source — the code index stores no "
                    "vectors, so every live id must be re-suppliable to re-encode"
                )
            live = src.join(live_ids, "__iid", "left_semi")
            books = pq_train_codebooks(
                live, "__iid", "__vec", dim, n_sub, n_codes, refine_iters, train_rows
            )
            encoded = _pq_encode(live, "__iid", "__vec", books, dim, n_sub)
            _write_pq_codebooks(spark, books, f"{tmp}/codebooks")
            encoded.write.mode("overwrite").parquet(f"{tmp}/codes")
        finally:
            src_agg.unpersist()

    swap = _index_swap(
        index_dir, "codebooks", "codes", "retrain_pq_index", "recover_pq_index(index_dir)"
    )
    return _staged_swap(_StateFs(spark), swap, stage)


def recover_pq_index(index_dir: str) -> bool:
    """``recover_vector_index`` for the PQ layout (codebooks/codes) —
    finish a crashed ``retrain_pq_index`` or discard its partial tmp;
    same loud-failure contract when a sink wrote code epochs past the
    crash target."""
    return recover_vector_index(index_dir, "codebooks", "codes")


def read_semantic_pairs(
    spark: SparkSession, members_dir: str, pairs_dir: str
) -> DataFrame:
    """Fold the semantic-dedup sink's per-epoch pair emissions into the
    live near-dup pair set, honoring the member table's tombstones
    (``vector_tombstone_stream`` pointed at ``members_dir`` — the same
    ``.deletes/`` layout as the ANN family, hidden from the sink's
    root-level epoch reads): a pair survives only while BOTH endpoints
    are live, so a takedown retracts every near-dup relation the dead
    vector anchored — the semantic twin of the ANN searches' candidate
    filter. The tombstone fold is usually tiny, so the anti-joins
    broadcast (stats-gated on the un-deduped scan)."""
    pairs = _read_epochs(spark, pairs_dir).dropDuplicates(["id_a", "id_b"])
    pairs = _drop_tombstoned(
        spark, f"{members_dir}/.deletes", pairs, on=("id_a", "id_b")
    )
    return pairs.select("id_a", "id_b", "cosine")


def purge_semantic_tombstones(
    spark: SparkSession, members_dir: str, pairs_dir: str
) -> None:
    """Make the semantic sink's tombstones physical: compact the member
    table to its live rows (so future batches stop pairing against dead
    vectors at all, instead of relying on the read-side filter), compact
    the pair epochs to the live pair set, then drop ``.deletes/`` — after
    this a tombstoned id is reusable as a fresh add. The frozen centroid
    model is untouched (takedowns don't move cell geometry — retraining
    is the sink's documented drift path). ``compact_epoch_state``'s
    contract applies verbatim: stream stopped, no readers in flight. A
    purge interrupted by a crash is finished by running it again."""
    _purge_tombstones(
        _StateFs(spark),
        "purge_semantic_tombstones",
        f"{members_dir}/.deletes",
        [
            (lambda: read_semantic_pairs(spark, members_dir, pairs_dir), pairs_dir, None),
            (lambda: _live_rows(spark, members_dir, members_dir), members_dir, None),
        ],
    )


def retrain_semantic_index(
    spark: SparkSession,
    centroids_dir: str,
    members_dir: str,
    pairs_dir: str,
    n_cells: int = 16,
    threshold: float = 0.8,
    refine_iters: int = 1,
) -> int:
    """Rebuild the semantic-dedup sink's frozen cell geometry on the LIVE
    member fold — the SemDeDup leg of the drift path (IVF:
    ``retrain_vector_index``, PQ: ``retrain_pq_index``; the sink's own
    docstring calls retrain + re-sketch its incremental-index trade).
    Stored member vectors are the sink's OWN normalized output, so they
    feed the build un-re-normalized — re-normalizing a unit vector
    perturbs the last ulp — which makes **rebuilt ≡ a fresh one-batch
    sink build over the raw live corpus, bit-exact** (same deterministic
    lowest-id seeds + Lloyd steps, same pair expression).

    Steps: fold the live members (epoch-dedup, tombstones applied),
    retrain centroids, re-assign every member, recompute the intra-cell
    near-dup pair set wholesale under the new geometry (pairs are
    geometry-dependent — cells decide who gets compared, so a retrain
    invalidates the old pair epochs by construction), then swap the THREE
    layouts atomically via the ``.retrain.tmp`` →
    ``.retrain.ready.epoch=N`` protocol (``_staged_swap``) rooted under
    ``members_dir``
    (``recover_semantic_index`` resumes idempotently from any crash
    prefix). Member tombstones fold in at step 1, so ``.deletes/``
    clears in the finish. Pass the SAME n_cells/threshold/refine_iters
    as the sink or you are rebuilding a different index.

    Run with the stream stopped and no readers in flight
    (``compact_epoch_state``'s contract). Returns the epoch id the rebuilt
    members/pairs landed under."""
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import (
        _assign_cells,
        ivf_build_centroids,
    )

    def stage(tmp: str) -> None:
        live = _live_rows(spark, members_dir, members_dir).select("__iid", "__iv")
        # n_cells rows; without the eager cut the seed+Lloyd subtree would
        # re-execute for the centroids write AND every assigned consumer
        cents = ivf_build_centroids(
            live, "__iid", "__iv", n_cells, refine_iters, assume_unit=True
        ).localCheckpoint(eager=True)
        # assigned feeds three actions (members write + both sides of the
        # pair self-join) — persist it once instead of re-scanning and
        # re-assigning the live fold per consumer
        assigned = _assign_cells(live, cents).select("__cell", "__iid", "__iv").persist()
        try:
            cents.write.mode("overwrite").parquet(f"{tmp}/centroids")
            assigned.write.mode("overwrite").parquet(f"{tmp}/members")
            _semantic_cell_pairs(assigned, assigned, threshold).write.mode("overwrite").parquet(
                f"{tmp}/pairs"
            )
        finally:
            assigned.unpersist()

    return _staged_swap(
        _StateFs(spark), _semantic_swap(centroids_dir, members_dir, pairs_dir), stage
    )


def _semantic_swap(centroids_dir: str, members_dir: str, pairs_dir: str) -> _Swap:
    """The semantic sink's retrain layout: the frozen centroids, and the
    member and pair epochs, staged under ``members_dir``."""
    return _Swap(
        members_dir, "retrain",
        ((members_dir, "members"), (pairs_dir, "pairs")),
        ((centroids_dir, "centroids"),),
        (f"{members_dir}/.deletes",),
        "retrain_semantic_index",
        "recover_semantic_index(centroids_dir, members_dir, pairs_dir)",
    )


def recover_semantic_index(
    centroids_dir: str, members_dir: str, pairs_dir: str
) -> bool:
    """Finish or discard a ``retrain_semantic_index`` interrupted by a
    crash — run BEFORE restarting the sink or folding a
    possibly-interrupted index. Same contract as ``recover_vector_index``:
    a ready dir holds the COMPLETE new state (centroids + members +
    pairs) and finishes losslessly from any crash prefix; a bare tmp
    discards; member OR pair epochs newer than the ready target fail
    loudly (a restarted sink wrote rows under the OLD geometry the staged
    rebuild never folded). Returns True when it changed anything."""
    return _recover_swap(_StateFs(), _semantic_swap(centroids_dir, members_dir, pairs_dir))


def lsh_index_stream(
    index_dir: str,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int = 4,
    n_tables: int = 8,
):
    """ST9 × vector retrieval, LSH tier: streaming maintenance of the
    sign-random-projection bucket index (the ``lsh_topk`` batch analytic;
    the same incremental-add contract as ``ivf_index_stream`` — reference
    analog src/serving/retrieval.py:199-226). Each micro-batch runs the
    EXACT batch bucketing kernel (``operators/knn._bucket_rows_arrow`` —
    SplitMix64 hyperplanes, one matmul per Arrow batch) over its own
    vectors and writes the (id, normalized vec, bucket) rows under
    ``epoch=N``; the live index is the per-(id, bucket) dedup-fold.
    Unlike IVF there is no trained model at all — the hyperplanes are a
    pure hash family, so the sink has NO drift trade: stream-built and
    one-shot indexes are IDENTICAL row sets (parity-tested bit-for-bit
    against ``lsh_topk``, whose search tail ``lsh_search_from_index``
    shares).

    Idempotency is the strong kind: bucket rows are a pure function of
    the vector, so the dedup-fold absorbs the SAME vector re-delivered
    under a DIFFERENT epoch id (replaying an epoch id additionally
    overwrites its own partition). Contract: vectors immutable per id;
    ``dim``/``n_planes``/``n_tables`` MUST match between sink and search
    (they parameterize the hash family — a mismatch probes a different
    index; persist them alongside the index in practice)."""
    from real_time_recommendation_system_with_feature_store_spark.ident import qcol
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import _bucket_rows_arrow

    def _rows(batch_df: DataFrame) -> DataFrame:
        src = batch_df.where(
            qcol(vec_col).isNotNull() & qcol(id_col).isNotNull()
        ).select(qcol(id_col).alias("__id"), qcol(vec_col).alias("__vec"))
        return _bucket_rows_arrow(src, "__id", "__vec", "__iid", dim, n_planes, n_tables)

    return _epoch_sink(index_dir, _rows)


def lsh_search_from_index(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    query_id: str,
    query_vec: str,
    dim: int,
    item_id: str = "vec_id",
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 8,
    exclude_self: bool = True,
) -> DataFrame:
    """Probe the streaming-built LSH index through ``lsh_topk``'s search
    tail (``knn._lsh_search``): bucket the queries with the same kernel,
    join on the bucket key, dedup candidate pairs across tables,
    exact-cosine rescore (Arrow einsum), per-query top-k. Same hash-family
    params as the sink or you are probing a different index."""
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import (
        _lsh_search,
        _require_positive,
    )

    _require_positive("lsh_search_from_index", k=k)
    it = _live_rows(spark, index_dir, index_dir, ("__iid", "__bucket"))
    return _lsh_search(
        it, queries, query_id, query_vec, item_id, dim, k, n_planes, n_tables, exclude_self
    )


def pq_index_stream(
    index_dir: str,
    id_col: str,
    vec_col: str,
    dim: int,
    books,
    n_sub: int = 8,
):
    """ST9 × vector retrieval, PQ tier: streaming maintenance of the
    product-quantization code index — the third leg of the incremental
    serving-index family (LSH: pure hash, IVF: frozen centroids, PQ:
    frozen codebooks; reference analog src/serving/retrieval.py:88-139,
    199-226). ``books`` is the trained codebook list from
    ``operators/knn.pq_train_codebooks`` — persisted once under
    ``codebooks/`` as (m, code, codeword) rows at sink creation; each
    micro-batch encodes its vectors with the EXACT batch Arrow kernel
    (``knn._pq_encode``) into ``codes/epoch=N`` — 8 int codes replace the
    full vector, the 64x compression that keeps a 100 TB catalog's hot
    index small.

    Idempotency is the strong kind: a vector's codes are a pure function
    of (vector, frozen codebooks), so the per-id dedup-fold absorbs
    redelivery under new epoch ids (epoch-id replays additionally
    overwrite their own partition). Same frozen-model trades as IVF:
    vectors immutable per id; codebook refresh (distribution drift) is a
    rebuild."""
    from real_time_recommendation_system_with_feature_store_spark.ident import qcol
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import _pq_encode

    # persist the frozen model EAGERLY at sink construction (mirroring
    # ivf_index_stream's centroids write): a search/load against an index
    # whose stream hasn't processed a batch yet must find the codebooks,
    # not die on a raw missing-path parquet error
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise ValueError(
            "pq_index_stream: no active SparkSession to persist the codebooks"
        )
    _write_pq_codebooks(spark, books, f"{index_dir}/codebooks")

    def _codes(batch_df: DataFrame) -> DataFrame:
        src = batch_df.where(
            qcol(vec_col).isNotNull() & qcol(id_col).isNotNull()
        ).select(qcol(id_col).alias("__id"), qcol(vec_col).alias("__vec"))
        return _pq_encode(src, "__id", "__vec", books, dim, n_sub)

    return _epoch_sink(f"{index_dir}/codes", _codes)


def _write_pq_codebooks(spark: SparkSession, books, path: str) -> None:
    """Persist a codebook list as ``(m int, code int, codeword
    array<double>)`` rows — the one writer of the layout
    ``load_pq_codebooks`` reads (the sink's frozen model and the retrain's
    staged one)."""
    rows = [
        (m, c, [float(x) for x in cw[c]])
        for m, cw in enumerate(books)
        for c in range(len(cw))
    ]
    spark.createDataFrame(
        rows, "m int, code int, codeword array<double>"
    ).write.mode("overwrite").parquet(path)


def load_pq_codebooks(spark: SparkSession, index_dir: str):
    """Reload the persisted codebooks as the numpy list the knn kernels
    take — round-trips ``_write_pq_codebooks``'s layout exactly."""
    import numpy as np

    rows = (
        spark.read.parquet(f"{index_dir}/codebooks")
        .orderBy("m", "code")
        .collect()
    )
    n_sub = max(r["m"] for r in rows) + 1
    books = []
    for m in range(n_sub):
        cws = [np.asarray(r["codeword"], dtype=np.float64) for r in rows if r["m"] == m]
        books.append(np.stack(cws))
    return books


def pq_search_from_index(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    query_id: str,
    query_vec: str,
    dim: int,
    item_id: str = "vec_id",
    k: int = 10,
    n_sub: int = 8,
    n_codes: int = 16,
    exclude_self: bool = True,
) -> DataFrame:
    """Probe the streaming-built PQ index through ``pq_topk``'s ADC tail
    (``knn._pq_adc_topk``; rerank=0 semantics — the raw ADC ranking;
    exact re-ranking needs the original vectors, which the code index
    deliberately does not store): per-query lookup tables built
    distributed against the reloaded codebooks, n_sub codegen'd
    element_at lookups per item, no vectors on the scan side. Same
    n_sub/n_codes as the sink or you are probing a different index."""
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import (
        _pq_adc_topk,
        _pq_query_tables,
        _require_positive,
    )

    _require_positive("pq_search_from_index", k=k)
    books = load_pq_codebooks(spark, index_dir)
    encoded = _live_rows(spark, index_dir, f"{index_dir}/codes")
    qtab = _pq_query_tables(queries, query_id, query_vec, books, dim, n_sub)
    return _pq_adc_topk(
        encoded, qtab, queries.select(query_id, query_vec),
        query_id, item_id, n_sub, n_codes, k, exclude_self,
    )
