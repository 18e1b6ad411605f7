"""``stream-features`` workload: event files land at a fixed rate while two
streaming queries consume them and a reader serves from what they write.

Open loop: file ``i`` is due ``i / RATE`` seconds after the start and lands
then however far the queries lag. Both queries read the file-replay source:

* ``windowed_feature_stream`` (5 min windows, 10 min watermark, update mode)
  through a ``foreachBatch`` wrapper into ``upsert_online_store`` and the
  ``FeatureStore``;
* the raw events keyed on the item into ``decayed_count_stream``.

A closed-loop reader thread issues serving reads the whole time:
``get_online_features`` for a seeded batch of users plus the
``read_decayed_counts`` top 100. After the fixed-rate phase a backlog of
files lands at once and ``processAllAvailable`` drains it.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from datetime import datetime, timezone

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.checks import compare_decayed, compare_frames, decayed_counts_pandas
from perfbench.harness import clear_caches, median, percentile

EVENTS_PER_FILE = 1000
USERS, ITEMS = 2000, 1000
RATE = 1.0  # files per second in the fixed-rate phase: half the drain capacity
BACKLOG_FILES = 32  # one store compaction (every 32 pushes) falls in every drain
SERVE_USERS = 200
VIEW = "rt_user_feats"
HALF_LIFE, ANCHOR = "1 hours", "2024-01-01 00:00:00"


def _progress_end(p: dict) -> float:
    """Epoch seconds at which a micro-batch finished."""
    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return start.timestamp() + p["durationMs"]["triggerExecution"] / 1000.0


def _progress(q) -> list[dict]:
    """A query's progress reports, decoded from their JSON form."""
    return [json.loads(p.json) for p in q.recentProgress]


def _log_offset(offset: dict | None) -> int:
    """File-source log offset of a progress' start/end offset (-1: none)."""
    return -1 if offset is None else int(offset["logOffset"])


def _source_files(ckpt: str) -> dict[int, list[str]]:
    """File-source log of a query: source log offset -> file names. Every
    entry carries its offset as ``batchId``; compacted log files
    (``N.compact``) repeat earlier entries."""
    out: dict[int, set[str]] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(path) as f:
            lines = f.read().splitlines()[1:]
        for entry in map(json.loads, filter(None, lines)):
            out.setdefault(int(entry["batchId"]), set()).add(os.path.basename(entry["path"]))
    return {k: sorted(v) for k, v in out.items()}


class StreamFeatures:
    PASS = "stream_drain_s"

    def __init__(self, spark, tracer, seed: int, input_dir: str):
        from real_time_recommendation_system_with_feature_store_spark.features.store import (
            FeatureStore,
            FeatureView,
        )

        self.spark, self.tracer = spark, tracer
        self.dirs = {k: os.path.join(input_dir, k) for k in
                     ("stage", "landing", "ckpt_features", "ckpt_trending", "trending_state")}
        for d in ("stage", "landing"):
            os.makedirs(self.dirs[d], exist_ok=True)
        self.files = gen.EventFiles(seed, EVENTS_PER_FILE, USERS, ITEMS)
        self.store = FeatureStore(spark=spark)
        self.store.register(FeatureView(name=VIEW, entities=["user_id"], ttl_seconds=1800.0,
                                        timestamp_field="window_end", created_field="epoch"))
        self.serve_users = np.random.default_rng([seed, 4]).choice(USERS, SERVE_USERS, replace=False)
        self.due: dict[str, float] = {}  # file name -> epoch seconds it was due
        self.landed: list[int] = []
        self.late_s: list[float] = []
        self.push_s: list[float] = []
        self.decayed_s: list[float] = []
        self.serve: list[tuple[float, float]] = []  # (online features s, trending s)
        self.serve_fail: list[str] = []
        self.queries = []
        self.drain_s = 0.0
        self.backlog_end = 0
        # set-up ends with both queries started and warm: file 0 lands and is
        # processed before the fixed-rate phase, and is no freshness sample
        clear_caches(spark)
        self._start()
        self._land(0, None)
        for q in self.queries:
            q.processAllAvailable()

    # -- sinks -------------------------------------------------------------
    def _features_sink(self):
        from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
            upsert_online_store,
        )

        upsert = upsert_online_store(self.store, VIEW)

        def sink(batch_df, epoch_id):
            # the epoch id is the view's created_field: update mode re-emits a
            # window, and without the tiebreak two rows tie on window_end
            t0 = time.perf_counter()
            with self.tracer.span("features.store.push", self.spark.sparkContext):
                upsert(batch_df.withColumn("epoch", F.lit(int(epoch_id))), epoch_id)
            self.push_s.append(time.perf_counter() - t0)

        return sink

    def _trending_sink(self):
        from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
            decayed_count_stream,
        )

        fold = decayed_count_stream(self.dirs["trending_state"], "item_id", "ts", HALF_LIFE, ANCHOR)

        def sink(batch_df, epoch_id):
            t0 = time.perf_counter()
            with self.tracer.span("streaming.decayed_sink", self.spark.sparkContext):
                fold(batch_df, epoch_id)
            self.decayed_s.append(time.perf_counter() - t0)

        return sink

    def _start(self) -> None:
        from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
            replay_events_stream,
            windowed_feature_stream,
        )

        schema = gen.event_struct()
        feats = windowed_feature_stream(replay_events_stream(self.spark, self.dirs["landing"], schema),
                                        key="user_id", window="5 minutes", watermark="10 minutes")
        raw = replay_events_stream(self.spark, self.dirs["landing"], schema).select(
            "ts", F.get_json_object("props", "$.item_id").cast("long").alias("item_id"))
        self.queries = [
            feats.writeStream.queryName("features").outputMode("update").foreachBatch(self._features_sink())
            .option("checkpointLocation", self.dirs["ckpt_features"]).start(),
            raw.writeStream.queryName("trending").foreachBatch(self._trending_sink())
            .option("checkpointLocation", self.dirs["ckpt_trending"]).start(),
        ]

    def _land(self, i: int, due: float | None) -> None:
        """Land file ``i``; ``due`` is its scheduled time (None for backlog
        files, which are not freshness samples)."""
        name = self.files.land(i, self.dirs["stage"], self.dirs["landing"])
        self.landed.append(i)
        if due is not None:
            self.due[name] = due
            self.late_s.append(time.time() - due)

    # -- serving reader ------------------------------------------------------
    def _reader(self, stop: threading.Event) -> None:
        from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
            read_decayed_counts,
        )

        sc = self.spark.sparkContext
        keys = self.spark.createDataFrame(pd.DataFrame({"user_id": self.serve_users.astype("int64")}))
        while not stop.is_set():
            if not (self.push_s and self.decayed_s):
                time.sleep(0.05)
                continue
            at = self.files.minute_end(self.landed[-1])
            try:
                t0 = time.perf_counter()
                with self.tracer.span("features.store.get_online_features", sc):
                    self.store.get_online_features(VIEW, keys).collect()
                t1 = time.perf_counter()
                with self.tracer.span("streaming.read_decayed_counts", sc):
                    (read_decayed_counts(self.spark, self.dirs["trending_state"], at, HALF_LIFE, ANCHOR)
                     .orderBy(F.col("decayed_count").desc(), "key").limit(100).collect())
                t2 = time.perf_counter()
                self.serve.append((t1 - t0, t2 - t1))
            except Exception as e:  # a failed read is counted, and the reader goes on
                self.serve_fail.append(f"stream-features: serving read failed: {type(e).__name__}: {str(e)[:200]}")

    def run(self, seconds: float) -> None:
        stop = threading.Event()
        reader = threading.Thread(target=self._reader, args=(stop,), name="perfbench-reader")
        start = time.time()
        n_files = max(1, int(seconds * RATE))
        reader.start()
        try:
            for i in range(1, n_files + 1):
                due = start + (i - 1) / RATE
                time.sleep(max(0.0, due - time.time()))
                self._land(i, due)
            time.sleep(max(0.0, start + n_files / RATE - time.time()))
            self.backlog_end = len(self.landed) - min(self._committed_files(q) for q in self.queries)
        finally:
            stop.set()
            reader.join()
        for q in self.queries:
            q.processAllAvailable()
        for i in range(n_files + 1, n_files + 1 + BACKLOG_FILES):
            self._land(i, None)
        t0 = time.perf_counter()
        for q in self.queries:
            q.processAllAvailable()
        self.drain_s = time.perf_counter() - t0

    def _committed_files(self, q) -> int:
        """Files committed so far by a query, through its progress' source
        end offsets and its file-source log."""
        last = max((_log_offset(p["sources"][0]["endOffset"]) for p in _progress(q)), default=-1)
        return sum(len(v) for k, v in _source_files(self.dirs[f"ckpt_{q.name}"]).items() if k <= last)

    # -- results -------------------------------------------------------------
    def _commits(self, q) -> dict[str, float]:
        """File name -> time the query committed the batch that held it,
        mapped through each progress' source offsets (not the epoch id: no-data
        batches interleave with data batches)."""
        log = _source_files(self.dirs[f"ckpt_{q.name}"])
        out = {}
        for p in _progress(q):
            src = p["sources"][0]
            lo, hi = _log_offset(src["startOffset"]), _log_offset(src["endOffset"])
            for off in range(lo + 1, hi + 1):
                for name in log.get(off, []):
                    out[name] = _progress_end(p)
        return out

    def freshness(self) -> list[float]:
        c0, c1 = (self._commits(q) for q in self.queries)
        return [max(c0[n], c1[n]) - due for n, due in self.due.items()]

    def check(self) -> tuple[int, list[str]]:
        from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
            read_decayed_counts,
            windowed_feature_stream,
        )

        fails = list(self.serve_fail)
        events = pd.concat([self.files.frame(i) for i in self.landed], ignore_index=True)
        for q in self.queries:
            rows = sum(p["numInputRows"] for p in _progress(q))
            if rows != len(events):
                fails.append(f"stream-features: query {q.name} read {rows} rows, {len(events)} landed")
        # online store: latest window per user equals the batch computation
        snap = self.store.latest_snapshot(VIEW).drop("epoch").toPandas()
        batch = windowed_feature_stream(self.spark.createDataFrame(events), key="user_id",
                                        window="5 minutes").toPandas()
        want = batch.sort_values(["user_id", "window_end"]).groupby("user_id").tail(1)
        fails += [f"stream-features: {f}" for f in compare_frames(snap, want, ["user_id"], "latest_snapshot")]
        # trending fold equals the event-by-event decayed count
        at = self.files.minute_end(self.landed[-1])
        got = read_decayed_counts(self.spark, self.dirs["trending_state"], at, HALF_LIFE, ANCHOR).toPandas()
        events["item_id"] = events["props"].str.extract(r'"item_id": (\d+)')[0].astype("int64")
        want_d = decayed_counts_pandas(events, "item_id", at, 3600.0, ANCHOR)
        fails += [f"stream-features: {f}" for f in compare_decayed(got.set_index("key")["decayed_count"], want_d)]
        attempted = len(self.landed) + len(self.serve) + len(self.serve_fail)
        return attempted, fails

    def report(self) -> dict[str, float]:
        fresh = self.freshness()
        serve = [a + b for a, b in self.serve] or [float("nan")]
        return {
            "freshness_p50_s": median(fresh), "freshness_p90_s": percentile(fresh, 90.0),
            "freshness_samples": float(len(fresh)),
            "serve_p50_s": median(serve), "serve_p90_s": percentile(serve, 90.0),
            "serve_samples": float(len(self.serve)),
            "stream_drain_s": self.drain_s,
            "stream_drain_eps": BACKLOG_FILES * EVENTS_PER_FILE / self.drain_s,
            "backlog_files_end": float(self.backlog_end),
            "generator_late_max_s": max(self.late_s),
        }

    def layer_metrics(self) -> dict[str, float]:
        feats = self.queries[0]
        batches = [p["durationMs"]["triggerExecution"] / 1000.0
                   for q in self.queries for p in _progress(q) if p["numInputRows"] > 0]
        nodata = sum(1 for q in self.queries for p in _progress(q) if p["numInputRows"] == 0)
        state = [op for p in _progress(feats) for op in p.get("stateOperators", [])]
        online = [a for a, _ in self.serve] or [0.0]
        trending = [b for _, b in self.serve] or [0.0]
        return {
            "features.store.push_p50_s": median(self.push_s),
            "features.store.push_p90_s": percentile(self.push_s, 90.0),
            "features.store.compactions": float(len(self.push_s) // 32),
            "features.store.get_online_features_p50_s": median(online),
            "features.store.get_online_features_p90_s": percentile(online, 90.0),
            "features.store.log_rows": float(self.store.table(VIEW).count()),
            "streaming.batch_p50_s": median(batches),
            "streaming.batch_p90_s": percentile(batches, 90.0),
            "streaming.nodata_batches": float(nodata),
            "streaming.decayed_sink_s": sum(self.decayed_s),
            "streaming.state_rows": float(state[-1]["numRowsTotal"]) if state else 0.0,
            "streaming.state_mem_mb": max((op["memoryUsedBytes"] for op in state), default=0) / 2**20,
            "streaming.read_decayed_counts_p50_s": median(trending),
        }

    def close(self) -> None:
        for q in self.queries:
            q.stop()
        self.queries = []
