"""The offline lifecycle over MovieLens-1M-shaped ``::`` files, run once
after the ``catalog`` workload's entry pass and timed on its own.

raw files -> loaders -> ``build_training_data`` (k-core, labels, id
encoding, time split) -> ``train_embeddings`` (ALS, defaults) ->
``brute_force_topk`` (k=100) -> ``ranking_metrics_multi_k`` on the test
split: kernels, shuffles, ALS iterations and the Arrow boundary.

The pass is not free of per-job overhead: its 66 jobs and ~870 stages cost
the same at any size. Executor time grows with the ratings (11 s at 30k,
24 s at 110k, 45 s at 220k on 4 cores, against a flat 3 s of scheduler
delay) while the pass grows from 12 s to 18 s and 23 s. The size below is
the smallest of these, chosen so that a run fits the benchmark's time
budget; the traced run reports its executor and scheduler figures.
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.checks import compare_metrics, failure, ranking_metrics_numpy, split_boundaries
from perfbench.harness import median

# ML-1M's shape (>= 20 ratings per user, Zipf item popularity) at a sixth of
# its users and items and 3% of its ratings, so a pass fits the run
USERS, ITEMS, RATINGS = 1000, 600, 30_000
KS = (5, 10, 20, 50, 100)
LAYERS = ("pipelines.build_training_data", "models.train_embeddings",
          "operators.knn.brute_force_topk", "evaluation.ranking_metrics_multi_k")


class OfflineLifecycle:
    def __init__(self, spark, tracer, seed: int, input_dir: str):
        self.spark, self.tracer, self.dir = spark, tracer, input_dir
        self.n_ratings = gen.ml1m_files(np.random.default_rng([seed, 3]), input_dir, USERS, ITEMS, RATINGS)
        self.passes: list[float] = []
        self.errors: list[str] = []
        self.layer_s: dict[str, list[float]] = {name: [] for name in LAYERS}
        self._last = None

    def _timed(self, layer: str, fn):
        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        with self.tracer.span(layer, sc):
            out = fn()
        self.layer_s[layer].append(time.perf_counter() - t0)
        return out

    def run_once(self) -> None:
        """One lifecycle pass; its interactions and recommendations stay
        cached for ``check`` until ``close`` or the next cache clear. A
        failure is recorded by name instead of ending the run."""
        t0 = time.perf_counter()
        try:
            self._last = self._one_pass()
        except Exception as e:
            self.errors.append(failure("offline-ml1m", e))
            return
        self.passes.append(time.perf_counter() - t0)

    def _one_pass(self):
        from real_time_recommendation_system_with_feature_store_spark import pipelines
        from real_time_recommendation_system_with_feature_store_spark.evaluation.metrics import (
            ranking_metrics_multi_k,
        )
        from real_time_recommendation_system_with_feature_store_spark.models import train_embeddings
        from real_time_recommendation_system_with_feature_store_spark.operators.knn import brute_force_topk

        sc = self.spark.sparkContext
        with self.tracer.span("pipelines.load", sc):
            ratings = pipelines.load_ratings(self.spark, f"{self.dir}/ratings.dat")
            users = pipelines.load_users(self.spark, f"{self.dir}/users.dat")
            movies = pipelines.load_movies(self.spark, f"{self.dir}/movies.dat")

        def build():
            inter = pipelines.build_training_data(ratings, users, movies).interactions.persist()
            inter.count()
            return inter

        inter = self._timed("pipelines.build_training_data", build)
        train = inter.where((F.col("split") == "train") & (F.col("label") == 1))
        user_emb, item_emb = self._timed(
            "models.train_embeddings", lambda: train_embeddings(train, "user_id_idx", "movie_id_idx"))
        truth = (inter.where((F.col("split") == "test") & (F.col("label") == 1))
                 .select("user_id_idx", "movie_id_idx").distinct())
        queries = user_emb.join(truth.select("user_id_idx").distinct(), "user_id_idx")

        def topk():
            recs = brute_force_topk(queries, item_emb, "user_id_idx", "movie_id_idx",
                                    k=100, exclude_self=False).persist()
            recs.count()
            return recs

        recs = self._timed("operators.knn.brute_force_topk", topk)
        metrics = self._timed("evaluation.ranking_metrics_multi_k", lambda: ranking_metrics_multi_k(
            recs, truth, KS, user="user_id_idx", item="movie_id_idx").collect())
        return inter, recs, truth, metrics

    def check(self) -> tuple[int, list[str]]:
        """Checks the last pass: split boundaries and the metrics recomputed
        in numpy from the collected recommendations and truth. Returns the
        passes attempted and the failures."""
        attempted = len(self.passes) + len(self.errors)
        if self._last is None:
            return attempted, self.errors or ["offline-ml1m: no pass ran"]
        inter, recs, truth, metrics = self._last
        counts = {r["split"]: r["count"] for r in inter.groupBy("split").count().collect()}
        fails = split_boundaries(sum(counts.values()), counts)
        ref = ranking_metrics_numpy(recs.select("user_id_idx", "movie_id_idx", "rank").toPandas(),
                                    truth.toPandas(), KS, user="user_id_idx", item="movie_id_idx")
        got = {r["k"]: r.asDict() for r in metrics}
        fails += compare_metrics(got, ref)
        return attempted, self.errors + [f"offline-ml1m: {f}" for f in fails]

    def report(self) -> dict[str, float]:
        return {"offline_pipeline_s": median(self.passes or [float("nan")]),
                "offline_ratings": float(self.n_ratings)}

    def layer_metrics(self) -> dict[str, float]:
        return {f"{name}_s": median(v) for name, v in self.layer_s.items() if v}

    def close(self) -> None:
        if self._last is not None:
            for df in self._last[:2]:
                df.unpersist(blocking=True)
            self._last = None
