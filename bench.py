"""Bench harness: run the headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line.

Each query runs once after a warmup of the session (JVM + parquet footer
caching is shared, matching how a long-lived Spark app behaves). The metric
is total wall-clock seconds across the headline set.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from real_time_recommendation_system_with_feature_store_spark import get_spark
from real_time_recommendation_system_with_feature_store_spark.queries import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "pricing_summary",
    "top_building_orders",
    "region_revenue",
    "user_activity_windows",
    "item_trending_scores",
    "segment_recommendations",
    "popularity_ranking_metrics",
    "asof_purchase_click",
    "kcore_events",
    "time_split_orders",
    "doc_dedup_exact",
    "text_quality",
    "minhash_dedup_candidates",
    "simhash_dedup_candidates",
    "embedding_near_dup",
    "embedding_near_dup_lsh",
    "knn_cosine_topk",
    "two_stage_recommendations",
    "tumbling_window_counts",
    # round-2 additions: previously-unbenched heavy paths — regressions here
    # must show up round over round.
    # The set is FROZEN as of r2 so totals stay comparable across rounds;
    # r3's new queries (pq_ann_topk ~1s, ngram_repetition_signals ~1s,
    # corpus_export_pipeline ~9s at sf0.1 — dominated by the deliberate
    # all-pairs jaccard stage on this word-soup corpus) are profiled in
    # their commits, not totaled here.
    "user_value_scd2",
    "eval_contamination_pairs",
    "token_budget_packing",
    "negative_samples",
    "ranking_metrics_multi_k",
    "tree_rerank_topk",
]

# SECOND section (r14): the IVM tier postdates the frozen set, so its
# constant-factor drift was only profiled once in SCALE.md, never measured
# per round. These total under ivm_value/ivm_queries — SEPARATE keys, so
# the frozen headline total stays comparable across rounds.
IVM_SECTION = [
    "warehouse_day_close_pipeline",
    "warehouse_day_close_full",
    "rollup_topk_priority_orders",
]

# THIRD section (r15): the drift-monitoring family — same rationale as the
# IVM section (postdates the frozen set; needs a per-round constant-factor
# anchor). Totals under drift_value/drift_queries; BENCH_r15 is the anchor.
DRIFT_SECTION = [
    "feature_drift_psi",
    "feature_drift_ks",
    "feature_drift_ks_sketch",
    "event_type_drift_chisq",
    "embedding_drift",
    "data_quality_report",
]


def clear_cache_blocking(spark) -> None:
    """Drop the SQL cache and wait for its blocks to go. ``clearCache()``
    unpersists without blocking, so block removal could overlap the next
    timed region; the RDDs it released are unpersisted again with
    ``blocking=True``, which returns once their blocks are removed. Other
    persistent RDDs (live localCheckpoints) are left alone."""
    jsc = spark.sparkContext._jsc
    before = dict(jsc.getPersistentRDDs())
    spark.catalog.clearCache()
    after = jsc.getPersistentRDDs()
    for rdd_id, rdd in before.items():
        if rdd_id not in after:
            rdd.unpersist(True)


def main() -> None:
    spark = get_spark("bench")
    # warm the JVM/codegen path once with a trivial job
    spark.range(1000).selectExpr("sum(id)").collect()
    # warm the Python/Arrow worker pool (reused by every pandas kernel)
    def _ident(batches):
        yield from batches

    spark.range(64).repartition(32).mapInPandas(_ident, "id long").count()
    # warm file listing + parquet footers once (a long-lived Spark app keeps
    # this metadata cached; per-query timings should reflect steady state)
    from real_time_recommendation_system_with_feature_store_spark.session import load_tables

    for df in load_tables(spark, SF_DIR, register=False).values():
        df.select(df.columns[0]).limit(1).collect()

    import gc

    def bench_set(names: list[str]) -> tuple[dict[str, float], float]:
        per_query: dict[str, float] = {}
        total = 0.0
        for name in names:
            spec = QUERIES[name]
            # label jobs for the UI/event log (guide §1) and, between
            # queries (OUTSIDE the timed region), drop the previous query's
            # py4j DataFrame refs so the ContextCleaner can release its
            # persisted/checkpointed blocks — the cleaner processes GC'd
            # refs asynchronously, so this bounds the backlog rather than
            # guaranteeing the blocks are gone before the next timed region.
            # The timed action (fn + count, best of 3) is unchanged.
            spark.sparkContext.setJobDescription(f"bench:{name}")
            gc.collect()
            # best of 3: the first run pays one-off JIT/codegen compilation
            # (and any background-load noise); the recorded number is the
            # steady-state throughput a long-lived app sees. Cold-start cost
            # is a constant, not a per-query property — it amortizes to zero
            # at 100 TB. Three runs (up from two) because this host shows
            # ±30% per-query noise — single-run flukes of +1-2s were landing
            # in the recorded best.
            best, n = float("inf"), -1
            for _ in range(3):
                # cache hygiene (r15 verdict #8, UNTIMED): queries that
                # persist() an intermediate (e.g. segment_recommendations'
                # pair aggregate) are keyed in the SQL CacheManager by their
                # analyzed plan, so without this the 2nd/3rd repetitions
                # would read the 1st run's cached table and the recorded
                # best would measure a warm-cache query. Clearing between
                # repetitions makes every repetition compute from parquet.
                # Recorded numbers for such queries shift up once at r16;
                # the timed action itself is character-identical. The
                # blocks are removed before t0, not during the timed region.
                clear_cache_blocking(spark)
                t0 = time.perf_counter()
                df = spec.fn(spark, SF_DIR)
                n = df.count()
                best = min(best, time.perf_counter() - t0)
            per_query[name] = round(best, 3)
            total += best
            print(f"# {name}: {best:.3f}s rows={n}", file=sys.stderr)
        spark.sparkContext.setJobDescription(None)
        return per_query, total

    per_query, total = bench_set(HEADLINE)
    ivm_queries, ivm_total = bench_set(IVM_SECTION)
    drift_queries, drift_total = bench_set(DRIFT_SECTION)

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_seconds",
                "value": round(total, 3),
                "unit": "sec",
                "queries": per_query,
                "ivm_value": round(ivm_total, 3),
                "ivm_queries": ivm_queries,
                "drift_value": round(drift_total, 3),
                "drift_queries": drift_queries,
                "sf": float(sf),
            }
        )
    )


if __name__ == "__main__":
    main()
