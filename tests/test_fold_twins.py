"""Streaming-state fold-twin catalog entries (r10 VERDICT "Next round" #2).

Their value-correctness is oracle-gated (tests/test_oracle_parity.py runs
all four against DuckDB); what THESE tests pin is the state-directory
lifecycle the entries depend on: each invocation must start from a fresh
directory, so epochs left by a previous run — possibly written under a
different slicing — can never leak into the fold and silently inflate it.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

# every test here drives real sink epoch writes — see conftest marker doc
pytestmark = pytest.mark.foldtwin

SF = "/root/testdata/sf0.001"


def _rows(spark, name):
    from real_time_recommendation_system_with_feature_store_spark.queries import QUERIES

    return sorted(tuple(r) for r in QUERIES[name].fn(spark, SF).collect())


@pytest.mark.heavy
def test_fold_twin_wipes_poisoned_state(spark):
    """A stale epoch in the state dir (here: a duplicate of the real data,
    which a sum-fold would double-count) is wiped by the next invocation."""
    from real_time_recommendation_system_with_feature_store_spark.queries import _fold_state_dir
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        decayed_count_stream,
    )

    first = _rows(spark, "decayed_counts_fold")
    assert first

    # poison: re-deliver every event under a NEW epoch id — the sum-fold
    # would double every count if it survived the next invocation
    # (_fold_state_dir returns the entry's real dir, freshly wiped)
    state_dir = _fold_state_dir("decayed_counts_fold", SF)
    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("user_id", F.date_trunc("day", F.col("ts")).alias("day_ts"))
    )
    sink = decayed_count_stream(
        state_dir, "user_id", "day_ts",
        half_life="1 days", anchor="2024-01-01 00:00:00",
    )
    sink(ev, 99)

    assert _rows(spark, "decayed_counts_fold") == first


@pytest.mark.heavy
def test_fold_twin_rerun_deterministic(spark):
    # semantic_dedup_fold matters most here: its cell geometry is trained
    # from the first micro-batch, so determinism rests on _fold_state_dir
    # wiping the centroids — a stale model from a previous slicing would
    # silently change every pair emission.
    for name in ("ivm_delta_fold", "bm25_index_fold", "semantic_dedup_fold"):
        assert _rows(spark, name) == _rows(spark, name), name


def test_drive_epochs_jobs_keep_caller_job_group(spark):
    """The overlapped epoch jobs run on pool threads, which do not start
    with the caller's local properties: each must still be submitted under
    the caller's job group and description."""
    from real_time_recommendation_system_with_feature_store_spark.queries import _drive_epochs

    sc = spark.sparkContext
    group = "drive-epochs-label-test"
    seen = []

    def sink(batch, epoch):
        seen.append((epoch, sc.getLocalProperty("spark.job.description")))
        batch.count()

    sc.setJobGroup(group, "bench:drive_epochs")
    try:
        _drive_epochs(sink, [spark.range(10).where(F.col("id") % 3 == i) for i in range(3)])
    finally:
        sc._jsc.clearJobGroup()
    assert sorted(seen) == [(i, "bench:drive_epochs") for i in range(3)]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 3
