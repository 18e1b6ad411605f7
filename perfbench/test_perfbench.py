"""The benchmark's own tests: every check counts a corrupted result as a
failure instead of skipping it. No Spark session is needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys
import threading
from types import SimpleNamespace

import duckdb
import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks, gen  # noqa: E402
from perfbench.catalog import Catalog  # noqa: E402
from perfbench.harness import Tracer, percentile  # noqa: E402


class _NoOffline:
    def check(self):
        return 1, []


def _catalog_with(samples, tmp_path):
    """A Catalog holding already-collected samples, checked against DuckDB
    over freshly generated tables."""
    cat = object.__new__(Catalog)
    cat.dir = str(tmp_path)
    gen.catalog_tables(np.random.default_rng(0), cat.dir)
    cat.ddb = duckdb.connect()
    for t in gen.CATALOG_TABLES:
        cat.ddb.execute(f"CREATE VIEW {t} AS SELECT * FROM '{cat.dir}/{t}.parquet'")
    cat.samples = samples
    cat.errors = []
    cat._lock = threading.Lock()
    cat.offline = _NoOffline()
    return cat


def test_catalog_counts_a_corrupted_result(tmp_path):
    from real_time_recommendation_system_with_feature_store_spark.queries import QUERIES

    cat = _catalog_with([], tmp_path)
    good = cat.ddb.execute(QUERIES["pricing_summary"].oracle).df()
    bad = good.copy()
    bad.iloc[0, bad.columns.get_loc(bad.select_dtypes("number").columns[0])] += 1
    cat.samples = [("pricing_summary", 0.1, 0.1, checks.canon_digest(good)),
                   ("pricing_summary", 0.1, 0.1, checks.canon_digest(bad))]
    attempted, fails = cat.check()
    assert attempted == 3
    assert fails == ["catalog:pricing_summary: result digest differs from the DuckDB oracle"]


def test_catalog_counts_an_entry_that_raises(tmp_path, monkeypatch):
    from real_time_recommendation_system_with_feature_store_spark.queries import QUERIES

    def raising(spark, sf_dir):
        raise AssertionError("non-scalar cell")

    monkeypatch.setitem(QUERIES, "pricing_summary", SimpleNamespace(fn=raising, oracle=None))
    cat = _catalog_with([], tmp_path)
    cat.spark, cat.tracer = SimpleNamespace(sparkContext=None), Tracer(False)
    cat.section_of = {"pricing_summary": "headline"}
    cat._entry("pricing_summary")
    attempted, fails = cat.check()
    assert attempted == 2
    assert fails == ["catalog:pricing_summary: AssertionError: non-scalar cell"]


def test_digest_is_dtype_sensitive():
    ints = pd.DataFrame({"a": [1, 2]})
    assert checks.canon_digest(ints) != checks.canon_digest(ints.astype("float64"))
    assert checks.canon_digest(ints) == checks.canon_digest(ints.iloc[::-1])


def _recs_truth():
    recs = pd.DataFrame({"u": [1, 1, 1, 2, 2], "i": [10, 11, 12, 10, 13], "rank": [1, 2, 3, 1, 2]})
    truth = pd.DataFrame({"u": [1, 1, 2], "i": [11, 99, 13]})
    return recs, truth


def test_ranking_metrics_numpy_by_hand():
    recs, truth = _recs_truth()
    m = checks.ranking_metrics_numpy(recs, truth, (2,), user="u", item="i")[2]
    # user 1: one hit at rank 2 of 2 truth items; user 2: one hit at rank 2 of 1
    assert m["recall"] == round((0.5 + 1.0) / 2, 6)
    assert m["precision"] == 0.5
    assert m["hit_rate"] == 1.0
    assert m["mrr"] == 0.5
    idcg1 = 1 + 1 / np.log2(3)
    assert m["ndcg"] == round((1 / np.log2(3) / idcg1 + 1 / np.log2(3)) / 2, 6)


def test_offline_counts_corrupted_metrics_and_splits():
    recs, truth = _recs_truth()
    ref = checks.ranking_metrics_numpy(recs, truth, (1, 2), user="u", item="i")
    assert checks.compare_metrics(ref, ref) == []
    bad = {k: dict(v) for k, v in ref.items()}
    bad[2]["ndcg"] += 1e-4
    assert checks.compare_metrics(bad, ref) == [f"ndcg@2: spark {bad[2]['ndcg']} != numpy {ref[2]['ndcg']}"]
    del bad[1]
    assert "metrics@1 missing" in checks.compare_metrics(bad, ref)
    assert checks.split_boundaries(10, {"train": 8, "val": 1, "test": 1}) == []
    assert len(checks.split_boundaries(10, {"train": 7, "val": 2, "test": 1})) == 1


def test_stream_checks_count_corruption():
    events = gen.EventFiles(seed=3, events_per_file=50, n_users=10, n_items=5).frame(2)
    events["item_id"] = events["props"].str.extract(r'"item_id": (\d+)')[0].astype("int64")
    want = checks.decayed_counts_pandas(events, "item_id", gen.EventFiles.minute_end(2), 3600.0,
                                        "2024-01-01 00:00:00")
    assert checks.compare_decayed(want.copy(), want) == []
    bad = want.copy()
    bad.iloc[0] *= 1 + 1e-8
    assert len(checks.compare_decayed(bad, want)) == 1
    assert len(checks.compare_decayed(want.iloc[1:], want)) == 1

    snap = pd.DataFrame({"user_id": [1, 2], "clicks": [3, 4]})
    assert checks.compare_frames(snap.iloc[::-1], snap, ["user_id"], "snap") == []
    changed = snap.assign(clicks=[3, 5])
    assert checks.compare_frames(changed, snap, ["user_id"], "snap")[0].startswith("snap: 1 rows differ")
    assert checks.compare_frames(snap.iloc[:1], snap, ["user_id"], "snap") == ["snap: 1 rows != 2"]


def test_event_files_are_seeded_and_stay_in_the_watermark():
    a = gen.EventFiles(seed=1, events_per_file=200, n_users=10, n_items=5)
    pd.testing.assert_frame_equal(a.frame(4), gen.EventFiles(1, 200, 10, 5).frame(4))
    assert not a.frame(4).equals(gen.EventFiles(2, 200, 10, 5).frame(4))
    ts = a.frame(4)["ts"]
    lo = np.datetime64(gen.EVENT_EPOCH, "us") + np.timedelta64(4 * 60 - 180, "s")
    assert (ts.to_numpy() >= lo).all()


def test_ml1m_files_keep_the_shape(tmp_path):
    n = gen.ml1m_files(np.random.default_rng(5), str(tmp_path), n_users=50, n_items=40, n_ratings=1500)
    ratings = pd.read_csv(tmp_path / "ratings.dat", sep="::", engine="python", header=None,
                          names=["u", "i", "r", "t"])
    assert len(ratings) == n
    assert ratings.groupby("u").size().min() >= 20
    assert not ratings.duplicated(["u", "i"]).any()


def test_nearest_rank_percentile():
    xs = list(range(1, 101))
    assert percentile(xs, 50.0) == 50
    assert percentile(xs, 90.0) == 90
    with pytest.raises(IndexError):
        percentile([], 50.0)
