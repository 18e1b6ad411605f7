"""The state lifecycle over its filesystem shim (streaming/pipeline.py).

Compaction, the three retrains, the three tombstone purges and late-epoch
replay all move directories through ``_StateFs`` and finalize through
``_staged_swap`` / ``_recover_swap``. These tests pin three properties of
that one path:

* the shim's own contract (a rename never lands inside an existing
  directory, the floor marker only rises and carries no sidecar files);
* URI parity: the same lifecycle addressed as ``file:///dir`` and as
  ``/dir`` (or mixing the two) leaves the same folds;
* crash safety: cutting any protocol at each of its directory operations
  and then recovering (a purge recovers by running again) restores the
  crash-free result.
"""

from __future__ import annotations

import contextlib
import os
import shutil

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from real_time_recommendation_system_with_feature_store_spark.streaming import pipeline as P

TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp", "lifecycle")
EMB = os.path.join(SF_DIR, "embeddings.parquet")


def _fresh(name):
    d = os.path.join(TMP, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.dirname(d), exist_ok=True)
    return d


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _physical(spark, d):
    """Every row stored under an epoch-partitioned directory."""
    return _rows(spark.read.parquet(d).drop("epoch"))


def _emb(spark):
    return spark.read.parquet(EMB).select("vec_id", "embedding")


# -- the shim ---------------------------------------------------------------


def test_state_fs_rename_refuses_an_existing_destination(spark):
    """Hadoop's FileSystem.rename moves a directory INSIDE an existing
    destination and reports success; the shim must refuse instead and
    move nothing."""
    d = _fresh("fs_rename")
    os.makedirs(f"{d}/src/a")
    os.makedirs(f"{d}/dst/b")
    fs = P._StateFs(spark)
    with pytest.raises(FileExistsError):
        fs.rename(f"{d}/src", f"{d}/dst")
    assert os.listdir(f"{d}/src") == ["a"]
    assert os.listdir(f"{d}/dst") == ["b"]
    fs.rename(f"{d}/src", f"file://{d}/moved")
    assert os.listdir(f"{d}/moved") == ["a"] and not os.path.exists(f"{d}/src")


def test_state_fs_floor_marker(spark):
    """The floor only rises, is replaced without leaving a ``.tmp`` or a
    ``.crc`` sidecar, and reads back a marker written with plain open()."""
    d = _fresh("fs_floor")
    os.makedirs(d)
    fs = P._StateFs(spark)
    assert fs.read_floor(d) is None
    fs.write_floor(d, 3)
    assert fs.read_floor(d) == 3
    with open(os.path.join(d, ".compacted.floor"), "w") as fh:
        fh.write("5\n")
    assert fs.read_floor(f"file://{d}") == 5
    fs.write_floor(d, 4)
    assert fs.read_floor(d) == 5
    fs.write_floor(f"file://{d}", 9)
    assert fs.read_floor(d) == 9
    assert os.listdir(d) == [".compacted.floor"]


def test_state_fs_epoch_ids_parse_only_their_prefix(spark):
    d = _fresh("fs_epochs")
    for name in ("epoch=2", "epoch=10", "epoch=x", ".compact.ready.epoch=7", "other=1", ".late"):
        os.makedirs(f"{d}/{name}")
    fs = P._StateFs(spark)
    assert fs.epoch_ids(d) == [2, 10]
    assert fs.epoch_ids(f"file://{d}") == [2, 10]
    assert fs.find_ready(d, "compact") == 7
    assert fs.find_ready(d, "retrain") is None
    assert fs.epoch_ids(f"{d}/missing") == []


# -- file:// parity -----------------------------------------------------------


def _cms_lifecycle(spark, sink_dir, op_dir):
    """CMS sink epochs, compaction, a late id below the floor, its replay,
    and a hand-staged compaction that recovery finishes. ``sink_dir`` and
    ``op_dir`` spell the same directory (a plain path or a file:// URI)."""
    data = spark.createDataFrame([(i % 7,) for i in range(100)], "k long")
    sink = P.cms_sketch_stream(sink_dir, "k", depth=2, width=16)

    def fold():
        return _rows(P.read_cms_sketch(spark, op_dir))

    sink(data.limit(60), 0)
    sink(data, 1)
    folds = [fold()]
    assert P.compact_epoch_state(P.read_cms_sketch(spark, op_dir), op_dir) == 1
    folds.append(fold())
    sink(data.limit(5), 0)  # at or below the floor: dead-lettered
    late = P.read_late_epochs(spark, op_dir).collect()
    assert [(r["epoch"], r["floor"], r["orig_existed"]) for r in late] == [(0, 1, False)]
    assert fold() == folds[-1]
    assert P.replay_late_epochs(op_dir) == [2]
    folds.append(fold())
    assert folds[-1] != folds[-2]
    P.read_cms_sketch(spark, op_dir).write.parquet(f"{op_dir}/.compact.ready.epoch=2")
    assert P.recover_epoch_state(op_dir) is True
    local = op_dir.removeprefix("file://")
    assert [n for n in os.listdir(local) if n.startswith("epoch=")] == ["epoch=2"]
    folds.append(fold())
    assert folds[-1] == folds[-2]
    return folds


def _lsh_purge(spark, sink_dir, op_dir):
    emb = _emb(spark)
    dim = len(emb.select("embedding").first()[0])
    sink = P.lsh_index_stream(sink_dir, "vec_id", "embedding", dim, n_planes=4, n_tables=2)
    sink(emb.where(F.col("vec_id") % 2 == 0), 0)
    sink(emb.where(F.col("vec_id") % 2 == 1), 1)
    P.vector_tombstone_stream(sink_dir, "vec_id")(emb.where(F.col("vec_id") % 5 == 0), 0)
    P.purge_vector_tombstones(spark, op_dir)
    assert not os.path.exists(op_dir.removeprefix("file://") + "/.deletes")
    hits = P.lsh_search_from_index(
        spark, op_dir, emb.where(F.col("vec_id") < 10), "vec_id", "embedding", dim,
        item_id="nn", k=3, n_planes=4, n_tables=2,
    )
    return _rows(hits), _physical(spark, op_dir)


def test_lifecycle_parity_plain_path_and_file_uri(spark):
    """The lifecycle holds on a Hadoop URI, not only on a plain path: the
    same steps through ``file:///dir``, through ``/dir``, and with the
    sink writing through the URI while the lifecycle calls use the plain
    path leave identical folds, and the late id is dead-lettered in all
    three (never folded)."""
    runs = {}
    for name, sink_uri, op_uri in (
        ("plain", False, False), ("uri", True, True), ("mixed", True, False)
    ):
        d = _fresh(f"parity_{name}")
        spell = {False: d, True: f"file://{d}"}
        runs[name] = (
            _cms_lifecycle(spark, f"{spell[sink_uri]}/cms", f"{spell[op_uri]}/cms"),
            _lsh_purge(spark, f"{spell[sink_uri]}/lsh", f"{spell[op_uri]}/lsh"),
        )
    assert runs["uri"] == runs["plain"]
    assert runs["mixed"] == runs["plain"]


# -- crash injection ----------------------------------------------------------


class _Crash(Exception):
    pass


@contextlib.contextmanager
def _ops(crash_at=None):
    """Count the shim's state-changing operations; with ``crash_at=k`` the
    k-th one raises before it acts, the way a process dies between two
    directory operations."""
    calls = []
    with pytest.MonkeyPatch.context() as mp:
        for name in ("rename", "delete", "write_floor"):
            def op(self, *args, _name=name, _orig=getattr(P._StateFs, name)):
                calls.append(_name)
                if len(calls) == crash_at:
                    raise _Crash(f"{_name} #{crash_at}")
                return _orig(self, *args)

            mp.setattr(P._StateFs, name, op)
        yield calls


def _crash_matrix(name, build, run, recover, observe):
    """Run ``run`` once crash-free to count its operations and record
    ``observe``; then, for every k, crash a copy of the same fixture at
    operation k, ``recover`` it, and require the crash-free observation."""
    base = _fresh(f"{name}_base")
    build(base)
    ref = _fresh(f"{name}_ref")
    shutil.copytree(base, ref)
    with _ops() as calls:
        run(ref)
    want = observe(ref)
    assert len(calls) >= 3, calls
    for k in range(1, len(calls) + 1):
        d = _fresh(f"{name}_k{k}")
        shutil.copytree(base, d)
        with _ops(crash_at=k), pytest.raises(_Crash):
            run(d)
        recover(d)
        assert observe(d) == want, (k, calls[k - 1])


@pytest.mark.parametrize("uri", [False, True], ids=["path", "file_uri"])
def test_crash_matrix_compact_epoch_state(spark, uri):
    data = spark.createDataFrame([(i % 5,) for i in range(90)], "k long")

    def at(d):
        return f"file://{d}" if uri else d

    def build(d):
        sink = P.cms_sketch_stream(d, "k", depth=2, width=16)
        for i, n in enumerate((30, 70, 90)):
            sink(data.limit(n), i)

    def compact(d):
        P.compact_epoch_state(P.read_cms_sketch(spark, at(d)), at(d))

    def observe(d):
        fold = _rows(P.read_cms_sketch(spark, at(d)))
        return fold, P._StateFs(spark).epoch_ids(at(d)), P._compacted_floor(at(d))

    def recover(d):
        staged_only = os.path.exists(f"{d}/.compact.tmp")
        P.recover_epoch_state(at(d))
        if staged_only:  # cut before the commit: the epochs stand, compact again
            compact(d)

    _crash_matrix(f"crash_compact_{uri}", build, compact, recover, observe)


def test_crash_matrix_bm25_purge(spark):
    docs = spark.createDataFrame(
        [(1, "join hash join"), (2, "window scan"), (3, "hash window join"), (4, "scan join")],
        "doc_id long, text string",
    )

    def build(d):
        sink = P.bm25_index_stream(d, "doc_id", "text")
        sink(docs.where(F.col("doc_id") <= 2), 0)
        sink(docs.where(F.col("doc_id") > 2), 1)
        P.bm25_tombstone_stream(d, "doc_id")(docs.where(F.col("doc_id") == 3), 0)

    def observe(d):
        return (
            _rows(P.bm25_score_from_index(spark, d, ["join", "window"])),
            _physical(spark, f"{d}/postings"),
            _physical(spark, f"{d}/doclen"),
            [P._compacted_floor(f"{d}/{sub}") for sub in ("postings", "doclen")],
            os.path.exists(f"{d}/deletes"),
        )

    def purge(d):
        P.bm25_purge_tombstones(spark, d)

    _crash_matrix("crash_bm25_purge", build, purge, purge, observe)


def test_crash_matrix_vector_purge(spark):
    emb = _emb(spark)
    dim = len(emb.select("embedding").first()[0])
    queries = emb.where(F.col("vec_id") < 10)

    def build(d):
        sink = P.lsh_index_stream(d, "vec_id", "embedding", dim, n_planes=4, n_tables=2)
        sink(emb.where(F.col("vec_id") % 2 == 0), 0)
        sink(emb.where(F.col("vec_id") % 2 == 1), 1)
        P.vector_tombstone_stream(d, "vec_id")(emb.where(F.col("vec_id") % 5 == 0), 0)

    def observe(d):
        hits = P.lsh_search_from_index(
            spark, d, queries, "vec_id", "embedding", dim,
            item_id="nn", k=3, n_planes=4, n_tables=2,
        )
        deletes = os.path.exists(f"{d}/.deletes")
        return _rows(hits), _physical(spark, d), P._compacted_floor(d), deletes

    def purge(d):
        P.purge_vector_tombstones(spark, d)

    _crash_matrix("crash_vector_purge", build, purge, purge, observe)


def _semantic_dirs(d):
    return f"{d}/centroids", f"{d}/members", f"{d}/pairs"


def _build_semantic(spark, d):
    emb = _emb(spark)
    sink = P.semantic_dedup_stream(*_semantic_dirs(d), n_cells=4, threshold=0.3)
    for i in range(3):
        sink(emb.where(F.col("vec_id") % 3 == i), i)
    P.vector_tombstone_stream(f"{d}/members", "vec_id")(emb.where(F.col("vec_id") % 7 == 0), 0)


def _observe_semantic(spark, d):
    cents, members, pairs = _semantic_dirs(d)
    return (
        _rows(P.read_semantic_pairs(spark, members, pairs)),
        _rows(spark.read.parquet(cents)),
        _physical(spark, members),
        _physical(spark, pairs),
        [P._compacted_floor(d) for d in (members, pairs)],
        os.path.exists(f"{members}/.deletes"),
    )


def test_crash_matrix_semantic_purge(spark):
    def purge(d):
        P.purge_semantic_tombstones(spark, *_semantic_dirs(d)[1:])

    _crash_matrix(
        "crash_semantic_purge", lambda d: _build_semantic(spark, d), purge, purge,
        lambda d: _observe_semantic(spark, d),
    )


def _retrain_matrix(name, root, build, retrain, recover, observe):
    """A retrain cut before its commit leaves the old index standing
    (recovery discards the staged tmp) and is simply run again; cut after
    the commit, recovery alone finishes it."""

    def recover_then_finish(d):
        staged_only = os.path.exists(f"{root(d)}/.retrain.tmp")
        assert recover(d) is True
        if staged_only:
            retrain(d)

    _crash_matrix(name, build, retrain, recover_then_finish, observe)


@pytest.mark.heavy
def test_crash_matrix_retrain_vector_index(spark):
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import ivf_build_centroids

    emb = _emb(spark)

    def build(d):
        cents = ivf_build_centroids(emb, "vec_id", "embedding", n_cells=4)
        sink = P.ivf_index_stream(d, "vec_id", "embedding", cents)
        sink(emb.where(F.col("vec_id") % 2 == 0), 0)
        sink(emb.where(F.col("vec_id") % 2 == 1), 1)
        P.vector_tombstone_stream(d, "vec_id")(emb.where(F.col("vec_id") % 5 == 0), 0)

    def observe(d):
        return (
            _rows(spark.read.parquet(f"{d}/centroids")),
            _physical(spark, f"{d}/cells"),
            P._compacted_floor(f"{d}/cells"),
            os.path.exists(f"{d}/.deletes"),
        )

    _retrain_matrix(
        "crash_retrain_ivf", lambda d: d, build,
        lambda d: P.retrain_vector_index(spark, d, n_cells=4, refine_iters=1),
        P.recover_vector_index, observe,
    )


@pytest.mark.heavy
def test_crash_matrix_retrain_pq_index(spark):
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import pq_train_codebooks

    emb = _emb(spark)
    dim = len(emb.select("embedding").first()[0])

    def build(d):
        books = pq_train_codebooks(emb, "vec_id", "embedding", dim, n_sub=4, n_codes=8)
        sink = P.pq_index_stream(d, "vec_id", "embedding", dim, books, n_sub=4)
        sink(emb.where(F.col("vec_id") % 2 == 0), 0)
        sink(emb.where(F.col("vec_id") % 2 == 1), 1)
        P.vector_tombstone_stream(d, "vec_id")(emb.where(F.col("vec_id") % 5 == 0), 0)

    def observe(d):
        return (
            _rows(spark.read.parquet(f"{d}/codebooks")),
            _physical(spark, f"{d}/codes"),
            P._compacted_floor(f"{d}/codes"),
            os.path.exists(f"{d}/.deletes"),
        )

    _retrain_matrix(
        "crash_retrain_pq", lambda d: d, build,
        lambda d: P.retrain_pq_index(spark, d, emb, "vec_id", "embedding", dim, n_sub=4, n_codes=8),
        P.recover_pq_index, observe,
    )


@pytest.mark.heavy
def test_crash_matrix_retrain_semantic_index(spark):
    _retrain_matrix(
        "crash_retrain_semantic", lambda d: f"{d}/members",
        lambda d: _build_semantic(spark, d),
        lambda d: P.retrain_semantic_index(spark, *_semantic_dirs(d), n_cells=4, threshold=0.3),
        lambda d: P.recover_semantic_index(*_semantic_dirs(d)),
        lambda d: _observe_semantic(spark, d),
    )
