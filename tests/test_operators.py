"""Golden-value operator tests on tiny hand-built frames — the reference's
test pattern (SURVEY.md §5: hand-computed expected values, tiny fixtures)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F


def ts(s):
    return datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def tiny_events(spark):
    rows = [
        # (event_id, user, item, type, ts)
        (1, 1, 10, "view", ts("2024-01-01 10:00:00")),
        (2, 1, 10, "click", ts("2024-01-01 10:05:00")),
        (3, 1, 11, "view", ts("2024-01-01 11:00:00")),
        (4, 1, 12, "purchase", ts("2024-01-01 11:30:00")),
        (5, 2, 10, "view", ts("2024-01-01 09:00:00")),
        (6, 2, 11, "click", ts("2024-01-02 09:00:00")),
    ]
    return spark.createDataFrame(rows, ["event_id", "user_id", "item_id", "event_type", "ts"])


def test_topk_per_key(spark):
    from real_time_recommendation_system_with_feature_store_spark.operators.topk import topk_per_key

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 20.0), ("b", 4, 5.0)],
        ["k", "id", "score"],
    )
    out = topk_per_key(df, ["k"], [F.col("score").desc(), F.col("id")], 2)
    got = {(r["k"], r["id"], r["rank"]) for r in out.collect()}
    # tie at 20.0 broken by id: id=2 rank 1, id=3 rank 2
    assert got == {("a", 2, 1), ("a", 3, 2), ("b", 4, 1)}


def test_leave_one_out(spark, tiny_events):
    from real_time_recommendation_system_with_feature_store_spark.operators.split import leave_one_out_split

    out = leave_one_out_split(
        tiny_events, "user_id", [F.col("ts").desc(), F.col("event_id").desc()], 1
    )
    test_ids = {r["event_id"] for r in out.where(F.col("split") == "test").collect()}
    assert test_ids == {4, 6}  # latest event per user


def test_time_fraction_split_boundaries(spark):
    from real_time_recommendation_system_with_feature_store_spark.operators.split import time_fraction_split

    df = spark.range(10).select(F.col("id"), F.col("id").alias("t"))
    out = time_fraction_split(df, ["t", "id"], 0.8, 0.1)
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert counts == {"train": 8, "val": 1, "test": 1}  # int(10*.8)=8, int(10*.9)=9


def test_asof_join_ttl_and_tiebreak(spark):
    from real_time_recommendation_system_with_feature_store_spark.operators.asof import asof_join_by_rowid

    left = spark.createDataFrame(
        [(1, "u", ts("2024-01-01 12:00:00")), (2, "u", ts("2024-01-01 13:00:00"))],
        ["row_id", "k", "ts"],
    )
    right = spark.createDataFrame(
        [
            ("u", ts("2024-01-01 11:00:00"), "old"),
            ("u", ts("2024-01-01 11:59:00"), "fresh"),
            ("u", ts("2024-01-01 12:30:00"), "future-for-1"),
        ],
        ["k", "fts", "tag"],
    )
    out = asof_join_by_rowid(left, right, ["k"], "ts", "fts", "row_id", ttl_seconds=1800)
    got = {r["row_id"]: r["tag"] for r in out.collect()}
    # row 1: fresh (11:59 within 30min; 11:00 outside); row 2: 12:30 (within TTL)
    assert got == {1: "fresh", 2: "future-for-1"}


def test_asof_cold_entity_keeps_null(spark):
    from real_time_recommendation_system_with_feature_store_spark.operators.asof import asof_join_by_rowid

    left = spark.createDataFrame([(1, "cold", ts("2024-01-01 12:00:00"))], ["row_id", "k", "ts"])
    right = spark.createDataFrame([("hot", ts("2024-01-01 11:00:00"), 1.0)], ["k", "fts", "v"])
    out = asof_join_by_rowid(left, right, ["k"], "ts", "fts", "row_id").collect()
    assert len(out) == 1 and out[0]["v"] is None


def test_kcore_golden(spark):
    from real_time_recommendation_system_with_feature_store_spark.operators.kcore import kcore_filter

    # user 1 has 3 events, user 2 has 1; item 10 has 2, item 11 has 2
    df = spark.createDataFrame(
        [(1, 10), (1, 10), (1, 11), (2, 11)], ["u", "i"]
    )
    out = kcore_filter(df, "u", "i", min_user=2, min_item=2, iterations=2)
    got = sorted((r["u"], r["i"]) for r in out.collect())
    # round1: user2 dropped (1 event) -> item11 has 1 -> dropped -> user1 keeps 2 events on item10
    assert got == [(1, 10), (1, 10)]
    # the pair-count strategy computes the identical fixpoint
    via_pairs = kcore_filter(df, "u", "i", min_user=2, min_item=2, iterations=2, via_pairs=True)
    assert sorted((r["u"], r["i"]) for r in via_pairs.collect()) == got
    # the broadcast_loop strategy too (hint-free loop, AQE picks the join)
    loop = kcore_filter(df, "u", "i", min_user=2, min_item=2, iterations=2, strategy="broadcast_loop")
    assert sorted((r["u"], r["i"]) for r in loop.collect()) == got


def test_kcore_rejects_unknown_strategy(spark):
    import pytest as _pytest

    from real_time_recommendation_system_with_feature_store_spark.operators.kcore import kcore_filter

    df = spark.createDataFrame([(1, 10)], ["u", "i"])
    with _pytest.raises(ValueError, match="unknown strategy"):
        kcore_filter(df, "u", "i", strategy="window-chain")


def test_sessionize_golden(spark):
    from real_time_recommendation_system_with_feature_store_spark.operators.sessionize import sessionize

    df = spark.createDataFrame(
        [
            (1, 1, ts("2024-01-01 10:00:00")),
            (2, 1, ts("2024-01-01 10:10:00")),   # same session (10 min gap)
            (3, 1, ts("2024-01-01 11:00:00")),   # new session (50 min gap > 30)
            (4, 2, ts("2024-01-01 10:00:00")),
        ],
        ["event_id", "user_id", "ts"],
    )
    out = sessionize(df, "user_id", "ts", gap_seconds=1800, tiebreak="event_id")
    got = {r["event_id"]: r["session_id"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 1}


def test_label_encode_deterministic(spark):
    from real_time_recommendation_system_with_feature_store_spark.operators.encode import label_encode

    df = spark.createDataFrame([("b",), ("a",), ("c",), ("a",)], ["x"])
    out = label_encode(df, "x")
    got = {r["x"]: r["x_idx"] for r in out.collect()}
    assert got == {"a": 0, "b": 1, "c": 2}  # sorted-value order, not frequency


def test_negative_sample_disjoint_and_sized(spark):
    from real_time_recommendation_system_with_feature_store_spark.operators.sampling import negative_sample

    inter = spark.createDataFrame([(1, 10), (1, 11), (2, 10)], ["u", "i"])
    items = spark.createDataFrame([(i,) for i in range(10, 20)], ["i"])
    out = negative_sample(inter, items, "u", "i", n_per_user=3)
    rows = [(r["u"], r["i"]) for r in out.collect()]
    assert len(rows) == 6  # 3 per user
    positives = {(1, 10), (1, 11), (2, 10)}
    assert not (set(rows) & positives)  # SE1: negatives disjoint from positives


def test_exact_dedup_keeps_min_id(spark):
    from real_time_recommendation_system_with_feature_store_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(3, "Hello  World"), (1, "hello world"), (2, "different")], ["id", "txt"]
    )
    out = exact_dedup(df, "txt", "id")
    assert sorted(r["id"] for r in out.collect()) == [1, 2]  # 3 dedups onto 1


def test_dedup_spans_semantics(spark):
    """Span-level corpus rewrite: repeated spans vanish after their first
    corpus occurrence (ordered by (id, pos)), documents reassemble in
    original span order, fully-duplicated documents collapse to empty, and
    results are identical under a different shuffle-partition count."""
    from real_time_recommendation_system_with_feature_store_spark.operators.dedup import dedup_spans

    rows = [
        (1, "a b c d"),        # spans (w=2): "a b", "c d"
        (2, "c d a b x y"),    # both spans already seen -> only "x y" survives
        (3, "a b"),            # fully duplicated -> empty doc
        (4, ""),               # empty text: one ""-span, unique until doc 5
        (5, ""),               # duplicate of doc 4's span -> empty
    ]
    df = spark.createDataFrame(rows, ["doc", "txt"])
    out = {r["doc"]: (r["dedup_text"], r["n_spans_kept"], r["n_spans_total"])
           for r in dedup_spans(df, "txt", "doc", span_words=2).collect()}
    assert out == {
        1: ("a b c d", 2, 2),
        2: ("x y", 1, 3),
        3: ("", 0, 1),
        4: ("", 1, 1),  # the empty span's first occurrence is kept
        5: ("", 0, 1),
    }
    redo = {r["doc"]: (r["dedup_text"], r["n_spans_kept"], r["n_spans_total"])
            for r in dedup_spans(df.repartition(7), "txt", "doc", span_words=2).collect()}
    assert redo == out  # partition-independent keeper choice

    # paragraph mode: separator-delimited units, same first-keeper rule
    pdf = spark.createDataFrame(
        [(1, "intro||shared para||tail"), (2, "shared para||other")], ["doc", "txt"]
    )
    pout = {r["doc"]: r["dedup_text"] for r in dedup_spans(pdf, "txt", "doc", sep="||").collect()}
    assert pout == {1: "intro||shared para||tail", 2: "other"}

    # document scope: repeats removed within a doc, kept across docs
    ddf = spark.createDataFrame([(1, "a b a b c d"), (2, "a b z z")], ["doc", "txt"])
    dout = {r["doc"]: r["dedup_text"]
            for r in dedup_spans(ddf, "txt", "doc", span_words=2, scope="document").collect()}
    assert dout == {1: "a b c d", 2: "a b z z"}  # doc 2 keeps its own "a b"
    import pytest as _pytest
    with _pytest.raises(ValueError):
        dedup_spans(ddf, "txt", "doc", scope="nope")


def test_interval_overlap_join_binned(spark):
    """Binned overlap join equals the naive range predicate on a constructed
    set covering: touching endpoints (closed intervals), containment,
    bin-boundary straddles, disjoint intervals, key isolation, and
    multi-bin spans that must not duplicate pairs."""
    from datetime import datetime

    from real_time_recommendation_system_with_feature_store_spark.operators.asof import interval_overlap_join

    t = lambda d: datetime.fromisoformat(f"2024-01-{d:02d} 00:00:00")
    rows = [
        ("k1", 1, t(1), t(5)),
        ("k1", 2, t(5), t(9)),    # touches 1 at t5 (closed -> overlap)
        ("k1", 3, t(2), t(3)),    # contained in 1
        ("k1", 4, t(20), t(21)),  # disjoint
        ("k2", 5, t(1), t(5)),    # other key: never pairs with k1
        ("k1", 6, t(1), t(25)),   # spans many bins: pairs once each
    ]
    df = spark.createDataFrame(rows, ["k", "iid", "s", "e"])
    a = df.select("k", F.col("iid").alias("ia"), F.col("s").alias("sa"), F.col("e").alias("ea"))
    b = df.select("k", F.col("iid").alias("ib"), F.col("s").alias("sb"), F.col("e").alias("eb"))
    got = {
        (r["ia"], r["ib"])
        for r in interval_overlap_join(
            a, b, "ia", "ib", "sa", "ea", "sb", "eb", keys=["k"], bin_seconds=3 * 86400
        ).where(F.col("ia") < F.col("ib")).collect()
    }
    naive = {
        (x[1], y[1])
        for x in rows for y in rows
        if x[0] == y[0] and x[1] < y[1] and x[2] <= y[3] and y[2] <= x[3]
    }
    assert got == naive
    assert (1, 2) in got and (1, 3) in got and (4, 6) in got
    assert all(5 not in p for p in got if p != (5, 5))


def test_connected_components_paths_agree(spark):
    """The cost-gated driver union-find and the distributed min-label loop
    are the same function: identical labels on a graph with a chain (tests
    multi-hop propagation), a triangle, an isolated edge, and min-id
    keepers that enter via either endpoint."""
    from real_time_recommendation_system_with_feature_store_spark.operators.dedup import connected_components

    edges = [(5, 9), (9, 2), (2, 7), (11, 12), (12, 11), (20, 21), (3, 30), (30, 1)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    fast = {r["node_id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    dist = {r["node_id"]: r["cluster_id"]
            for r in connected_components(pairs, small_input_bytes=0).collect()}
    assert fast == dist
    assert fast[5] == fast[9] == fast[2] == fast[7] == 2      # chain collapses to min
    assert fast[11] == fast[12] == 11
    assert fast[3] == fast[30] == fast[1] == 1
    # the hint overrides a pessimistic static estimate in either direction
    hinted = {r["node_id"]: r["cluster_id"]
              for r in connected_components(pairs, edge_count_hint=len(edges)).collect()}
    assert hinted == fast


def test_connected_components_string_ids_ignore_count_hint(spark, monkeypatch):
    """With variable-width (string) ids the bytes-per-edge constant is
    unknowable from a count alone, so edge_count_hint must NOT drive the
    driver-collect gate — the decision falls through to the Catalyst plan
    estimate, which prices string columns (r11 VERDICT nit #3). Long ids
    with a small hint therefore take the DISTRIBUTED branch when the plan
    estimate is large, and labels still agree with the driver path."""
    import real_time_recommendation_system_with_feature_store_spark.operators.kcore as kcore
    from real_time_recommendation_system_with_feature_store_spark.operators.dedup import (
        _edge_width_bytes,
        connected_components,
    )

    big = "x" * 4000
    edges = [(f"{big}-a", f"{big}-b"), (f"{big}-b", f"{big}-c"), (f"{big}-z", f"{big}-q")]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    assert _edge_width_bytes(pairs.schema) is None

    calls = []
    real = kcore._plan_size_bytes

    def spy(df):
        calls.append(1)
        return 100 << 30  # "huge": force the distributed branch

    monkeypatch.setattr(kcore, "_plan_size_bytes", spy)
    got = {r["node_id"]: r["cluster_id"]
           for r in connected_components(pairs, edge_count_hint=3).collect()}
    monkeypatch.setattr(kcore, "_plan_size_bytes", real)
    assert calls, "string ids must consult the plan estimate, not the hint"
    want = {r["node_id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert got == want
    assert got[f"{big}-a"] == got[f"{big}-b"] == got[f"{big}-c"] == f"{big}-a"

    # integral ids keep honoring the hint: schema-derived width, one job
    ints = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    assert _edge_width_bytes(ints.schema) == 48


def test_dedup_spans_incremental_probes_index(spark):
    """Incremental batch rewrite: spans already in the corpus index vanish,
    new spans follow the in-batch first-occurrence rule, and folding the
    batch into the index makes a replay of the SAME batch collapse to
    all-duplicates — the idempotent-ingest contract."""
    from real_time_recommendation_system_with_feature_store_spark.operators.dedup import (
        dedup_spans_incremental,
        span_index,
    )

    corpus = spark.createDataFrame([(1, "a b c d")], ["doc", "txt"])
    idx = span_index(corpus, "txt", "doc", span_words=2)
    batch = spark.createDataFrame(
        [(10, "a b x y"), (11, "x y z w")], ["doc", "txt"]
    )
    out = {r["doc"]: (r["dedup_text"], r["n_spans_kept"], r["n_spans_total"])
           for r in dedup_spans_incremental(batch, idx, "txt", "doc", span_words=2).collect()}
    # "a b" is corpus-indexed -> dropped; "x y" first occurs in doc 10
    assert out == {10: ("x y", 1, 2), 11: ("z w", 1, 2)}

    folded = idx.unionByName(span_index(batch, "txt", "doc", span_words=2)).distinct()
    replay = {r["doc"]: r["dedup_text"]
              for r in dedup_spans_incremental(batch, folded, "txt", "doc", span_words=2).collect()}
    assert replay == {10: "", 11: ""}


def test_semantic_dedup_groups_and_keepers(spark):
    """SemDeDup semantics on a constructed corpus: two tight semantic
    groups plus an isolated vector. Near-identical vectors land in one
    cluster with the min id as keeper regardless of cell assignment;
    the isolated vector keeps itself; exactly one keeper per cluster."""
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import semantic_dedup

    rows = [
        (1, [1.0, 0.0, 0.0]), (2, [0.999, 0.01, 0.0]), (5, [0.998, 0.02, 0.0]),
        (3, [0.0, 1.0, 0.0]), (4, [0.0, 0.999, 0.01]),
        (9, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, ["vid", "embedding"])
    out = {r["vid"]: (r["cluster_id"], r["is_keeper"])
           for r in semantic_dedup(df, "vid", n_cells=3, threshold=0.9, refine_iters=1).collect()}
    assert out[1] == (1, 1) and out[2] == (1, 0) and out[5] == (1, 0)
    assert out[3] == (3, 1) and out[4] == (3, 0)
    assert out[9] == (9, 1)
    # deterministic under a different partitioning
    redo = {r["vid"]: (r["cluster_id"], r["is_keeper"])
            for r in semantic_dedup(df.repartition(5), "vid", n_cells=3, threshold=0.9).collect()}
    assert redo == out

    # paper keep-policy: the member LEAST similar to its cell centroid stays.
    # ids 1,2,5 form one group; id 5 (0.998, 0.02) sits farthest from the
    # cluster-1 centroid, so it is the keeper under low_centroid_sim
    paper = {r["vid"]: r["is_keeper"]
             for r in semantic_dedup(df, "vid", n_cells=3, threshold=0.9,
                                     keeper="low_centroid_sim").collect()}
    group = {v: k for v, k in paper.items() if v in (1, 2, 5)}
    assert sum(group.values()) == 1  # exactly one keeper per group
    assert paper[9] == 1             # singletons always keep themselves
    import pytest as _pytest
    with _pytest.raises(ValueError):
        semantic_dedup(df, "vid", keeper="nope").collect()


def test_knn_self_similarity_and_ranking(spark):
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import brute_force_topk

    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),   # closest to 1
            (3, [0.0, 1.0]),   # orthogonal to 1
        ],
        ["id", "embedding"],
    )
    q = vecs.where(F.col("id") == 1).select(F.col("id").alias("qid"), "embedding")
    it = vecs.select(F.col("id").alias("iid"), "embedding")
    out = brute_force_topk(q, it, "qid", "iid", k=2)
    got = [(r["iid"], r["rank"]) for r in out.orderBy("rank").collect()]
    assert got == [(2, 1), (3, 2)]


def test_ranking_metrics_golden(spark):
    """Reference test pattern: recall 2/4=0.5 etc (test_evaluation_metrics.py)."""
    from real_time_recommendation_system_with_feature_store_spark.evaluation.metrics import ranking_metrics

    # user 1: truth {a,b,c,d}; recs hit a@1, b@3 within k=5
    recs = spark.createDataFrame(
        [(1, "a", 1), (1, "x", 2), (1, "b", 3), (1, "y", 4), (1, "z", 5)],
        ["user_idx", "item_idx", "rank"],
    )
    truth = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (1, "d")], ["user_idx", "item_idx"]
    )
    row = ranking_metrics(recs, truth, k=5).collect()[0]
    assert row["recall_at_5"] == pytest.approx(2 / 4)
    assert row["precision_at_5"] == pytest.approx(2 / 5)
    assert row["hit_rate_at_5"] == 1.0
    assert row["mrr_at_5"] == 1.0  # first hit at rank 1
    # AP = (1/1 + 2/3)/min(4,5) = (1 + 0.666667)/4
    assert row["map_at_5"] == pytest.approx((1 + 2 / 3) / 4, abs=1e-6)
    import math

    dcg = 1 / math.log2(2) + 1 / math.log2(4)
    idcg = sum(1 / math.log2(i + 1) for i in range(1, 5))
    assert row["ndcg_at_5"] == pytest.approx(dcg / idcg, abs=1e-6)


def test_multimodal_plumbing(spark):
    from real_time_recommendation_system_with_feature_store_spark.operators.multimodal import attach_binary, decode_metadata

    df = spark.createDataFrame([(1, "hello"), (2, "a" * 100)], ["doc_id", "text"])
    out = decode_metadata(attach_binary(df, "text"), "doc_id").collect()
    by_id = {r["id"]: r for r in out}
    assert by_id[1]["n_bytes"] == 5 and by_id[2]["n_bytes"] == 100
    assert by_id[2]["width"] == 100 % 64 + 16

    import pytest as _pt

    with _pt.raises(Exception):  # strict mode surfaces NotImplementedError
        decode_metadata(attach_binary(df, "text"), "doc_id", strict=True).collect()


def test_connected_components_golden(spark):
    """Chain 1-2-3, pair 7-9, isolated-by-edge 4-5: min-label clusters."""
    from real_time_recommendation_system_with_feature_store_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (4, 5)], "id_a long, id_b long"
    )
    got = {
        (r["node_id"], r["cluster_id"])
        for r in connected_components(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (7, 7), (9, 7), (4, 4), (5, 4)}


def test_multimodal_kernels(spark):
    """Resize/frame-sample/feature-extract stubs: real Arrow plumbing —
    shapes, determinism, row expansion, and composition into the ANN tier."""
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import brute_force_topk
    from real_time_recommendation_system_with_feature_store_spark.operators.multimodal import (
        attach_binary,
        extract_features,
        resize_images,
        sample_frames,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    blobs = attach_binary(docs, "text")

    r = resize_images(blobs, "doc_id", width=8, height=8).collect()
    assert len(r) == 20 and all(len(bytes(x["blob"])) == 64 for x in r)

    fr = sample_frames(blobs, "doc_id", n_frames=3)
    assert fr.count() == 60
    assert fr.groupBy("id").count().where("count != 3").count() == 0

    emb = extract_features(blobs, "doc_id", dim=16)
    rows = emb.collect()
    assert all(len(x["embedding"]) == 16 for x in rows)
    # determinism: same blob -> same vector
    again = {x["id"]: x["embedding"] for x in extract_features(blobs, "doc_id", dim=16).collect()}
    assert all(again[x["id"]] == x["embedding"] for x in rows)
    # composition: extracted features feed similarity search directly
    q = emb.where(F.col("id") < 3).withColumnRenamed("id", "qid")
    it = emb.withColumnRenamed("id", "iid")
    top = brute_force_topk(q, it, "qid", "iid", k=2, exclude_self=False)
    best = {r["qid"]: r["iid"] for r in top.where(F.col("rank") == 1).collect()}
    assert best == {0: 0, 1: 1, 2: 2}  # self is always the nearest at rank 1


def test_pack_by_token_budget_golden(spark):
    """Doc stream 600+900+800+1000 tokens, budget 1024: doc2 starts at token
    600 (chunk 0), doc3 at 1500 (chunk 1), doc4 at 2300 (chunk 2) — docs may
    span boundaries, the chunk is where the FIRST token lands."""
    from real_time_recommendation_system_with_feature_store_spark.operators.packing import pack_by_token_budget

    df = spark.createDataFrame(
        [(1, 600), (2, 900), (3, 800), (4, 1000)], ["doc_id", "n_tokens"]
    )
    out = {
        r["doc_id"]: (r["chunk_id"], r["chunk_offset"])
        for r in pack_by_token_budget(df, "n_tokens", ["doc_id"], budget=1024).collect()
    }
    assert out == {1: (0, 0), 2: (0, 600), 3: (1, 476), 4: (2, 252)}


def test_pack_by_token_budget_sharded_restarts(spark):
    from real_time_recommendation_system_with_feature_store_spark.operators.packing import pack_by_token_budget

    df = spark.createDataFrame(
        [("a", 1, 700), ("a", 2, 700), ("b", 3, 700)], ["shard", "doc_id", "n_tokens"]
    )
    out = {
        r["doc_id"]: (r["chunk_id"], r["chunk_offset"])
        for r in pack_by_token_budget(
            df, "n_tokens", ["doc_id"], budget=1024, shard_col="shard"
        ).collect()
    }
    # chunk ids restart per shard; doc 3 is shard b's first doc
    assert out == {1: (0, 0), 2: (0, 700), 3: (0, 0)}


def test_scd2_snapshot_matches_asof(spark):
    """snapshot_at(scd2 history, t) must equal the as-of read: exactly the
    latest change at-or-before t per key that has one."""
    from real_time_recommendation_system_with_feature_store_spark.operators.scd import scd2_from_changelog, snapshot_at

    rows = [
        (1, 10, "a"), (1, 20, "b"), (1, 30, "c"),
        (2, 25, "x"),
        (3, 40, "z"),  # after the snapshot instant
    ]
    log = spark.createDataFrame(rows, "k int, ts int, v string")
    hist = scd2_from_changelog(log, ["k"], "ts")
    snap = {(r["k"], r["v"]) for r in snapshot_at(hist, F.lit(26)).collect()}
    assert snap == {(1, "b"), (2, "x")}
    # every key's intervals tile without overlap: n_versions - 1 closed rows
    agg = hist.groupBy("k").agg(
        F.count("*").alias("n"), F.count("valid_to").alias("closed")
    ).collect()
    assert all(r["closed"] == r["n"] - 1 for r in agg)


def test_scd2_incremental_equals_full_rebuild(spark):
    """Applying a delta incrementally must equal rebuilding from the full
    concatenated changelog, and closed rows must pass through unchanged."""
    from real_time_recommendation_system_with_feature_store_spark.operators.scd import (
        scd2_apply_increment,
        scd2_from_changelog,
    )

    base_rows = [(1, 10, "a"), (1, 20, "b"), (2, 15, "x")]
    delta_rows = [(1, 30, "c"), (2, 40, "y"), (3, 35, "z")]
    base = spark.createDataFrame(base_rows, "k int, ts int, v string")
    delta = spark.createDataFrame(delta_rows, "k int, ts int, v string")

    hist = scd2_from_changelog(base, ["k"], "ts")
    inc = scd2_apply_increment(hist, delta, ["k"], "ts")
    full = scd2_from_changelog(base.unionByName(delta), ["k"], "ts")

    key = lambda r: (r["k"], r["ts"], r["v"], r["valid_from"], r["valid_to"])
    assert sorted(map(key, inc.collect())) == sorted(map(key, full.collect()))


def test_asof_union_matches_range_join(spark):
    """The merge-style (union+window) as-of must agree with the range-join
    operator on real data, with and without TTL."""
    from real_time_recommendation_system_with_feature_store_spark.operators.asof import asof_join, asof_join_union
    from real_time_recommendation_system_with_feature_store_spark.session import load_tables

    ev = load_tables(spark, "/root/testdata/sf0.001", register=False)["events"]
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("value").alias("click_value"),
        F.col("event_id").alias("click_id"),
    )
    for ttl in (None, 3600.0):
        a = asof_join(
            purchases, clicks, ["user_id"], "ts", "click_ts",
            ttl_seconds=ttl, tiebreak=["click_id"],
        )
        b = asof_join_union(
            purchases, clicks, ["user_id"], "ts", "click_ts",
            ttl_seconds=ttl, tiebreak=["click_id"],
        )
        cols = sorted(a.columns)
        assert sorted(b.columns) == cols
        ra = sorted(tuple(str(r[c]) for c in cols) for r in a.collect())
        rb = sorted(tuple(str(r[c]) for c in cols) for r in b.collect())
        assert ra == rb and len(ra) > 0


def test_tree_ensemble_model_matches_hand_eval():
    import numpy as np

    from real_time_recommendation_system_with_feature_store_spark.scoring import TreeEnsembleModel

    m = TreeEnsembleModel(
        trees=(
            ("split", 0, 1.0, ("leaf", 10.0), ("leaf", 20.0)),
            ("split", 1, 5.0, ("split", 0, 0.0, ("leaf", 1.0), ("leaf", 2.0)), ("leaf", 3.0)),
        ),
        base=100.0,
        learning_rate=0.5,
    )
    X = np.array([[0.0, 4.0], [2.0, 4.0], [2.0, 6.0], [-1.0, 9.0]])
    #     tree1: <=1 -> 10 | >1 -> 20 ; tree2: y<=5 then (x<=0 -> 1 | 2) else 3
    want = 100.0 + 0.5 * np.array([10 + 1, 20 + 2, 20 + 3, 10 + 3], dtype="float64")
    assert np.allclose(m.predict(X), want)


def test_tree_scorer_is_single_arrow_stage(spark):
    """The scorer must appear as ONE ArrowEvalPython/pandas_udf stage in the
    plan — broadcast model, no per-row Python UDF."""
    from real_time_recommendation_system_with_feature_store_spark.queries import QUERIES

    df = QUERIES["tree_rerank_topk"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_negative_sample_heavy_user_exact_n_and_index_path(spark):
    """Adaptive draw budget: a user whose positives cover 80% of the catalog
    still gets EXACTLY n negatives (the fixed base budget used to undershoot);
    a fully-saturated user draws nothing; the precomputed-index path is
    bit-identical to the inline one."""
    from real_time_recommendation_system_with_feature_store_spark.operators.sampling import (
        build_item_index,
        negative_sample,
    )

    items = spark.createDataFrame([(i,) for i in range(20)], "i int")
    rows = (
        [(1, i) for i in range(16)]      # heavy: 16/20 positive, complement=4
        + [(2, 0), (2, 1)]               # light
        + [(3, i) for i in range(20)]    # saturated: complement empty
    )
    inter = spark.createDataFrame(rows, "u int, i int")
    out = negative_sample(inter, items, "u", "i", n_per_user=4)
    got = [(r["u"], r["i"]) for r in out.collect()]
    from collections import Counter

    per_user = Counter(u for u, _ in got)
    assert per_user[1] == 4, per_user     # heavy user reaches exact n
    assert per_user[2] == 4, per_user
    assert 3 not in per_user, per_user    # nothing to draw from
    assert not (set(got) & set(rows))

    idx = build_item_index(items, "i")
    again = [
        (r["u"], r["i"])
        for r in negative_sample(
            inter, items, "u", "i", n_per_user=4, item_index=idx, n_items=20
        ).collect()
    ]
    assert sorted(again) == sorted(got)


def test_ngram_repetition_profile_golden(spark):
    """Hand-computed repetition fractions (SURVEY §5 golden-value pattern)."""
    from real_time_recommendation_system_with_feature_store_spark.functions.text import ngram_repetition_profile

    df = spark.createDataFrame(
        [
            # "a b" occurs 2x among 4 bigrams of 5 words -> 2*2/5 = 0.8;
            # all trigrams unique -> 3/5 = 0.6; single 5-gram -> dup5 0
            (1, "a b a b c"),
            # "x x" occurs 5x in 6 words -> 5*2/6 = 1.67 capped at 1.0;
            # "x x x" 4x -> 4*3/6 = 2.0 capped; "x x x x x" 2x -> cap 1.0
            (2, "x x x x x x"),
            # fewer words than every n -> all zero
            (3, "solo"),
            # "p q r s t" repeats: dup5 = 2*5/10 = 1.0; top2 "p q" 2x -> 0.4
            (4, "p q r s t p q r s t"),
        ],
        "doc_id int, text string",
    )
    rows = {
        r["doc_id"]: r.asDict()
        for r in ngram_repetition_profile(df, "text", "doc_id").collect()
    }
    assert rows[1] == {"doc_id": 1, "n_words": 5, "top2_frac": 0.8, "top3_frac": 0.6, "dup5_frac": 0.0}
    assert rows[2] == {"doc_id": 2, "n_words": 6, "top2_frac": 1.0, "top3_frac": 1.0, "dup5_frac": 1.0}
    assert rows[3] == {"doc_id": 3, "n_words": 1, "top2_frac": 0.0, "top3_frac": 0.0, "dup5_frac": 0.0}
    assert rows[4] == {"doc_id": 4, "n_words": 10, "top2_frac": 0.4, "top3_frac": 0.6, "dup5_frac": 1.0}


def test_chunk_documents_golden(spark):
    """Hand-computed sliding windows: max=5, overlap=2 (step 3)."""
    from real_time_recommendation_system_with_feature_store_spark.operators.packing import chunk_documents

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),   # n=8 -> chunks at 0 ([a..e]) and 3 ([d..h])
            (2, "x y"),               # n=2 <= max -> one whole chunk
            (3, "   "),               # no tokens -> no rows
            (4, "\t\t"),              # tabs only -> no rows
            (5, "\n"),                # newline only -> no rows
            (6, " \t \n "),           # mixed whitespace -> no rows
        ],
        "doc_id int, text string",
    )
    rows = sorted(
        (r["doc_id"], r["chunk_idx"], r["start_token"], r["n_chunk_tokens"], r["chunk_text"])
        for r in chunk_documents(df, "text", "doc_id", max_tokens=5, overlap=2).collect()
    )
    assert rows == [
        (1, 0, 0, 5, "a b c d e"),
        (1, 1, 3, 5, "d e f g h"),
        (2, 0, 0, 2, "x y"),
    ]


def test_verbatim_span_pairs_alignment_independent(spark):
    """Content-defined sampling must catch a shared verbatim span at
    DIFFERENT character offsets in the two docs (a positional stride would
    only match span shifts that are stride multiples), and emit nothing for
    disjoint docs."""
    from real_time_recommendation_system_with_feature_store_spark.operators.dedup import verbatim_span_pairs

    span = " ".join(f"tok{i}" for i in range(40))  # ~240 chars of shared text
    df = spark.createDataFrame(
        [
            (1, "intro words here " + span),     # span at offset 17
            (2, span + " trailing remark"),      # span at offset 0
            (3, " ".join(f"other{i}" for i in range(60))),  # disjoint
        ],
        "doc_id int, text string",
    )
    rows = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in verbatim_span_pairs(df, "text", "doc_id", gram_chars=50, mod_stride=8).collect()
    }
    assert (1, 2) in rows and rows[(1, 2)] >= 1
    assert all(k == (1, 2) for k in rows)


def test_mixture_resample_hits_targets_and_is_partition_stable(spark):
    """Achieved shares track targets; the binding (scarcest-vs-target) domain
    keeps every row; output is identical under a different partitioning."""
    from real_time_recommendation_system_with_feature_store_spark.operators.corpus import mixture_resample

    rows = (
        [(i, "en") for i in range(4000)]
        + [(i + 10_000, "de") for i in range(1000)]
        + [(i + 20_000, "fr") for i in range(200)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    targets = {"en": 0.5, "de": 0.25, "fr": 0.25}
    out = mixture_resample(df, "lang", targets, ["doc_id"]).toPandas()
    got = out.groupby("lang").size().to_dict()
    # fr is binding: T = 200/.25 = 800 -> en .5*800=400 of 4000, de 200 of 1000
    assert got["fr"] == 200
    for lang, expect in {"en": 400, "de": 200}.items():
        assert abs(got[lang] - expect) / expect < 0.2, (lang, got)
    out2 = mixture_resample(df.repartition(13, "lang"), "lang", targets, ["doc_id"]).toPandas()
    assert sorted(out.doc_id) == sorted(out2.doc_id)


def test_grouped_fraction_split_groups_never_straddle(spark):
    """Every row of a group shares a fold; folds are exhaustive and track
    their fractions."""
    from real_time_recommendation_system_with_feature_store_spark.operators.corpus import grouped_fraction_split

    df = spark.createDataFrame(
        [(i, f"g{i % 400}") for i in range(2000)], "row_id long, grp string"
    )
    out = grouped_fraction_split(
        df, "grp", [("train", 0.8), ("valid", 0.1), ("test", 0.1)]
    ).toPandas()
    assert out.fold.notna().all() and set(out.fold) <= {"train", "valid", "test"}
    assert (out.groupby("grp").fold.nunique() == 1).all()
    shares = out.groupby("fold").size() / len(out)
    assert 0.6 < shares.get("train", 0) < 0.95


def test_cluster_keepers_quality_rule(spark):
    """One keeper per cluster, and it is the longest member (tie -> min id);
    docs in no pair are their own keepers."""
    from real_time_recommendation_system_with_feature_store_spark.operators.corpus import cluster_keepers
    import pyspark.sql.functions as F

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (7, 5), (9, 50), (4, 1)],
        "doc_id long, n_chars long",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 9)], "id_a long, id_b long")
    out = cluster_keepers(docs, pairs, "doc_id", F.col("n_chars")).toPandas()
    keep = set(out[out.is_keeper].doc_id)
    assert keep == {2, 9, 4}  # 2 beats 3 on id at equal length; 9 longest; 4 singleton
    assert (out.groupby("cluster_id").is_keeper.sum() == 1).all()


def test_char_bigram_lm_scores_match_python_reference(spark):
    """Laplace char-bigram avg-NLL agrees with a Counter-based reference."""
    import math
    from collections import Counter

    from real_time_recommendation_system_with_feature_store_spark.operators.corpus import char_bigram_lm_scores

    texts = {1: "abab", 2: "abcd", 3: "aaaa", 4: "zq", 5: "x"}  # 5 has no bigram
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    big = Counter()
    for t in texts.values():
        t = t.lower().strip()
        big.update(t[i : i + 2] for i in range(len(t) - 1))
    pre = Counter()
    for bg, c in big.items():
        pre[bg[0]] += c
    v = len({bg[1] for bg in big})
    expect = {}
    for d, t in texts.items():
        t = t.lower().strip()
        gs = [t[i : i + 2] for i in range(len(t) - 1)]
        if not gs:
            continue
        nll = -sum(math.log((big[g] + 1.0) / (pre[g[0]] + 1.0 * v)) for g in gs) / len(gs)
        expect[d] = round(nll, 6)
    got = {
        r["doc_id"]: r["avg_nll"]
        for r in char_bigram_lm_scores(df, "text", "doc_id").collect()
    }
    assert set(got) == set(expect)
    for d in expect:
        assert abs(got[d] - expect[d]) < 1e-9, (d, got[d], expect[d])


def test_bpe_train_and_encode_golden(spark):
    """Known corpus, known merges: l+o -> lo, lo+w -> low, e+r -> er, e+w -> ew
    (freq-weighted argmax with count-desc/left/right tie-break); encoding
    applies merges in learned order with greedy left-to-right fusion."""
    from real_time_recommendation_system_with_feature_store_spark.operators.bpe import bpe_encode, bpe_train

    df = spark.createDataFrame(
        [(1, "low low low lowest"), (2, "newer newer wider")], "doc_id long, text string"
    )
    m = bpe_train(df, "text", n_merges=4, min_count=2)
    got = [(r["round"], r["left"], r["right"], r["pair_count"]) for r in m.orderBy("round").collect()]
    assert got == [(1, "l", "o", 4), (2, "lo", "w", 4), (3, "e", "r", 3), (4, "e", "w", 2)]
    enc = {r["doc_id"]: r["tokens"] for r in bpe_encode(df, "text", "doc_id", m).collect()}
    assert enc[1] == ["low", "low", "low", "low", "e", "s", "t"]
    assert enc[2] == ["n", "ew", "er", "n", "ew", "er", "w", "i", "d", "er"]


def test_bpe_encode_greedy_overlap(spark):
    """BPE's greedy left-to-right fusion on runs: merging (a,a) over 'aaaa'
    gives [aa, aa]; over 'aaaaa' gives [aa, aa, a] — and a merge never fuses
    across a longer token's prefix (a + ab stays un-merged)."""
    from real_time_recommendation_system_with_feature_store_spark.operators.bpe import bpe_encode

    merges = spark.createDataFrame(
        [(1, "a", "a", 99)], "round int, left string, right string, pair_count bigint"
    )
    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "aaaaa"), (3, "ab aab")], "doc_id long, text string"
    )
    enc = {r["doc_id"]: r["tokens"] for r in bpe_encode(df, "text", "doc_id", merges).collect()}
    assert enc[1] == ["aa", "aa"]
    assert enc[2] == ["aa", "aa", "a"]
    assert enc[3] == ["a", "b", "aa", "b"]


def test_bpe_many_rounds_converges_words(spark):
    """Long training (crossing the lineage-checkpoint boundary) drives every
    frequent word to a single token; encoding then yields one token per word."""
    from real_time_recommendation_system_with_feature_store_spark.operators.bpe import bpe_encode, bpe_train

    df = spark.createDataFrame(
        [(1, "alpha beta gamma alpha beta"), (2, "beta gamma alpha gamma")],
        "doc_id long, text string",
    )
    m = bpe_train(df, "text", n_merges=20, min_count=1, checkpoint_every=4)
    rounds = [r["round"] for r in m.orderBy("round").collect()]
    assert rounds == list(range(1, len(rounds) + 1))
    # alpha/beta/gamma need 4+3+4 = 11 merges to fuse completely
    assert len(rounds) == 11
    enc = {r["doc_id"]: r["tokens"] for r in bpe_encode(df, "text", "doc_id", m).collect()}
    assert enc[1] == ["alpha", "beta", "gamma", "alpha", "beta"]
    assert enc[2] == ["beta", "gamma", "alpha", "gamma"]


def test_bpe_merge_never_fires_on_token_suffix(spark):
    """Regression (review finding): with merges [(a,b), (b,b)] the word 'abb'
    must encode as [ab, b] — the (b,b) merge may not match the 'b' inside the
    already-merged token 'ab'. Training on such a corpus must likewise never
    count a pair across a token's interior."""
    from real_time_recommendation_system_with_feature_store_spark.operators.bpe import bpe_encode, bpe_train

    df = spark.createDataFrame(
        [(1, "ab ab ab ab"), (2, "bb bb bb"), (3, "abb")], "doc_id long, text string"
    )
    m = bpe_train(df, "text", n_merges=2, min_count=2)
    got = [(r["left"], r["right"]) for r in m.orderBy("round").collect()]
    assert got == [("a", "b"), ("b", "b")]
    enc = {r["doc_id"]: r["tokens"] for r in bpe_encode(df, "text", "doc_id", m).collect()}
    assert enc[3] == ["ab", "b"], enc[3]
    # learned vocabulary is closed: every emitted token is a char or a merge product
    learned = {"a", "b", "ab", "bb"}
    assert set(t for ts in enc.values() for t in ts) <= learned


def test_bpe_encode_arrow_kernel_matches_expr(spark):
    """The Python-loop Arrow encoder (production-sized merge tables) and the
    folded-expression encoder produce identical token arrays."""
    from real_time_recommendation_system_with_feature_store_spark.operators.bpe import bpe_encode, bpe_train

    docs = spark.read.parquet(
        f"{__import__('os').environ.get('SPARK_GRAFT_TEST_SF_DIR', '/root/testdata/sf0.001')}/documents.parquet"
    )
    m = bpe_train(docs, "text", n_merges=6, min_count=2)
    expr = {
        r["doc_id"]: (r["tokens"], r["n_tokens"])
        for r in bpe_encode(docs, "text", "doc_id", m, kernel="expr").collect()
    }
    arrow = {
        r["doc_id"]: (r["tokens"], r["n_tokens"])
        for r in bpe_encode(docs, "text", "doc_id", m, kernel="arrow").collect()
    }
    assert expr == arrow


def test_mixture_resample_missing_target_domain_empties_result(spark):
    """A target domain with zero corpus rows caps the mixture at T=0: the
    result is empty rather than silently renormalized (a misspelled domain
    key must be loudly visible)."""
    from real_time_recommendation_system_with_feature_store_spark.operators.corpus import mixture_resample

    df = spark.createDataFrame([(i, "en") for i in range(50)], "doc_id long, lang string")
    out = mixture_resample(df, "lang", {"en": 0.5, "xx": 0.5}, ["doc_id"])
    assert out.count() == 0


def test_ngram_repetition_profile_null_text(spark):
    """NULL texts must be filtered, not crash the Arrow kernel."""
    from real_time_recommendation_system_with_feature_store_spark.functions.text import ngram_repetition_profile

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, None), (3, "")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in ngram_repetition_profile(df, "text", "doc_id").collect()}
    assert set(rows) == {1, 3}
    assert rows[1]["top2_frac"] > 0.9
    assert rows[3]["n_words"] == 0 and rows[3]["dup5_frac"] == 0.0


def test_negative_sample_out_of_catalog_positives(spark):
    """Positives outside the items catalog must not consume draw budget or
    hide users: a user whose 30 positives include only 5 catalog items
    budgets against p=5 and still receives n negatives from the remaining
    catalog complement."""
    from real_time_recommendation_system_with_feature_store_spark.operators.sampling import negative_sample

    inter = spark.createDataFrame(
        [(1, i) for i in range(100, 125)]  # 25 retired items, not in catalog
        + [(1, i) for i in range(5)]       # 5 catalog positives
        + [(2, 200)],                      # user 2: ONLY out-of-catalog positives
        "user_id long, item_id long",
    )
    items = spark.createDataFrame([(i,) for i in range(20)], "item_id long")
    out = negative_sample(inter, items, "user_id", "item_id", n_per_user=5)
    got = out.toPandas()
    by_user = got.groupby("user_id").item_id.apply(set).to_dict()
    assert len(by_user.get(1, set())) == 5
    assert by_user[1].isdisjoint(set(range(5)))  # never a catalog positive
    assert len(by_user.get(2, set())) == 5       # full budget despite p_raw=1


def test_scrub_pii_golden(spark):
    """Typed redaction with per-category counts; replace order protects IPv4
    octets from the long-number pass and email digits from both."""
    from real_time_recommendation_system_with_feature_store_spark.operators.corpus import scrub_pii

    df = spark.createDataFrame(
        [
            (1, "reach me: john.doe+x@ex-ample.org or 10.0.255.1, acct 12345678"),
            (2, "clean text, short nums 123 and 1.2.3 stay"),
            (3, "two mails a@b.co c@d.org and 999.999.999.999"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in scrub_pii(df, "text", "doc_id").collect()}
    assert out[1]["redacted"] == "reach me: <EMAIL> or <IP>, acct <NUM>"
    assert (out[1]["n_emails"], out[1]["n_ipv4"], out[1]["n_long_numbers"]) == (1, 1, 1)
    assert out[2]["redacted"] == "clean text, short nums 123 and 1.2.3 stay"
    assert (out[2]["n_emails"], out[2]["n_ipv4"], out[2]["n_long_numbers"]) == (0, 0, 0)
    assert out[3]["redacted"] == "two mails <EMAIL> <EMAIL> and <IP>"
    assert out[3]["n_emails"] == 2 and out[3]["n_ipv4"] == 1


def test_bpe_encode_null_text_kernel_parity(spark):
    """NULL / whitespace-only docs: both encode kernels must agree on
    (tokens=[], n_tokens=0) — the expr path coalesces NULL text so it can't
    propagate NULL arrays while the arrow path yields empties."""
    from real_time_recommendation_system_with_feature_store_spark.operators.bpe import bpe_encode, bpe_train

    df = spark.createDataFrame(
        [(1, "aa bb aa bb"), (2, None), (3, "   "), (4, "aa aa bb")],
        "doc_id long, text string",
    )
    m = bpe_train(df.where(F.col("text").isNotNull()), "text", n_merges=3, min_count=1)
    expr = {
        r["doc_id"]: (r["tokens"], r["n_tokens"])
        for r in bpe_encode(df, "text", "doc_id", m, kernel="expr").collect()
    }
    arrow = {
        r["doc_id"]: (r["tokens"], r["n_tokens"])
        for r in bpe_encode(df, "text", "doc_id", m, kernel="arrow").collect()
    }
    assert expr == arrow
    assert expr[2] == ([], 0) and expr[3] == ([], 0)
    assert expr[1][1] > 0


def test_charlm_forced_arrow_respects_model_gate(spark):
    """kernel='arrow' must not bypass max_model_rows: an over-gate model
    raises instead of collecting unbounded rows to the driver; kernel='auto'
    falls back to the relational path and still matches the expr results."""
    import pytest as _pytest

    from real_time_recommendation_system_with_feature_store_spark.operators.corpus import char_bigram_lm_scores

    df = spark.createDataFrame(
        [(i, f"abcdefgh {i} stuvwxyz") for i in range(20)], "doc_id long, text string"
    )
    with _pytest.raises(ValueError, match="max_model_rows"):
        char_bigram_lm_scores(df, "text", "doc_id", kernel="arrow", max_model_rows=3)
    auto = {
        tuple(r)
        for r in char_bigram_lm_scores(
            df, "text", "doc_id", kernel="auto", max_model_rows=3
        ).collect()
    }
    expr = {
        tuple(r) for r in char_bigram_lm_scores(df, "text", "doc_id", kernel="expr").collect()
    }
    assert auto == expr and len(auto) == 20


def test_cross_corpus_overlap_stop_shingle_cut(spark):
    """max_shingle_df drops ONLY overlap contributed by hot train shingles:
    n_common shrinks by exactly the dropped common shingles, pairs whose
    overlap relied entirely on boilerplate disappear, and the eval_overlap
    denominator (|eval shingles|) is unchanged."""
    from real_time_recommendation_system_with_feature_store_spark.operators.dedup import cross_corpus_overlap

    train = spark.createDataFrame(
        [
            (1, "alpha beta unique one thing"),
            (2, "alpha beta other words here"),
            (3, "alpha beta more train text"),
            (4, "alpha beta yet another doc"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "alpha beta unique one"), (200, "alpha beta something else")],
        "doc_id long, text string",
    )
    full = {
        (r["train_id"], r["eval_id"]): (r["n_common"], r["eval_overlap"])
        for r in cross_corpus_overlap(train, ev, "text", "doc_id", n=2).collect()
    }
    # "alpha beta" is in all 4 train docs; t1 additionally shares
    # "beta unique" + "unique one" with e100
    assert full[(1, 100)][0] == 3
    assert all(full[(t, 100)][0] == 1 for t in (2, 3, 4))
    assert all(full[(t, 200)][0] == 1 for t in (1, 2, 3, 4))

    cut = {
        (r["train_id"], r["eval_id"]): (r["n_common"], r["eval_overlap"])
        for r in cross_corpus_overlap(
            train, ev, "text", "doc_id", n=2, max_shingle_df=3
        ).collect()
    }
    # df("alpha beta")=4 > 3 -> dropped; only t1/e100's genuine overlap survives
    assert cut == {(1, 100): (2, round(2 / 3, 6))}


def test_decode_header_real_formats(spark):
    """The metadata decoder is REAL for BMP/PNG/GIF/WAV: stdlib header
    parses recover true dimensions / sample rate, unrecognized bytes fall
    back to the labeled fake, and strict mode raises on them."""
    import struct

    import pytest as _pt

    from real_time_recommendation_system_with_feature_store_spark.operators.multimodal import decode_metadata

    bmp = (
        struct.pack("<2sIHHI", b"BM", 70, 0, 0, 54)
        + struct.pack("<Iii", 40, 17, -9)  # top-down: negative height
        + bytes(48)
    )
    png = (
        b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", 640, 480) + bytes(10)
    )
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + bytes(8)
    wav = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVE" + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 2, 44100, 176400, 4, 16) + bytes(8)
    )
    txt = b"just some plain text bytes"
    df = spark.createDataFrame(
        [(1, bytearray(bmp)), (2, bytearray(png)), (3, bytearray(gif)),
         (4, bytearray(wav)), (5, bytearray(txt))],
        "id long, blob binary",
    )
    out = {r["id"]: r for r in decode_metadata(df, "id").collect()}
    assert (out[1]["format"], out[1]["width"], out[1]["height"]) == ("image/bmp", 17, 9)
    assert (out[2]["format"], out[2]["width"], out[2]["height"]) == ("image/png", 640, 480)
    assert (out[3]["format"], out[3]["width"], out[3]["height"]) == ("image/gif", 320, 200)
    assert (out[4]["format"], out[4]["width"], out[4]["height"]) == ("audio/wav", 44100, 2)
    assert out[5]["format"] == "fake/raw" and out[5]["n_bytes"] == len(txt)
    with _pt.raises(Exception, match="unrecognized container"):
        decode_metadata(df.where("id = 5"), "id", strict=True).collect()


def test_gif_codec_lzw_and_compositing():
    """The GIF decoder is REAL: LZW round-trips across code widths and
    table-overflow clears; multi-frame encode→decode is pixel-exact;
    interlaced row order is undone; transparency + disposal-2 compositing
    matches the spec (painted indices land, transparent ones keep the prior
    canvas, the region restores to background before the next frame)."""
    import random
    import struct

    import numpy as np

    from real_time_recommendation_system_with_feature_store_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
        decode_gif_frames,
        encode_gif,
    )

    rng = random.Random(7)
    for mcs in (2, 4, 8):
        for n in (0, 1, 100, 20000):  # 20k forces the 12-bit table clear
            idx = bytes(rng.randrange(1 << mcs) for _ in range(n))
            assert _lzw_decode(_lzw_encode(idx, mcs), mcs) == idx, (mcs, n)

    rs = np.random.RandomState(3)
    frames = [(rs.randint(0, 5, (13, 17, 1)).repeat(3, 2) * 50).astype(np.uint8) for _ in range(4)]
    got = decode_gif_frames(encode_gif(frames))
    assert len(got) == 4 and all(np.array_equal(a, b) for a, b in zip(frames, got))

    def subblocks(comp: bytes) -> bytes:
        out = bytearray()
        for i in range(0, len(comp), 255):
            c = comp[i : i + 255]
            out.append(len(c))
            out += c
        out.append(0)
        return bytes(out)

    pal = bytes([0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255])
    palarr = np.frombuffer(pal, np.uint8).reshape(4, 3)

    # interlaced frame: emit rows in 8/8/4/2 pass order, flag bit set
    h, w = 11, 4
    idx = (np.arange(h * w) % 4).astype(np.uint8).reshape(h, w)
    order = (
        list(range(0, h, 8)) + list(range(4, h, 8)) + list(range(2, h, 4)) + list(range(1, h, 2))
    )
    gif = bytearray(b"GIF89a") + struct.pack("<HHBBB", w, h, 0x81, 0, 0) + pal
    gif += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0x40)
    gif.append(2)
    gif += subblocks(_lzw_encode(b"".join(idx[r].tobytes() for r in order), 2))
    gif.append(0x3B)
    assert np.array_equal(decode_gif_frames(bytes(gif))[0], palarr[idx])

    # transparency (idx 3) + disposal 2 on a partial frame at offset (1,1)
    gif = bytearray(b"GIF89a") + struct.pack("<HHBBB", 4, 4, 0x81, 0, 0) + pal
    gif += struct.pack("<BHHHHB", 0x2C, 0, 0, 4, 4, 0)
    gif.append(2)
    gif += subblocks(_lzw_encode(np.full((4, 4), 1, np.uint8).tobytes(), 2))
    gif += bytes([0x21, 0xF9, 4, (2 << 2) | 1, 0, 0, 3, 0])  # GCE
    gif += struct.pack("<BHHHHB", 0x2C, 1, 1, 2, 2, 0)
    gif.append(2)
    gif += subblocks(_lzw_encode(np.array([[2, 3], [3, 2]], np.uint8).tobytes(), 2))
    gif += struct.pack("<BHHHHB", 0x2C, 0, 0, 4, 4, 0)
    gif.append(2)
    gif += subblocks(_lzw_encode(np.full((4, 4), 2, np.uint8).tobytes(), 2))
    gif.append(0x3B)
    f1, f2, f3 = decode_gif_frames(bytes(gif))
    red, green = palarr[1], palarr[2]
    assert np.array_equal(f1, np.tile(red, (4, 4, 1)))
    want2 = np.tile(red, (4, 4, 1))
    want2[1, 1] = green
    want2[2, 2] = green  # transparent cells keep the red canvas
    assert np.array_equal(f2, want2)
    assert np.array_equal(f3, np.tile(green, (4, 4, 1)))

    # non-GIF bytes refuse cleanly
    assert decode_gif_frames(b"not a gif at all") is None


def test_png_codec_filters_and_wav_segments(spark):
    """PNG decode is REAL for 8-bit truecolor: encode→decode round-trips,
    all five scanline filters reconstruct a hand-filtered image, RGBA
    composites over white, and resize_images uses the real path. WAV frame
    sampling emits valid standalone WAV segments whose samples concatenate
    back to the original stream."""
    import struct
    import zlib

    import numpy as np

    from real_time_recommendation_system_with_feature_store_spark.operators.multimodal import (
        decode_bmp_pixels,
        decode_png_pixels,
        decode_wav_samples,
        encode_png,
        encode_wav,
        resize_images,
        sample_frames,
    )

    rs = np.random.RandomState(5)
    px = rs.randint(0, 256, (23, 17, 3)).astype(np.uint8)
    assert np.array_equal(decode_png_pixels(encode_png(px)), px)

    # hand-filtered rows exercise Sub/Up/Average/Paeth reconstruction
    h, w, ch = 6, 5, 3
    stride = w * ch
    img = rs.randint(0, 256, (h, stride)).astype(np.uint8)
    filters = [0, 1, 2, 3, 4, 1]
    raw = bytearray()
    for y in range(h):
        f = filters[y]
        cur = img[y].astype(int)
        line = np.zeros(stride, int)
        for x in range(stride):
            a = cur[x - ch] if x >= ch else 0
            b = int(img[y - 1][x]) if y else 0
            c = (int(img[y - 1][x - ch]) if y else 0) if x >= ch else 0
            pred = [0, a, b, (a + b) // 2][f] if f < 4 else None
            if f == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            line[x] = (cur[x] - pred) & 0xFF
        raw.append(f)
        raw += bytes(line.tolist())

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)

    blob = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b""))
    assert np.array_equal(decode_png_pixels(blob), img.reshape(h, w, ch))

    # RGBA composites over white; 50% red -> (255, ~127, ~127)
    rgba = np.zeros((2, 2, 4), np.uint8)
    rgba[..., :3] = (255, 0, 0)
    rgba[..., 3] = 128
    raw2 = bytearray()
    for y in range(2):
        raw2.append(0)
        raw2 += rgba[y].tobytes()
    blob2 = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 6, 0, 0, 0))
             + chunk(b"IDAT", zlib.compress(bytes(raw2))) + chunk(b"IEND", b""))
    assert list(decode_png_pixels(blob2)[0, 0]) == [255, 127, 127]

    # resize_images goes through the real PNG decode (BMP output)
    png4 = encode_png(np.repeat(np.repeat(px[:1, :1], 4, 0), 4, 1))
    df = spark.createDataFrame([(1, bytearray(png4))], "doc_id long, blob binary")
    out = resize_images(df, "doc_id", width=2, height=2).collect()[0]
    assert np.array_equal(decode_bmp_pixels(bytes(out["blob"]))[0, 0], px[0, 0])

    # a STILL image samples as its own (only) frame, n times
    bdf = spark.createDataFrame([(3, bytearray(png4))], "doc_id long, blob binary")
    stills = [bytes(r["frame"]) for r in sample_frames(bdf, "doc_id", n_frames=2).collect()]
    assert len(stills) == 2 and all(
        np.array_equal(decode_bmp_pixels(f), np.repeat(np.repeat(px[:1, :1], 4, 0), 4, 1))
        for f in stills
    )

    # WAV frames: 3 segments re-encode as valid WAVs, samples concatenate back
    sig = np.sin(np.linspace(0, 30, 999))
    wdf = spark.createDataFrame([(7, bytearray(encode_wav(sig, 8000)))], "doc_id long, blob binary")
    segs = {r["frame_idx"]: bytes(r["frame"]) for r in sample_frames(wdf, "doc_id", n_frames=3).collect()}
    parts = [decode_wav_samples(segs[i]) for i in range(3)]
    assert all(p is not None and p[1] == 8000 for p in parts)
    joined = np.concatenate([p[0] for p in parts])
    assert len(joined) == 999 and np.allclose(joined, np.clip(sig, -1, 1), atol=2e-3)


def test_gif_decoder_survives_adversarial_bytes():
    """Corpus blobs are untrusted: a 13-byte header claiming a 65535×65535
    canvas, oversized frame descriptors, LZW expansion bombs, and random
    mutations of a valid GIF must all return None or a bounded result —
    never an exception, never a header-claimed giant allocation."""
    import random
    import struct

    import numpy as np

    from real_time_recommendation_system_with_feature_store_spark.operators.multimodal import (
        _MAX_DECODE_PIXELS,
        decode_gif_frames,
        encode_gif,
    )

    huge = b"GIF89a" + struct.pack("<HHBBB", 65535, 65535, 0, 0, 0)
    assert decode_gif_frames(huge) is None  # 12 GB canvas claim refused

    # valid canvas, frame descriptor claims 65535x65535
    base = bytearray(b"GIF89a") + struct.pack("<HHBBB", 2, 2, 0x80, 0, 0)
    base += bytes(6)  # 2-entry global palette
    base += struct.pack("<BHHHHB", 0x2C, 0, 0, 65535, 65535, 0)
    base += bytes([2, 1, 0x44, 0, 0x3B])
    assert decode_gif_frames(bytes(base)) is None

    valid = encode_gif([np.full((5, 7, 3), (1, 2, 3), np.uint8)])
    assert decode_gif_frames(valid) is not None
    rng = random.Random(11)
    for _ in range(300):  # byte-mutation fuzz: crash-free, bounded
        mutated = bytearray(valid)
        for _ in range(rng.randrange(1, 6)):
            mutated[rng.randrange(len(mutated))] = rng.randrange(256)
        out = decode_gif_frames(bytes(mutated))
        assert out is None or sum(f.size for f in out) <= 4 * _MAX_DECODE_PIXELS

    # PNG: header claiming a huge canvas refused; zip-bomb IDAT capped at
    # the claimed pixel budget; mutation fuzz crash-free
    import zlib

    from real_time_recommendation_system_with_feature_store_spark.operators.multimodal import (
        decode_png_pixels,
        encode_png,
    )

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)

    big_hdr = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", struct.pack(">IIBBBBB", 60000, 60000, 8, 2, 0, 0, 0))
               + chunk(b"IDAT", zlib.compress(b"\x00")) + chunk(b"IEND", b""))
    assert decode_png_pixels(big_hdr) is None  # 10 GB canvas claim refused
    bomb = (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b"\x00" * (64 << 20)))  # 64 MB claimed
            + chunk(b"IEND", b""))
    out = decode_png_pixels(bomb)  # inflate capped at 2x2 worth of bytes
    assert out is None or out.shape == (2, 2, 3)
    vpng = encode_png(np.full((4, 4, 3), (9, 8, 7), np.uint8))
    for _ in range(300):
        mutated = bytearray(vpng)
        for _ in range(rng.randrange(1, 6)):
            mutated[rng.randrange(len(mutated))] = rng.randrange(256)
        got = decode_png_pixels(bytes(mutated))
        assert got is None or got.size <= 3 * _MAX_DECODE_PIXELS

    # BMP and WAV mutation fuzz: same contract — None or bounded, no raise
    from real_time_recommendation_system_with_feature_store_spark.operators.multimodal import (
        decode_bmp_pixels,
        decode_wav_samples,
        encode_bmp,
        encode_wav,
    )

    vbmp = encode_bmp(np.full((4, 4, 3), (1, 2, 3), np.uint8))
    vwav = encode_wav(np.sin(np.linspace(0, 5, 64)), 8000)
    for blob in (vbmp, vwav):
        assert (decode_bmp_pixels(blob) is not None) or (decode_wav_samples(blob) is not None)
        for _ in range(300):
            mutated = bytearray(blob)
            for _ in range(rng.randrange(1, 6)):
                mutated[rng.randrange(len(mutated))] = rng.randrange(256)
            bm = decode_bmp_pixels(bytes(mutated))
            assert bm is None or bm.size <= 3 * _MAX_DECODE_PIXELS
            wv = decode_wav_samples(bytes(mutated))
            assert wv is None or len(wv[0]) * 2 <= len(mutated)


def test_gif_frame_sampling_and_resize_real(spark):
    """sample_frames is REAL for animated GIF: a 4-frame GIF sampled at
    n_frames=2 yields frames 0 and 2 re-encoded as BMPs (pixel-exact);
    resize_images decodes a GIF's first frame through the same real path."""
    import numpy as np

    from real_time_recommendation_system_with_feature_store_spark.operators.multimodal import (
        decode_bmp_pixels,
        decode_gif_frames,
        encode_gif,
        resize_images,
        sample_frames,
    )

    frames = [np.full((4, 4, 3), (60 * i, 0, 255 - 60 * i), np.uint8) for i in range(4)]
    blob = encode_gif(frames)
    assert decode_gif_frames(blob) is not None

    df = spark.createDataFrame([(1, bytearray(blob))], "doc_id long, blob binary")
    out = {r["frame_idx"]: bytes(r["frame"]) for r in sample_frames(df, "doc_id", n_frames=2).collect()}
    assert set(out) == {0, 1}
    # floor-index sampling over 4 frames at n=2 -> source frames 0 and 2
    assert np.array_equal(decode_bmp_pixels(out[0]), frames[0])
    assert np.array_equal(decode_bmp_pixels(out[1]), frames[2])

    resized = resize_images(df, "doc_id", width=2, height=2).collect()[0]
    assert np.array_equal(decode_bmp_pixels(bytes(resized["blob"])), frames[0][::2, ::2])


def test_extract_features_real_content(spark):
    """extract_features is REAL for decodable content: a solid-color BMP's
    grid means equal the color (scaled), two different colors give different
    embeddings; a WAV sine concentrates band energy around its frequency and
    a higher-pitched sine moves the spectral centroid up; undecodable bytes
    still get the deterministic stub at the same dim."""
    import struct

    import numpy as np

    from real_time_recommendation_system_with_feature_store_spark.operators.multimodal import (
        encode_bmp,
        extract_features,
    )

    red = encode_bmp(np.full((8, 8, 3), (255, 0, 0), np.uint8))
    blue = encode_bmp(np.full((8, 8, 3), (0, 0, 255), np.uint8))

    def wav(freq: float) -> bytes:
        rate, n = 8000, 2048
        s = (np.sin(2 * np.pi * freq * np.arange(n) / rate) * 20000).astype(np.int16)
        data = s.tobytes()
        return (
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
            + b"data" + struct.pack("<I", len(data)) + data
        )

    rows = [(1, bytearray(red)), (2, bytearray(blue)), (3, bytearray(wav(250.0))),
            (4, bytearray(wav(3000.0))), (5, bytearray(b"opaque mystery bytes"))]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    emb = {r["id"]: np.array(r["embedding"]) for r in extract_features(df, "doc_id", dim=16).collect()}
    assert all(len(v) == 16 for v in emb.values())
    # grid means of a solid red 8x8: channel R -> 255/127.5-1 = 1, G/B -> -1
    g = int((16 / 3) ** 0.5)  # grid the kernel actually used
    assert np.allclose(emb[1][: 3 * g * g], np.tile([1.0, -1.0, -1.0], g * g), atol=1e-6)
    assert not np.allclose(emb[1], emb[2])
    # audio: centroid feature (index 2) rises with pitch; embeddings differ
    assert emb[4][2] > emb[3][2]
    assert not np.allclose(emb[3], emb[4])
    # stub path still deterministic, in-range
    assert np.all(np.abs(emb[5]) <= 1.0)


def test_bmp_resize_kernel_real_pixels(spark):
    """The resize kernel is REAL for uncompressed 24-bit BMP: a generated
    bitmap with distinct quadrant colors decodes to its true pixel array,
    nearest-neighbor-resamples to exactly the expected pixels, re-encodes
    as a valid BMP (header decode agrees), and row padding (w=3: stride 12
    vs 9 bytes) is handled on both decode and encode."""
    import numpy as np

    from real_time_recommendation_system_with_feature_store_spark.operators.multimodal import (
        decode_bmp_pixels,
        decode_metadata,
        encode_bmp,
        resize_images,
    )

    # 4x4 RGB: quadrants red / green / blue / white
    px = np.zeros((4, 4, 3), dtype=np.uint8)
    px[:2, :2] = (255, 0, 0)
    px[:2, 2:] = (0, 255, 0)
    px[2:, :2] = (0, 0, 255)
    px[2:, 2:] = (255, 255, 255)
    blob = encode_bmp(px)
    assert np.array_equal(decode_bmp_pixels(blob), px)  # lossless roundtrip

    df = spark.createDataFrame([(1, bytearray(blob))], "doc_id long, blob binary")
    out = resize_images(df, "doc_id", width=2, height=2).collect()[0]
    got = decode_bmp_pixels(bytes(out["blob"]))
    # floor-index NN: output (x,y) reads source (x*4//2, y*4//2) = corners
    want = np.array([[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (255, 255, 255)]], np.uint8)
    assert np.array_equal(got, want)
    # the re-encoded blob is a real BMP to the header decoder too
    meta = decode_metadata(
        spark.createDataFrame([(1, bytearray(out["blob"]))], "id long, blob binary"), "id"
    ).collect()[0]
    assert (meta["format"], meta["width"], meta["height"]) == ("image/bmp", 2, 2)

    # non-multiple-of-4 width exercises row padding; upscale 3x3 -> 5x5
    px3 = (np.arange(27, dtype=np.uint8) * 7 % 256).reshape(3, 3, 3)
    b3 = encode_bmp(px3)
    assert np.array_equal(decode_bmp_pixels(b3), px3)
    up = resize_images(
        spark.createDataFrame([(2, bytearray(b3))], "doc_id long, blob binary"),
        "doc_id", width=5, height=5,
    ).collect()[0]
    got5 = decode_bmp_pixels(bytes(up["blob"]))
    ys = (np.arange(5) * 3) // 5
    assert np.array_equal(got5, px3[ys][:, ys])


def test_write_parquet_observed_single_pass_metrics(spark, tmp_path):
    """Observation metrics ride the write job itself: counts/nulls/bounds
    come back with the write, and the files round-trip consistently."""
    from real_time_recommendation_system_with_feature_store_spark.sources.writers import write_parquet_observed

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, None)], "id long, v string"
    )
    out = str(tmp_path / "obs_out")
    got = write_parquet_observed(
        df,
        out,
        metrics={
            "n_rows": F.count(F.lit(1)),
            "n_null_v": F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)),
            "max_id": F.max("id"),
        },
    )
    assert got == {"n_rows": 4, "n_null_v": 2, "max_id": 4}
    assert spark.read.parquet(out).count() == 4


def test_profile_table_approx_mode_and_multikey_skew(spark):
    """exact=False (the mergeable lake-scale mode) must return
    approx_count_distinct values within HLL tolerance of the exact counts;
    key_skew_report composes over multi-column keys."""
    from real_time_recommendation_system_with_feature_store_spark.operators.profile import key_skew_report, profile_table

    ev = spark.read.parquet(
        f"{__import__('os').environ.get('SPARK_GRAFT_TEST_SF_DIR', '/root/testdata/sf0.001')}/orders.parquet"
    )
    exact = {r["column_name"]: r["n_distinct"] for r in profile_table(ev, ["o_custkey"]).collect()}
    approx = {r["column_name"]: r["n_distinct"] for r in profile_table(ev, ["o_custkey"], exact=False).collect()}
    e, a = exact["o_custkey"], approx["o_custkey"]
    assert abs(a - e) <= max(0.1 * e, 5), (e, a)

    skew = key_skew_report(ev, ["o_orderstatus", "o_orderpriority"], top=4).collect()
    assert len(skew) == 4 and [r["rank"] for r in skew] == [1, 2, 3, 4]
    assert all(len([r["o_orderstatus"], r["o_orderpriority"]]) == 2 for r in skew)


def test_interpolate_linear_golden(spark):
    """Gaps lerp between neighbors, leading/trailing gaps clamp, all-null
    entities stay null, equal-timestamp neighbors take the earlier value."""
    from datetime import datetime

    from real_time_recommendation_system_with_feature_store_spark.operators.interpolate import interpolate_linear

    t = lambda s: datetime.fromisoformat(f"2024-01-01 {s}")
    rows = [
        # user 1: interior gap lerps by time distance (10:00=1, 10:30=4 -> 10:10=2.0)
        (1, t("10:00:00"), 1, 1.0), (1, t("10:10:00"), 2, None), (1, t("10:30:00"), 3, 4.0),
        # user 1: trailing gap clamps to last known
        (1, t("11:00:00"), 4, None),
        # user 2: leading gap clamps forward
        (2, t("09:00:00"), 5, None), (2, t("09:30:00"), 6, 7.0),
        # user 3: all null stays null
        (3, t("08:00:00"), 7, None),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, value double")
    out = {
        r["event_id"]: r["value_interp"]
        for r in interpolate_linear(
            df, "user_id", "ts", "value", order_tiebreak=["event_id"]
        ).collect()
    }
    assert out[1] == 1.0 and out[3] == 4.0
    assert out[2] == 2.0          # 1 + (4-1) * (10/30)
    assert out[4] == 4.0          # trailing clamp
    assert out[5] == 7.0          # leading clamp
    assert out[6] == 7.0
    assert out[7] is None         # no known value at all


def test_ranking_correlation_matches_reference_formulas(spark):
    """evaluation/metrics.py::ranking_correlation vs an independent
    in-test implementation of scipy's formulas (average-rank Pearson;
    tie-adjusted tau-b) — ties on both sides, anti-correlation, a
    constant (all-tied) side yielding NULL, and the <3-items skip."""
    import math

    from real_time_recommendation_system_with_feature_store_spark.evaluation.metrics import ranking_correlation

    rows = [
        # u1: perfect monotone (with a pred tie pair agreeing in truth)
        ("u1", 1, 1.0, 10.0), ("u1", 2, 2.0, 20.0),
        ("u1", 3, 2.0, 25.0), ("u1", 4, 3.0, 40.0),
        # u2: perfect anti-correlation
        ("u2", 1, 3.0, 1.0), ("u2", 2, 2.0, 2.0), ("u2", 3, 1.0, 3.0),
        # u3: constant pred -> NULL both
        ("u3", 1, 5.0, 1.0), ("u3", 2, 5.0, 2.0), ("u3", 3, 5.0, 3.0),
        # u4: mixed with ties on both sides
        ("u4", 1, 1.0, 2.0), ("u4", 2, 2.0, 2.0), ("u4", 3, 2.0, 1.0),
        ("u4", 4, 4.0, 5.0), ("u4", 5, 5.0, 4.0),
        # u5: only 2 items -> skipped
        ("u5", 1, 1.0, 1.0), ("u5", 2, 2.0, 2.0),
    ]
    df = spark.createDataFrame(rows, "u string, i int, p double, t double")
    got = {
        r["u"]: (r["n_items"], r["spearman"], r["kendall"])
        for r in ranking_correlation(
            df, user="u", item="i", pred="p", true="t"
        ).collect()
    }

    def avg_ranks(vals):
        out = []
        for v in vals:
            below = sum(1 for w in vals if w < v)
            ties = sum(1 for w in vals if w == v)
            out.append(below + 1 + (ties - 1) / 2)
        return out

    def ref(ps, ts):
        n = len(ps)
        rx, ry = avg_ranks(ps), avg_ranks(ts)
        sx, sy = sum(rx), sum(ry)
        sxx = sum(x * x for x in rx)
        syy = sum(y * y for y in ry)
        sxy = sum(x * y for x, y in zip(rx, ry))
        vx, vy = n * sxx - sx * sx, n * syy - sy * sy
        sp = (
            round((n * sxy - sx * sy) / math.sqrt(vx * vy), 6)
            if vx > 0 and vy > 0 else None
        )
        c = d = 0
        for a in range(n):
            for b in range(a + 1, n):
                s = (ps[a] - ps[b]) * (ts[a] - ts[b])
                c += s > 0
                d += s < 0
        n0 = n * (n - 1) / 2
        n1 = sum(g * (g - 1) / 2 for g in
                 [ps.count(v) for v in set(ps)])
        n2 = sum(g * (g - 1) / 2 for g in
                 [ts.count(v) for v in set(ts)])
        den = (n0 - n1) * (n0 - n2)
        kt = round((c - d) / math.sqrt(den), 6) if den > 0 else None
        return sp, kt

    by_user = {}
    for u, i, p, t in rows:
        by_user.setdefault(u, ([], []))
        by_user[u][0].append(p)
        by_user[u][1].append(t)

    assert "u5" not in got
    for u in ("u1", "u2", "u3", "u4"):
        sp, kt = ref(*by_user[u])
        assert got[u] == (len(by_user[u][0]), sp, kt), (u, got[u], (sp, kt))
    # sanity anchors: u1's pred tie with differing truths keeps Spearman
    # below 1 (ties penalize), u2 is fully reversed and tie-free, u3 NULL
    assert 0.9 < got["u1"][1] < 1.0
    assert got["u2"] == (3, -1.0, -1.0)
    assert got["u3"][1] is None and got["u3"][2] is None


def test_ranking_correlation_input_guards(spark):
    """r14 advice: dirty input must be loud or filtered, never a silent
    scipy divergence — duplicate (user,item) rows raise, NULL scores /
    ids are filtered before ranking (scipy yields-then-skips NaN; a NULL
    here would rank first), and a user beyond max_items raises instead
    of detonating the O(n^2) pair join."""
    import pytest as _pytest

    from real_time_recommendation_system_with_feature_store_spark.evaluation.metrics import ranking_correlation

    schema = "u string, i int, p double, t double"
    clean = [
        ("u1", 1, 1.0, 10.0), ("u1", 2, 2.0, 20.0),
        ("u1", 3, 3.0, 25.0), ("u1", 4, 4.0, 40.0),
    ]
    base = {
        r["u"]: (r["n_items"], r["spearman"], r["kendall"])
        for r in ranking_correlation(
            spark.createDataFrame(clean, schema),
            user="u", item="i", pred="p", true="t",
        ).collect()
    }
    assert base["u1"] == (4, 1.0, 1.0)

    # duplicates raise (they would drop from Kendall's i<j pairs while
    # inflating Spearman's n)
    with _pytest.raises(ValueError, match="duplicate"):
        ranking_correlation(
            spark.createDataFrame(clean + [("u1", 4, 9.0, 9.0)], schema),
            user="u", item="i", pred="p", true="t",
        )

    # NULL score / id rows are filtered, not ranked-first: adding them
    # leaves the clean user's coefficients byte-identical
    dirty = clean + [
        ("u1", 5, None, 50.0), ("u1", 6, 6.0, None),
        ("u1", None, 7.0, 70.0), (None, 8, 8.0, 80.0),
    ]
    got = {
        r["u"]: (r["n_items"], r["spearman"], r["kendall"])
        for r in ranking_correlation(
            spark.createDataFrame(dirty, schema),
            user="u", item="i", pred="p", true="t",
        ).collect()
    }
    assert got == base

    # the per-user O(n^2) pair-join gate
    with _pytest.raises(ValueError, match="max_items"):
        ranking_correlation(
            spark.createDataFrame(clean, schema),
            user="u", item="i", pred="p", true="t", max_items=3,
        )


def test_ranking_auc_matches_reference_formulas(spark):
    """evaluation/metrics.py::ranking_auc vs hand-computed Mann-Whitney
    AUCs — perfect separation, perfect inversion, ties straddling the
    class boundary (average-rank mass splits), all-tied scores (0.5),
    and the one-class skip."""
    from real_time_recommendation_system_with_feature_store_spark.evaluation.metrics import ranking_auc

    rows = [
        # u1: perfect separation -> 1.0
        ("u1", 1.0, 0), ("u1", 2.0, 0), ("u1", 3.0, 1), ("u1", 4.0, 1),
        # u2: perfect inversion -> 0.0
        ("u2", 5.0, 0), ("u2", 1.0, 1),
        # u3: tie across the boundary: scores [1,2,2,3], y [0,0,1,1]
        #     avg ranks [1, 2.5, 2.5, 4]; rp = 6.5; P=N=2
        #     auc = (6.5 - 3) / 4 = 0.875
        ("u3", 1.0, 0), ("u3", 2.0, 0), ("u3", 2.0, 1), ("u3", 3.0, 1),
        # u4: all scores tied -> exactly 0.5
        ("u4", 7.0, 0), ("u4", 7.0, 1), ("u4", 7.0, 0), ("u4", 7.0, 1),
        # u5: one-class (all positive) -> skipped
        ("u5", 1.0, 1), ("u5", 2.0, 1),
        # NULL score / label rows are filtered, not ranked
        ("u1", None, 0), ("u1", 9.0, None),
    ]
    df = spark.createDataFrame(rows, "u string, p double, y int")
    got = {
        r["u"]: (r["n_pos"], r["n_neg"], r["auc"])
        for r in ranking_auc(df, user="u", pred="p", label="y").collect()
    }
    assert got == {
        "u1": (2, 2, 1.0),
        "u2": (1, 1, 0.0),
        "u3": (2, 2, 0.875),
        "u4": (2, 2, 0.5),
    }


def test_quality_report_edge_semantics(spark):
    """operators/quality.py: NULL-policy and counting contracts — NULL
    values are not range/set/regex violations (pair with not_null to
    forbid), NULL foreign keys are not orphans, uniqueness counts rows
    beyond the first per duplicated group, and no rules yields an empty
    typed frame."""
    from real_time_recommendation_system_with_feature_store_spark.operators.quality import (
        in_range,
        in_set,
        matches,
        not_null,
        quality_report,
    )

    df = spark.createDataFrame(
        [
            (1, 10.0, "A"),
            (1, 99.0, "A"),      # dup key; range violation
            (2, None, "B"),      # null value: not a range violation
            (None, 5.0, "zz"),   # null key; set+regex violation
        ],
        "k int, v double, s string",
    )
    dim = spark.createDataFrame([(1,)], "k int")
    got = {
        r["rule"]: (r["checked"], r["violations"])
        for r in quality_report(
            df,
            row_rules=[
                not_null("k"),
                in_range("v", 0, 50),
                in_set("s", ["A", "B"]),
                matches("s", "^[A-Z]+$"),
            ],
            unique_keys=[["k"]],
            references=[("fk(k->dim)", ["k"], dim, ["k"])],
        ).collect()
    }
    assert got["not_null(k)"] == (4, 1)
    assert got["in_range(v,0,50)"] == (4, 1)       # None v not counted
    assert got["in_set(s)"] == (4, 1)
    assert got["matches(s)"] == (4, 1)
    assert got["unique(k)"] == (3, 1)              # null-key row excluded
    assert got["fk(k->dim)"] == (3, 1)             # k=2 orphan; NULL k not

    empty = quality_report(df)
    assert empty.columns == ["rule", "checked", "violations"]
    assert empty.count() == 0


def test_ranking_correlation_pandas_twin_matches_expression_form(spark):
    """The O(n log n) Knight-algorithm kernel must agree with the O(n²)
    pair-join expression form on every user of a random mixed dataset
    (ties on both sides, anti-correlation, constant columns) — within
    6e-7, the expression form's 6dp rounding radius."""
    import random

    from real_time_recommendation_system_with_feature_store_spark.evaluation.metrics import (
        ranking_correlation,
        ranking_correlation_pandas,
    )

    rng = random.Random(7)
    rows = []
    for u in range(12):
        n = rng.randint(3, 40)
        for i in range(n):
            p = float(rng.choice([1, 2, 3, 5, 8, 13])) if u % 3 else float(i)
            t = (
                5.0 if u == 11                       # constant -> NULL
                else float(-i) if u == 10            # perfect inversion
                else float(rng.randint(0, 9))
            )
            rows.append((f"u{u}", i, p, t))
    df = spark.createDataFrame(rows, "u string, i int, p double, t double")

    expr = {
        r["u"]: (r["n_items"], r["spearman"], r["kendall"])
        for r in ranking_correlation(
            df, user="u", item="i", pred="p", true="t"
        ).collect()
    }
    kern = {
        r["u"]: (r["n_items"], r["spearman"], r["kendall"])
        for r in ranking_correlation_pandas(
            df, user="u", item="i", pred="p", true="t"
        ).collect()
    }
    assert set(expr) == set(kern)
    for u in expr:
        ne, se, ke = expr[u]
        nk, sk, kk = kern[u]
        assert ne == nk, u
        for a, b in ((se, sk), (ke, kk)):
            if a is None or b is None:
                assert a is None and b is None, (u, a, b)
            else:
                assert abs(a - b) < 6e-7, (u, a, b)


def test_embedding_centroid_drift_anchors(spark):
    """evaluation/drift.embedding_centroid anchor cases: identical
    windows give exactly 1.0, orthogonal window populations give 0.0,
    opposite populations give −1.0, and a group with vectors in only
    one window drops out."""
    from real_time_recommendation_system_with_feature_store_spark.evaluation.drift import embedding_centroid

    rows = [
        # g=stable: same two vectors in both windows
        ("stable", 0, [1.0, 2.0, 2.0]), ("stable", 0, [2.0, 1.0, 2.0]),
        ("stable", 1, [1.0, 2.0, 2.0]), ("stable", 1, [2.0, 1.0, 2.0]),
        # g=orth: x-axis vs y-axis
        ("orth", 0, [3.0, 0.0, 0.0]), ("orth", 1, [0.0, 7.0, 0.0]),
        # g=flip: exactly reversed direction
        ("flip", 0, [1.0, 1.0, 0.0]), ("flip", 1, [-2.0, -2.0, 0.0]),
        # g=one_sided: baseline only -> excluded
        ("one_sided", 0, [1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "g string, win int, v array<double>")
    got = {
        r["g"]: (r["n_base"], r["n_current"], r["centroid_cos"])
        for r in embedding_centroid(df, "v", by=["g"]).collect()
    }
    assert got == {
        "stable": (2, 2, 1.0),
        "orth": (1, 1, 0.0),
        "flip": (1, 1, -1.0),
    }
