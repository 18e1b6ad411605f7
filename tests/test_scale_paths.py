"""Scale-path operators must agree exactly with their simple counterparts,
and approximate tiers must hit documented quality bounds vs exact."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_global_row_number_matches_window(spark):
    from real_time_recommendation_system_with_feature_store_spark.operators.rank import global_row_number

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select("o_orderkey", "o_orderdate")
    keys = [F.col("o_orderdate"), F.col("o_orderkey")]
    scalable = global_row_number(o, keys, "rn", num_partitions=7)
    simple = o.withColumn("rn", F.row_number().over(Window.orderBy(*keys)))
    a = {r["o_orderkey"]: r["rn"] for r in scalable.collect()}
    b = {r["o_orderkey"]: r["rn"] for r in simple.collect()}
    assert a == b


def test_approx_count_distinct_tolerance(spark):
    from real_time_recommendation_system_with_feature_store_spark.session import load_tables

    ev = load_tables(spark, SF_DIR, register=False)["events"]
    row = ev.agg(
        F.count_distinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", 0.02).alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05


def test_lsh_recall_vs_brute_force(spark):
    """LSH ANN tier must recover a reasonable share of true neighbors
    (same check the reference's IVF index gets, recall vs exact)."""
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import brute_force_topk, lsh_topk

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 20).select(F.col("vec_id").alias("qid"), "embedding")
    it = e.select(F.col("vec_id").alias("iid"), "embedding")
    exact = brute_force_topk(q, it, "qid", "iid", k=5)
    approx = lsh_topk(q, it, "qid", "iid", dim=64, k=5, n_planes=4, n_tables=8)
    truth = {(r["qid"], r["iid"]) for r in exact.collect()}
    got = {(r["qid"], r["iid"]) for r in approx.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.5, f"LSH recall {recall:.2f} too low"


def test_ivf_recall_vs_brute_force(spark):
    """IVF tier: nprobe/n_cells fraction of the catalog scored, recall vs
    exact stays useful (reference trains faiss IVF with the same trade)."""
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import brute_force_topk, ivf_topk

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 20).select(F.col("vec_id").alias("qid"), "embedding")
    it = e.select(F.col("vec_id").alias("iid"), "embedding")
    exact = brute_force_topk(q, it, "qid", "iid", k=5)
    approx = ivf_topk(q, it, "qid", "iid", k=5, n_cells=8, n_probe=4)
    truth = {(r["qid"], r["iid"]) for r in exact.collect()}
    got = {(r["qid"], r["iid"]) for r in approx.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.5, f"IVF recall {recall:.2f} too low"


def test_cosine_near_dup_symmetric_subset(spark):
    """Near-dup pairs: id_a < id_b canonical form, all pairs above threshold."""
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import cosine_near_dup_pairs

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = cosine_near_dup_pairs(e, "vec_id", "embedding", threshold=0.3).collect()
    assert len(out) > 0
    assert all(r["id_a"] < r["id_b"] and r["cosine"] >= 0.3 for r in out)


def test_embedding_persistence_roundtrip(spark, tmp_path):
    """S10: the vector 'index' is a parquet table; persistence is a plain
    write/read and the index rebuild is the LSH bucketing itself."""
    import os as _os

    from real_time_recommendation_system_with_feature_store_spark.sources.writers import write_parquet

    out = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), ".tmp", "emb_rt"
    )
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    write_parquet(e, out)
    back = spark.read.parquet(out)
    assert back.count() == e.count()
    assert dict(back.dtypes)["embedding"] == "array<float>"


def test_streaming_index_append(spark):
    """ST9: appending new item vectors then re-querying (the reference's
    add_items + periodic rebuild, retrieval.py:199-246)."""
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import brute_force_topk

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    it = e.select(F.col("vec_id").alias("iid"), "embedding")
    q = e.where(F.col("vec_id") == 0).select(F.col("vec_id").alias("qid"), "embedding")
    # append a clone of vector 0 with a new id — must become its top neighbor
    clone = q.select(F.lit(999999).cast("long").alias("iid"), "embedding")
    out = brute_force_topk(q, it.unionByName(clone), "qid", "iid", k=1).collect()
    assert out[0]["iid"] == 999999 and abs(out[0]["score"] - 1.0) < 1e-6


def test_bucketed_join_is_shuffle_free(spark):
    """Co-located join layout: tables bucketed+sorted on the join key join
    with NO Exchange on either side (the fact-to-fact join scale path)."""
    from pyspark.sql import functions as F

    from real_time_recommendation_system_with_feature_store_spark.sources.bucketing import write_bucketed

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select("o_orderkey", "o_custkey", "o_totalprice")
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet").select("c_custkey", "c_mktsegment")
    write_bucketed(o, "b_orders", "o_custkey", buckets=8)
    write_bucketed(c.withColumnRenamed("c_custkey", "o_custkey"), "b_customer", "o_custkey", buckets=8)
    joined = spark.table("b_orders").join(spark.table("b_customer"), "o_custkey")
    # disable broadcast so the bucket layout (not a broadcast) removes the shuffle
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == o.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_approx_percentile_tolerance(spark):
    """percentile_approx (t-digest-style sketch, mergeable map-side) vs the
    exact interpolated percentile: relative error within 2% at accuracy 1e4."""
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    row = o.agg(
        F.expr("percentile(o_totalprice, 0.95)").alias("exact"),
        F.expr("percentile_approx(o_totalprice, 0.95, 10000)").alias("approx"),
    ).collect()[0]
    assert abs(float(row["approx"]) - float(row["exact"])) / float(row["exact"]) < 0.02


def test_hll_sketch_tolerance(spark):
    """Mergeable-sketch tier for distinct counts: DataSketches HLL
    (hll_sketch_agg -> hll_sketch_estimate) vs exact count_distinct —
    sketches union across partitions/days without rescanning (the
    incremental-rollup primitive at 100 TB)."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("user_id")
    row = ev.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").alias("approx"),
        F.count_distinct("user_id").alias("exact"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.03


def test_knn_arrow_kernel_matches_expr(spark):
    """The numpy matmul kernel and the Column-expression dot produce
    IDENTICAL (id, score, rank) rows — same rounding, same tie-breaks —
    so the oracle contract is kernel-independent."""
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import brute_force_topk

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 8).select(F.col("vec_id").alias("qid"), "embedding")
    it = e.select(F.col("vec_id").alias("iid"), "embedding")
    a = sorted(tuple(r) for r in brute_force_topk(q, it, "qid", "iid", k=4, kernel="arrow").collect())
    x = sorted(tuple(r) for r in brute_force_topk(q, it, "qid", "iid", k=4, kernel="expr").collect())
    assert a == x


def test_near_dup_arrow_kernel_matches_expr(spark):
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import cosine_near_dup_pairs

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = sorted(tuple(r) for r in cosine_near_dup_pairs(e, "vec_id", threshold=0.3, kernel="arrow").collect())
    x = sorted(tuple(r) for r in cosine_near_dup_pairs(e, "vec_id", threshold=0.3, kernel="expr").collect())
    assert a == x and len(a) > 0


def test_simhash_arrow_kernel_matches_expr(spark):
    from real_time_recommendation_system_with_feature_store_spark.operators.dedup import simhash_dedup

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").where(F.col("doc_id") < 80)
    a = sorted(tuple(r) for r in simhash_dedup(d, "text", "doc_id", kernel="arrow").collect())
    x = sorted(tuple(r) for r in simhash_dedup(d, "text", "doc_id", kernel="expr").collect())
    assert a == x


def test_portable_hash_kernels_match_across_formulations(spark):
    """hash_fn="portable" must produce identical results from the Arrow
    kernel and the Column-expression kernel — the oracle SQL is generated
    from the same constants, so kernel divergence would silently break the
    driver's differential check."""
    from real_time_recommendation_system_with_feature_store_spark.operators.dedup import (
        minhash_lsh_dedup,
        simhash_dedup,
    )

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").where(F.col("doc_id") < 80)
    a = sorted(
        tuple(r)
        for r in minhash_lsh_dedup(
            d, "text", "doc_id", verify_threshold=0.5, kernel="arrow", hash_fn="portable"
        ).collect()
    )
    x = sorted(
        tuple(r)
        for r in minhash_lsh_dedup(
            d, "text", "doc_id", verify_threshold=0.5, kernel="expr", hash_fn="portable"
        ).collect()
    )
    assert a == x
    sa = sorted(
        tuple(r)
        for r in simhash_dedup(d, "text", "doc_id", kernel="arrow", hash_fn="portable").collect()
    )
    sx = sorted(
        tuple(r)
        for r in simhash_dedup(d, "text", "doc_id", kernel="expr", hash_fn="portable").collect()
    )
    assert sa == sx


def test_minhash_kernels_find_verified_pairs(spark):
    """Both MinHash kernels use different (deterministic) permutation
    families, so candidate sets may differ — but every emitted pair is
    Jaccard-verified, so outputs are subsets of the exact pair set and must
    both recover planted near-duplicates."""
    from real_time_recommendation_system_with_feature_store_spark.operators.dedup import (
        minhash_lsh_dedup,
        ngram_jaccard_pairs,
    )

    rows = []
    base = "the quick brown fox jumps over the lazy dog again and again in the yard "
    for i in range(30):
        rows.append((i, base + f"filler words number {i} " + "x " * (i % 5)))
    rows.append((100, base + "filler words number 7 x x "))  # near-dup of 7
    rows.append((101, "совершенно другой текст " * 8))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.6).collect()
    }
    for kernel in ("arrow", "expr"):
        got = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_dedup(
                df, "text", "doc_id", n=3, num_hashes=32, bands=8, verify_threshold=0.6, kernel=kernel
            ).collect()
        }
        assert got <= exact, f"{kernel}: non-verified pair emitted"
        assert (7, 100) in got, f"{kernel}: planted near-dup missed"


def test_arrow_knn_gates_oversized_query_side(spark):
    """The arrow kernels collect the query side driver-side — a 'small side'
    contract. An oversized query frame must route to the distributed
    expression plan (no toPandas at build time, no Python stage in the plan)
    instead of a silent driver OOM. PQ builds its query tables distributed,
    so there the oversized side must only lose the ADC join's broadcast."""
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import (
        brute_force_topk,
        cosine_near_dup_pairs,
        ivf_topk,
        pq_topk,
    )

    vec = F.array(*[F.lit(0.5), F.lit(0.25), F.lit(0.125), F.lit(1.0)])
    huge = spark.range(2_000_000_000).select(
        F.col("id").alias("qid"), vec.alias("embedding")
    )
    items = spark.range(8).select(F.col("id").alias("iid"), vec.alias("embedding"))

    # Construction must be lazy (the arrow path would hang collecting 2e9
    # rows) and the resulting plan JVM-only.
    bf = brute_force_topk(huge, items, "qid", "iid", k=2, kernel="arrow")
    assert "MapInPandas" not in bf._jdf.queryExecution().executedPlan().toString()

    ivf = ivf_topk(huge, items, "qid", "iid", k=2, n_cells=2, n_probe=1, kernel="arrow")
    assert "MapInPandas" not in ivf._jdf.queryExecution().executedPlan().toString()

    nd = cosine_near_dup_pairs(
        huge.select(F.col("qid").alias("vec_id"), "embedding"), "vec_id", threshold=0.9
    )
    assert "MapInPandas" not in nd._jdf.queryExecution().executedPlan().toString()

    # rerank=0: no query-table snapshot, so construction stays lazy; the
    # query tables feed the ADC join, but no BroadcastExchange holds them
    pq = pq_topk(huge, items, "qid", "iid", dim=4, k=2, n_sub=2, n_codes=2, rerank=0)
    lines = pq._jdf.queryExecution().executedPlan().toString().splitlines()
    assert any("query_tables" in line for line in lines)

    def node_col(line):
        return len(line) - len(line.lstrip(" :+-"))

    for i, line in enumerate(lines):
        if "BroadcastExchange" in line:
            col = node_col(line)
            subtree = []
            for child in lines[i + 1 :]:
                if node_col(child) <= col:
                    break
                subtree.append(child)
            assert not any("query_tables" in c or "2000000000" in c for c in subtree)


def test_minhash_band_join_rows_are_slim(spark):
    """The LSH candidate self-join must shuffle (id, band, bh) only — the
    shingle arrays re-attach after pair dedup. A band row carrying the
    shingles would dominate the shuffle at corpus scale (×bands duplication)."""
    from real_time_recommendation_system_with_feature_store_spark.operators.dedup import (
        _band_rows_arrow,
        minhash_lsh_dedup,
        word_shingles,
    )

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").where(F.col("doc_id") < 40)
    sh = d.select(
        "doc_id", F.array_distinct(word_shingles(F.col("text"), 3)).alias("__sh")
    ).where(F.size("__sh") > 0)
    band = _band_rows_arrow(sh, "doc_id", 32, 8)
    assert band.columns == ["doc_id", "__band", "__bh"]

    # materialize=False keeps the lazy plan visible (the default eagerly
    # checkpoints, which collapses the executed plan to an RDD scan)
    out = minhash_lsh_dedup(d, "text", "doc_id", verify_threshold=None, materialize=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    joins = plan.split("Join")
    band_join = next(p for p in joins if "__band" in p or "__bh" in p)
    assert "__sh" not in band_join


def test_vector_kernels_handle_empty_sides(spark):
    """Empty query/catalog sides must return empty results with the right
    schema, not crash in np.stack."""
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import (
        brute_force_topk,
        cosine_near_dup_pairs,
        ivf_topk,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    none = e.where(F.col("vec_id") < 0)
    it = e.select(F.col("vec_id").alias("iid"), "embedding")
    q = e.where(F.col("vec_id") < 3).select(F.col("vec_id").alias("qid"), "embedding")

    bf = brute_force_topk(none.select(F.col("vec_id").alias("qid"), "embedding"), it, "qid", "iid", k=3)
    assert bf.count() == 0 and bf.columns == ["qid", "iid", "score", "rank"]
    nd = cosine_near_dup_pairs(none, "vec_id", threshold=0.3)
    assert nd.count() == 0 and nd.columns == ["id_a", "id_b", "cosine"]
    iv = ivf_topk(q, none.select(F.col("vec_id").alias("iid"), "embedding"), "qid", "iid", k=3)
    assert iv.count() == 0 and iv.columns == ["qid", "iid", "score", "rank"]


def test_lsh_near_dup_is_verified_subset_with_recall(spark):
    """Scale-path near-dup: every emitted pair is exactly verified (subset of
    the all-pairs operator at the same threshold) and bucket recall is
    non-trivial on the sf-test embeddings."""
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import (
        cosine_near_dup_pairs,
        lsh_near_dup_pairs,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = {(r["id_a"], r["id_b"]) for r in cosine_near_dup_pairs(e, "vec_id", threshold=0.3).collect()}
    got_rows = lsh_near_dup_pairs(e, "vec_id", dim=64, threshold=0.3, n_planes=4, n_tables=8).collect()
    got = {(r["id_a"], r["id_b"]) for r in got_rows}
    assert got <= exact, "LSH near-dup emitted a non-verified pair"
    assert all(r["cosine"] >= 0.3 and r["id_a"] < r["id_b"] for r in got_rows)
    assert exact and len(got) / len(exact) >= 0.5, f"recall {len(got)}/{len(exact)} too low"


def test_date_partitioned_layout_prunes_partitions(spark, tmp_path):
    """The 100 TB layout story: facts written partitioned by event date are
    partition-PRUNED (not just row-filtered) by a date predicate — the scan
    must touch only the matching directory."""
    from real_time_recommendation_system_with_feature_store_spark.session import load_tables

    ev = load_tables(spark, SF_DIR, register=False)["events"]
    out = str(tmp_path / "events_by_day")
    ev.withColumn("day", F.to_date("ts")).write.partitionBy("day").mode("overwrite").parquet(out)

    back = spark.read.parquet(out)
    one_day = back.where(F.col("day") == "2024-01-05")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the pruned scan reads exactly the one day's rows
    expected = ev.where(F.to_date("ts") == "2024-01-05").count()
    assert one_day.count() == expected > 0
    # and the file-scan's selected partition count is 1
    import re

    m = re.search(r"partition count: (\d+)", plan)
    if m:  # plan string carries the pruned partition count in Spark 4
        assert int(m.group(1)) == 1


def test_morton_code_golden(spark):
    """Morton interleave matches hand-computed values and is monotone in
    locality: (3,5) -> 0b100111 etc."""
    from real_time_recommendation_system_with_feature_store_spark.sources.layout import morton_code

    rows = spark.createDataFrame([(0, 0), (1, 0), (0, 1), (3, 5), (7, 7)], "a long, b long")
    got = {
        (r["a"], r["b"]): r["m"]
        for r in rows.select("a", "b", morton_code(F.col("a"), F.col("b"), bits=4).alias("m")).collect()
    }
    # interleave: bit i of a -> 2i, bit i of b -> 2i+1
    def ref(a, b):
        m = 0
        for i in range(4):
            m |= ((a >> i) & 1) << (2 * i)
            m |= ((b >> i) & 1) << (2 * i + 1)
        return m

    assert got == {(a, b): ref(a, b) for (a, b) in got}


def test_zorder_write_tightens_both_dims(spark, tmp_path):
    """Z-order trades: each dimension's per-row-group range must be (on
    average) far tighter than what sorting by the OTHER column gives it —
    that's the data-skipping win a single-column sort can't provide."""
    from real_time_recommendation_system_with_feature_store_spark.sources.layout import write_zordered

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("user_id", "event_id")
    n = ev.count()
    per_file = max(1, n // 16)

    import glob as g

    import pyarrow.parquet as pq

    def mean_spans(path):
        su, se = [], []
        for f in g.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                cu = {
                    md.row_group(rg).column(i).path_in_schema: md.row_group(rg).column(i).statistics
                    for i in range(md.row_group(rg).num_columns)
                }
                su.append(cu["user_id"].max - cu["user_id"].min)
                se.append(cu["event_id"].max - cu["event_id"].min)
        return sum(su) / len(su), sum(se) / len(se)

    zpath = str(tmp_path / "z")
    write_zordered(ev, zpath, "user_id", "event_id", bits=10, max_records_per_file=per_file)
    upath = str(tmp_path / "by_user")
    ev.orderBy("user_id").write.option("maxRecordsPerFile", str(per_file)).parquet(upath)
    epath = str(tmp_path / "by_event")
    ev.orderBy("event_id").write.option("maxRecordsPerFile", str(per_file)).parquet(epath)

    z_u, z_e = mean_spans(zpath)
    bu_u, bu_e = mean_spans(upath)
    be_u, be_e = mean_spans(epath)
    # sorting by event leaves user ranges ~full; z-order must beat it on user
    assert z_u < 0.8 * be_u
    # sorting by user leaves event ranges ~full; z-order must beat it on event
    assert z_e < 0.8 * bu_e


def test_compaction_reduces_file_count(spark, tmp_path):
    from real_time_recommendation_system_with_feature_store_spark.sources.layout import compact_to_target_size

    src = str(tmp_path / "frag")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("event_id", "user_id")
    ev.repartition(64).write.parquet(src)  # fragmented: 64 tiny files
    import glob as g

    assert len(g.glob(f"{src}/*.parquet")) >= 32
    dst = str(tmp_path / "compact")
    compact_to_target_size(spark.read.parquet(src), dst, target_bytes=64 * 1024 * 1024)
    n_after = len(g.glob(f"{dst}/*.parquet"))
    assert n_after < 8
    assert spark.read.parquet(dst).count() == ev.count()


def test_pq_recall_vs_brute_force(spark):
    """PQ tier: ADC shortlist + exact re-rank must recover a useful share of
    true neighbors (the faiss-PQ trade: 64x index compression for bounded
    recall loss)."""
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import brute_force_topk, pq_topk

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 20).select(F.col("vec_id").alias("qid"), "embedding")
    it = e.select(F.col("vec_id").alias("iid"), "embedding")
    exact = brute_force_topk(q, it, "qid", "iid", k=5)
    approx = pq_topk(q, it, "qid", "iid", dim=64, k=5, rerank=4)
    truth = {(r["qid"], r["iid"]) for r in exact.collect()}
    got = {(r["qid"], r["iid"]) for r in approx.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.5, f"PQ recall {recall:.2f} too low"
    # re-ranked scores are TRUE cosines: every overlapping pair's score
    # matches the exact tier bit-for-bit
    ex_scores = {(r["qid"], r["iid"]): r["score"] for r in exact.collect()}
    for r in approx.collect():
        key = (r["qid"], r["iid"])
        if key in ex_scores:
            assert r["score"] == ex_scores[key]


def test_pq_handles_empty_sides(spark):
    from real_time_recommendation_system_with_feature_store_spark.operators.knn import pq_topk

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    none = e.where(F.col("vec_id") < 0)
    it = e.select(F.col("vec_id").alias("iid"), "embedding")
    q = e.where(F.col("vec_id") < 5).select(F.col("vec_id").alias("qid"), "embedding")
    assert pq_topk(none.select(F.col("vec_id").alias("qid"), "embedding"), it, "qid", "iid", dim=64, k=5).count() == 0
    assert pq_topk(q, none.select(F.col("vec_id").alias("iid"), "embedding"), "qid", "iid", dim=64, k=5).count() == 0


def test_incremental_minhash_equals_full(spark):
    """Incremental dedup invariant: corpus-only pairs ∪ batch-probe pairs
    == full-corpus dedup pairs (same params). The incremental plan must not
    lose or invent candidates."""
    from real_time_recommendation_system_with_feature_store_spark.operators.dedup import (
        minhash_band_index,
        minhash_dedup_incremental,
        minhash_lsh_dedup,
    )

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = d.where(F.col("doc_id") < 250)
    new = d.where(F.col("doc_id") >= 250)
    full = {
        tuple(r)
        for r in minhash_lsh_dedup(d, "text", "doc_id", verify_threshold=0.5).collect()
    }
    corpus_only = {
        tuple(r)
        for r in minhash_lsh_dedup(corpus, "text", "doc_id", verify_threshold=0.5).collect()
    }
    index = minhash_band_index(corpus, "text", "doc_id")
    inc = {
        tuple(r)
        for r in minhash_dedup_incremental(
            new, index, d, "text", "doc_id", verify_threshold=0.5
        ).collect()
    }
    assert corpus_only | inc == full
    assert corpus_only.isdisjoint(inc)


def test_charlm_arrow_kernel_matches_expr_path(spark):
    """The zero-shuffle Arrow scoring pass and the relational join path share
    the model definition — rounded avg-NLLs must be identical."""
    from real_time_recommendation_system_with_feature_store_spark.operators.corpus import char_bigram_lm_scores

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    arrow = {
        r["doc_id"]: (r["n_bigrams"], r["avg_nll"])
        for r in char_bigram_lm_scores(docs, "text", "doc_id", kernel="arrow").collect()
    }
    expr = {
        r["doc_id"]: (r["n_bigrams"], r["avg_nll"])
        for r in char_bigram_lm_scores(docs, "text", "doc_id", kernel="expr").collect()
    }
    assert arrow == expr


def test_freq_items_covers_heavy_hitters(spark):
    """Single-pass mergeable heavy-hitters (Karp et al. via df.stat.freqItems):
    every item whose true frequency exceeds the support threshold must be in
    the returned superset — the approximate trending-items primitive when an
    exact per-item groupBy is not worth a shuffle."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("event_type")
    support = 0.2
    approx = set(ev.stat.freqItems(["event_type"], support).collect()[0][0])
    total = ev.count()
    exact = {
        r["event_type"]
        for r in ev.groupBy("event_type").count().where(F.col("count") > support * total).collect()
    }
    assert exact <= approx, (exact, approx)


def test_zorder_three_dims_tightens_all(spark, tmp_path):
    """N-dim generalization: a 3-column Z-order write must tighten per-file
    min/max ranges on ALL THREE keys vs a single-column sort (data skipping
    on any filtered dimension), and morton_code_n must reject key widths
    that overflow a signed long."""
    import pytest as _pt

    from real_time_recommendation_system_with_feature_store_spark.sources.layout import morton_code_n, write_zordered

    with _pt.raises(ValueError, match="62"):
        morton_code_n([F.col("a"), F.col("b"), F.col("c")], bits=21)

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "user_id", "event_id", "value"
    ).where(F.col("value").isNotNull())
    n = ev.count()
    per_file = max(n // 16, 1)

    zpath = str(tmp_path / "z3")
    write_zordered(ev, zpath, "user_id", "event_id", "value", bits=8,
                   max_records_per_file=per_file)
    spath = str(tmp_path / "s1")
    ev.orderBy("user_id").write.mode("overwrite").option(
        "maxRecordsPerFile", str(per_file)
    ).parquet(spath)

    import os as _os

    def avg_spans(path):
        spans = {"user_id": [], "event_id": [], "value": []}
        for f in _os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            part = spark.read.parquet(_os.path.join(path, f))
            row = part.agg(
                *[x for c in spans for x in (F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}"))]
            ).collect()[0]
            for c in spans:
                spans[c].append(float(row[f"hi_{c}"]) - float(row[f"lo_{c}"]))
        return {c: sum(v) / len(v) for c, v in spans.items()}

    z, s = avg_spans(zpath), avg_spans(spath)
    # the single-column sort is optimal for its own column; the z-order
    # must beat it decisively on BOTH other dimensions
    assert z["event_id"] < 0.7 * s["event_id"], (z, s)
    assert z["value"] < 0.7 * s["value"], (z, s)


# --- scale-growth harness (r12 VERDICT "Next round" #5) --------------------
#
# Plan shape proves "no cartesian"; only MEASUREMENT proves the candidate
# sets don't explode. These tests union sf0.1 inputs ×{1,4,8} with a
# deterministic id remap and per-replica word tagging (replicas are
# internally identical but share no shingles across replicas — "more data
# of the same distribution, constant duplicate density") and assert the
# banded/bucketed claims: candidate counts grow EXACTLY linearly, wall
# time near-linearly (generous exponent bound — wall noise on a shared
# host is real; the hard signal is the candidate counts). Marked slow:
# run with `-m slow` or deselect with `-m "not slow"`.

import pytest as _pytest

SCALE_SF_DIR = "/root/testdata/sf0.1"
_SCALES = (1, 4, 8)


def _replicate_docs(spark, m: int):
    """documents ×m: doc_id' = doc_id + i*10M; every WORD gets a replica
    tag for i>0, so replicas share no shingles (no cross-replica pairs)
    while each replica keeps the original internal duplicate structure."""
    d = spark.read.parquet(f"{SCALE_SF_DIR}/documents.parquet").select("doc_id", "text")
    parts = [d]
    for i in range(1, m):
        tag = F.lit(f"~{i}")
        parts.append(
            d.select(
                (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                F.array_join(
                    F.transform(F.split(F.col("text"), " "), lambda w: F.concat(w, tag)),
                    " ",
                ).alias("text"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _fit_exponent(xs, ts):
    """Least-squares slope of log(t) vs log(x)."""
    import math

    lx = [math.log(x) for x in xs]
    lt = [math.log(max(t, 1e-9)) for t in ts]
    mx = sum(lx) / len(lx)
    mt = sum(lt) / len(lt)
    num = sum((a - mx) * (b - mt) for a, b in zip(lx, lt))
    den = sum((a - mx) ** 2 for a in lx)
    return num / den


@_pytest.mark.slow
@pytest.mark.heavy
def test_minhash_lsh_candidate_growth_is_linear(spark):
    """minhash_lsh_dedup at 1/4/8× sf0.1: verified pairs must be EXACTLY
    m× the 1× count (replicas are internally identical, disjoint across),
    and wall time must stay near-linear — a bucket blowup would show up
    superlinearly in both."""
    import time

    from real_time_recommendation_system_with_feature_store_spark.operators.dedup import minhash_lsh_dedup

    counts, times = [], []
    _ = minhash_lsh_dedup(_replicate_docs(spark, 1), "text", "doc_id").count()  # warm
    for m in _SCALES:
        df = _replicate_docs(spark, m)
        t0 = time.perf_counter()
        n = minhash_lsh_dedup(df, "text", "doc_id").count()
        times.append(time.perf_counter() - t0)
        counts.append(n)
    assert counts[0] > 0
    # Replicas are content-identical up to the word tag, so each replica
    # REPRODUCES replica 0's pair set in expectation — but a BORDERLINE
    # pair (0.8 <= Jaccard < 1) is caught only if a band hash collides,
    # and the per-replica tags re-roll those hashes. Exact-duplicate
    # pairs (Jaccard 1, identical signatures) replicate exactly, so the
    # assert is exact when the corpus's verified pairs are all exact
    # dups (true for the current testdata) and tolerates a few
    # re-rolled borderline pairs otherwise — a BUCKET BLOWUP (the
    # failure this guards) is super-linear and blows straight through
    # either bound.
    for m, n in zip(_SCALES, counts):
        tol = max(2, int(0.05 * m * counts[0]))
        assert abs(n - m * counts[0]) <= tol, (
            f"candidate pairs not ~linear: {counts} at scales {_SCALES}"
        )
    exp = _fit_exponent(_SCALES, times)
    assert exp < 1.45, f"wall-time exponent {exp:.2f} (times {times})"
    print(f"\nminhash_lsh_dedup growth: counts={counts} times="
          f"{[round(t, 2) for t in times]} exponent={exp:.2f}")


@_pytest.mark.slow
@pytest.mark.heavy
def test_ivf_topk_growth_is_near_linear(spark):
    """ivf_topk with a FIXED query set over 1/4/8× items (ids remapped,
    vectors replicated — cells get denser, probe volume stays
    |items|·n_probe/n_cells): results stay k per query and wall time
    near-linear in the item count."""
    import time

    from real_time_recommendation_system_with_feature_store_spark.operators.knn import ivf_topk

    e = spark.read.parquet(f"{SCALE_SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    q = e.where(F.col("vec_id") < 50).select(F.col("vec_id").alias("qid"), "embedding")
    base = e.select(F.col("vec_id").alias("iid"), "embedding")
    _ = ivf_topk(q, base, "qid", "iid", k=5, n_cells=32, n_probe=4).count()  # warm
    times = []
    for m in _SCALES:
        parts = [base]
        for i in range(1, m):
            parts.append(base.select(
                (F.col("iid") + F.lit(i * 10_000_000)).alias("iid"), "embedding"
            ))
        items = parts[0]
        for p in parts[1:]:
            items = items.unionByName(p)
        t0 = time.perf_counter()
        out = ivf_topk(q, items, "qid", "iid", k=5, n_cells=32, n_probe=4)
        n = out.count()
        times.append(time.perf_counter() - t0)
        assert n == 50 * 5
    exp = _fit_exponent(_SCALES, times)
    assert exp < 1.45, f"wall-time exponent {exp:.2f} (times {times})"
    print(f"\nivf_topk growth: times={[round(t, 2) for t in times]} "
          f"exponent={exp:.2f}")


@_pytest.mark.slow
@pytest.mark.heavy
def test_cross_corpus_overlap_growth_is_near_linear(spark):
    """cross_corpus_overlap (decontamination) with the stop-shingle cut:
    a FIXED 200-doc eval side probed against 1/4/8× train corpora. Eval
    shingles collide only with replica-0 train docs (tags differ
    elsewhere), so the collision pair set is CONSTANT while train volume
    grows — wall time must stay near-linear (the train side never
    shuffles; the cut bounds boilerplate skew)."""
    import time

    from real_time_recommendation_system_with_feature_store_spark.operators.dedup import cross_corpus_overlap

    eval_df = (
        spark.read.parquet(f"{SCALE_SF_DIR}/documents.parquet")
        .select(F.col("doc_id").alias("eval_id"), "text")
        .where(F.col("eval_id") % 25 == 0)
    )
    _ = cross_corpus_overlap(
        _replicate_docs(spark, 1), eval_df.withColumnRenamed("eval_id", "doc_id"),
        "text", "doc_id", max_shingle_df=500,
    ).count()  # warm
    counts, times = [], []
    for m in _SCALES:
        train = _replicate_docs(spark, m)
        t0 = time.perf_counter()
        n = cross_corpus_overlap(
            train, eval_df.withColumnRenamed("eval_id", "doc_id"),
            "text", "doc_id", max_shingle_df=500,
        ).count()
        times.append(time.perf_counter() - t0)
        counts.append(n)
    assert counts[0] > 0
    assert counts == [counts[0]] * len(_SCALES), (
        f"collision pairs must be constant (eval is fixed): {counts}"
    )
    exp = _fit_exponent(_SCALES, times)
    assert exp < 1.45, f"wall-time exponent {exp:.2f} (times {times})"
    print(f"\ncross_corpus_overlap growth: pairs={counts} "
          f"times={[round(t, 2) for t in times]} exponent={exp:.2f}")


@pytest.mark.heavy
def test_drift_statistics_scale_invariant_under_replication(spark):
    """The drift family's 100 TB contract in miniature: every statistic
    is a function of distribution RATIOS, so replicating the input m×
    (counts scale, proportions fixed) must leave KS / sketch-KS / PSI /
    chi-square byte-identical while the sketch's cell count stays
    CONSTANT (bounded state — the whole point of the sketch path)."""
    from real_time_recommendation_system_with_feature_store_spark.evaluation.drift import (
        chi_square,
        ks,
        ks_sketch_cells,
        psi,
    )
    from real_time_recommendation_system_with_feature_store_spark.operators.sketches import qsketch_build

    rows = [
        ("a", i % 2, float(10 + (i * 7) % 40)) for i in range(200)
    ] + [
        ("b", i % 2, float(5 + (i * 13) % 90)) for i in range(140)
    ]
    base = spark.createDataFrame(rows, "g string, win int, value double")
    m = 3
    rep = base
    for _ in range(m - 1):
        rep = rep.unionByName(base)

    def stats(df):
        k = sorted(map(tuple, ks(df, "value", by=["g"]).collect()))
        p = sorted(map(tuple, psi(df, "value", by=["g"]).collect()))
        c = sorted(map(tuple, chi_square(df, "g").collect()))
        sk = qsketch_build(df, F.col("value"), by=["g", "win"])
        cells = sk.groupBy("g", "__qs_msb", "__qs_sub").agg(
            F.sum(F.when(F.col("win") == 0, F.col("__qs_cnt")).otherwise(F.lit(0))).alias("nb"),
            F.sum(F.when(F.col("win") == 1, F.col("__qs_cnt")).otherwise(F.lit(0))).alias("nc"),
        )
        s = sorted(map(tuple, ks_sketch_cells(cells, by=["g"]).collect()))
        return k, p, c, s, cells.count()

    k1, p1, c1, s1, n_cells1 = stats(base)
    km, pm, cm, sm, n_cellsm = stats(rep)

    def scaled(rows_, idx):
        # count columns scale by m; statistic columns must be identical
        return [
            tuple(v * m if i in idx else v for i, v in enumerate(r))
            for r in rows_
        ]

    # KS is a ratio of cumulative counts: EXACTLY invariant, both forms
    assert km == scaled(k1, {1, 2})          # (g, n_base*m, n_current*m, ks)
    assert sm == scaled(s1, {1, 2})
    assert n_cellsm == n_cells1              # bounded state: cells constant

    # PSI is invariant up to its Laplace smoothing ((n+1)/(N+bins) is not
    # a pure ratio): the m-replica value drifts by O(bins/N) toward the
    # unsmoothed PSI
    for (g1, _, _, v1), (g2, _, _, v2) in zip(p1, pm):
        assert g1 == g2
        assert abs(v2 - v1) < 0.02, (g1, v1, v2)

    # chi-square POWER grows with sample size: X² scales ~m× by design
    (nb1, nc1, dof1, x1), (nbm, ncm, dofm, xm) = c1[0], cm[0]
    assert (nbm, ncm, dofm) == (nb1 * m, nc1 * m, dof1)
    assert abs(xm - m * x1) < 1e-2 * max(1.0, x1), (x1, xm)
