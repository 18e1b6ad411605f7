"""Vector similarity search — SURVEY.md §2.3 J8 + the ANN scale tiers.

``brute_force_topk`` is the exact, oracle-checkable baseline (the reference's
own ground truth is brute-force U·Iᵀ, scripts/evaluate_model.py:218).
``lsh_topk`` and ``ivf_topk`` are the scale paths: both cut the candidate set
before exact rescoring. ``ivf_topk`` mirrors the reference's actual index
(faiss ``IVF{n},Flat`` with ``nprobe`` probing, src/serving/retrieval.py:
60-62,88-108) as DataFrame joins: cluster the catalog once, search only the
probed cells. ``cosine_near_dup_pairs`` is the embedding-space near-duplicate
detector (same join, thresholded instead of ranked).

Each ANN index kind has ONE search tail that takes the index rows:
``_ivf_probes``/``_ivf_search`` (probe the nearest cells, rescore),
``_lsh_search`` (bucket join, rescore) and ``_pq_adc_topk`` (ADC table
lookups). The batch operators pass the index they just built; the
streaming ``*_search_from_index`` (streaming/pipeline.py) pass the folded
live index, so a stream-built index answers exactly like a batch build.
The query-side broadcasts in those tails are gated by
``plans.inspect.gated_broadcast``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_recommendation_system_with_feature_store_spark.functions.vectors import dot, l2_normalize
from real_time_recommendation_system_with_feature_store_spark.operators.topk import topk_per_key

# Budget for the arrow kernels' driver-side collect of the "small" side.
# Above this the kernels fall back to a fully distributed plan instead of a
# silent driver OOM (a query batch is bounded; a caller passing a whole
# catalog as `queries` is not).
_DRIVER_COLLECT_LIMIT_BYTES = 256 << 20


def _fits_driver(df: DataFrame, limit_bytes: int = _DRIVER_COLLECT_LIMIT_BYTES) -> bool:
    """Catalyst's optimized-plan size estimate (plans.inspect.
    plan_size_bytes — no job; file-source stats). Unknown/failed estimates
    count as too big — the fallback is always safe."""
    from real_time_recommendation_system_with_feature_store_spark.plans.inspect import plan_size_bytes

    est = plan_size_bytes(df)
    return est is not None and est <= limit_bytes


def brute_force_topk(
    queries: DataFrame,
    items: DataFrame,
    query_id: str,
    item_id: str,
    query_vec: str = "embedding",
    item_vec: str = "embedding",
    k: int = 10,
    exclude_self: bool = True,
    kernel: str = "arrow",
) -> DataFrame:
    """Exact cosine top-k: normalize both sides, broadcast the query side,
    dot-product score, per-query top-k.

    Plan shape: items scan (big, partition-parallel) × broadcast(queries) —
    one pass over the item table per batch of queries, no shuffle until the
    final per-query rank, which sees only |Q|·k rows per item batch after
    partial (map-side) top-k pruning.

    ``kernel="arrow"`` (default) scores each Arrow batch of items against
    the whole query matrix as ONE numpy matmul and emits per-batch top-k —
    the per-pair Column-expression dot (``kernel="expr"``) evaluates
    interpreted higher-order functions per element and is ~5x slower.
    Per-batch pruning is lossless: ranking uses (rounded score desc, item
    asc), a total order, so the global top-k is the top-k of the per-batch
    top-k union.

    Returns (query_id, item_id, score, rank) with deterministic tie-break on
    item id. Scores rounded to 6dp (half-up, matching Spark/DuckDB ROUND)
    for cross-engine float stability.

    Both kernels assume a bounded query side; that assumption is ENFORCED via
    the plan-size estimate — an oversized query side routes to the
    distributed expression plan with no broadcast hint (AQE picks the join)
    rather than collecting/broadcasting it.
    """
    q_small = _fits_driver(queries.select(query_id, query_vec))
    if kernel == "arrow" and q_small:
        scored = _brute_force_scores_arrow(
            queries, items, query_id, item_id, query_vec, item_vec, k, exclude_self
        )
    else:
        q = queries.select(
            F.col(query_id).alias("__qid"), l2_normalize(F.col(query_vec)).alias("__qv")
        )
        it = items.select(
            F.col(item_id).alias("__iid"), l2_normalize(F.col(item_vec)).alias("__iv")
        )
        pairs = it.crossJoin(F.broadcast(q) if q_small else q)
        if exclude_self:
            pairs = pairs.where(F.col("__qid") != F.col("__iid"))
        scored = pairs.select(
            F.col("__qid").alias(query_id),
            F.col("__iid").alias(item_id),
            F.round(dot(F.col("__qv"), F.col("__iv")), 6).alias("score"),
        )
    return topk_per_key(
        scored, [query_id], [F.col("score").desc(), F.col(item_id).asc()], k
    )


def _brute_force_scores_arrow(
    queries: DataFrame,
    items: DataFrame,
    query_id: str,
    item_id: str,
    query_vec: str,
    item_vec: str,
    k: int,
    exclude_self: bool,
) -> DataFrame:
    """(item batches) -> per-batch top-k (query_id, item_id, score) rows.

    The query side is collected and broadcast as a normalized float64 matrix
    — the same "small side" constraint as the broadcast join it replaces.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField(query_id, queries.schema[query_id].dataType),
            T.StructField(item_id, items.schema[item_id].dataType),
            T.StructField("score", T.DoubleType()),
        ]
    )
    q_pd = queries.select(query_id, query_vec).toPandas()
    if len(q_pd) == 0:  # empty query side: no pairs (np.stack rejects [])
        return queries.sparkSession.createDataFrame([], out_schema)
    qids = q_pd[query_id].to_numpy()
    qmat = np.stack([np.asarray(v, dtype=np.float64) for v in q_pd[query_vec]])
    qmat = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
    bq = queries.sparkSession.sparkContext.broadcast((qids, qmat))

    def gen(batches):
        q_ids, q_norm = bq.value
        for pdf in batches:
            iids = pdf[item_id].to_numpy()
            imat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[item_vec]])
            imat = imat / np.linalg.norm(imat, axis=1, keepdims=True)
            scores = imat @ q_norm.T  # (n_items, n_queries)
            # half-up rounding (Spark/DuckDB ROUND); np.round is half-even
            scores = np.sign(scores) * np.floor(np.abs(scores) * 1e6 + 0.5) / 1e6
            out_q, out_i, out_s = [], [], []
            for j in range(len(q_ids)):
                s, ids = scores[:, j], iids
                if exclude_self:
                    keep = ids != q_ids[j]
                    s, ids = s[keep], ids[keep]
                if len(s) > 4 * k:
                    # prune by the kth-largest ROUNDED score, keeping boundary
                    # ties so the id tie-break stays exact
                    kth = np.partition(s, len(s) - k)[len(s) - k]
                    sel = s >= kth
                    s, ids = s[sel], ids[sel]
                order = np.lexsort((ids, -s))[:k]
                out_q.extend([q_ids[j]] * len(order))
                out_i.extend(ids[order])
                out_s.extend(s[order])
            yield pd.DataFrame({query_id: out_q, item_id: out_i, "score": out_s})

    return items.select(item_id, item_vec).mapInPandas(gen, out_schema)


def _round6_np(x):
    """Half-up 6dp rounding (Spark/DuckDB ROUND semantics; np.round is
    half-even)."""
    import numpy as np

    return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6


def _normalize_np(mat):
    import numpy as np

    return mat / np.linalg.norm(mat, axis=1, keepdims=True)


def _stack_vecs(col):
    import numpy as np

    return np.stack([np.asarray(v, dtype=np.float64) for v in col])


def _pair_dot_arrow(
    pairs: DataFrame, query_id: str, item_id: str, qv_col: str, iv_col: str
) -> DataFrame:
    """(qid, iid, qv, iv) pair rows -> (qid, iid, score): one einsum per
    Arrow batch instead of an interpreted fold per pair. Vectors must
    already be L2-normalized."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField(query_id, pairs.schema[query_id].dataType),
            T.StructField(item_id, pairs.schema[item_id].dataType),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def gen(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({query_id: [], item_id: [], "score": []})
                continue
            s = np.einsum("ij,ij->i", _stack_vecs(pdf[qv_col]), _stack_vecs(pdf[iv_col]))
            yield pd.DataFrame(
                {query_id: pdf[query_id], item_id: pdf[item_id], "score": _round6_np(s)}
            )

    return pairs.mapInPandas(gen, out_schema)


def _splitmix64_np(x):
    """Vectorized SplitMix64 over a uint64 array — fixed portable constants
    for deterministic pseudo-random planes (no rand())."""
    import numpy as np

    x = (x + np.uint64(0x9E3779B97F4A7C15))
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _require_positive(who: str, **params: int) -> None:
    """The search entry points' argument check, run before anything is
    read: a non-positive ``k`` or ``n_probe`` would otherwise return no
    rows without a word (``topk_per_key`` keeps ``rank <= k``)."""
    if any(v <= 0 for v in params.values()):
        got = ", ".join(f"{n}={v}" for n, v in params.items())
        raise ValueError(f"{who}: {' and '.join(params)} must be positive, got {got}")


def _rescore_topk(
    cand: DataFrame, score, query_id: str, item_id: str, k: int, exclude_self: bool
) -> DataFrame:
    """(__qid, __iid, ...) candidate pairs -> (query_id, item_id, score,
    rank): drop self-matches, round ``score`` to 6 dp, per-query top-k
    with the item id as the tie-break."""
    if exclude_self:
        cand = cand.where(F.col("__qid") != F.col("__iid"))
    scored = cand.select(
        F.col("__qid").alias(query_id),
        F.col("__iid").alias(item_id),
        F.round(score, 6).alias("score"),
    )
    return topk_per_key(scored, [query_id], [F.col("score").desc(), F.col(item_id).asc()], k)


def _bucket_rows_arrow(
    df: DataFrame, id_col: str, vec_col: str, out_id: str, dim: int, n_planes: int, n_tables: int
) -> DataFrame:
    """(id, vec) -> (out_id, __v normalized, __bucket) rows, one per table.

    Hyperplane (t,p) component i is ±1 from SplitMix64 of the flat index —
    deterministic across partitionings and runs. One matmul per Arrow batch
    computes every table's every plane projection at once; the bucket key
    packs (table << n_planes) | sign bits into a long.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    flat = np.arange(n_tables * n_planes * dim, dtype=np.uint64)
    planes = np.where(_splitmix64_np(flat) & np.uint64(1), 1.0, -1.0).reshape(
        n_tables * n_planes, dim
    )
    bit_w = (np.uint64(1) << np.arange(n_planes, dtype=np.uint64)).astype(np.int64)
    table_base = (np.arange(n_tables, dtype=np.int64) << n_planes)
    out_schema = T.StructType(
        [
            T.StructField(out_id, df.schema[id_col].dataType),
            T.StructField("__v", T.ArrayType(T.DoubleType())),
            T.StructField("__bucket", T.LongType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            vm = _normalize_np(_stack_vecs(pdf[vec_col]))
            bits = (vm @ planes.T >= 0).reshape(len(ids), n_tables, n_planes)
            buckets = (bits.astype(np.int64) @ bit_w) + table_base[None, :]  # (n, n_tables)
            yield pd.DataFrame(
                {
                    out_id: np.repeat(ids, n_tables),
                    "__v": [v for v in vm for _ in range(n_tables)],
                    "__bucket": buckets.reshape(-1),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(gen, out_schema)


def lsh_topk(
    queries: DataFrame,
    items: DataFrame,
    query_id: str,
    item_id: str,
    dim: int,
    query_vec: str = "embedding",
    item_vec: str = "embedding",
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 8,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate cosine top-k via sign-random-projection LSH.

    ``n_tables`` independent bucketings (planes salted by table index);
    candidates = items sharing a bucket with the query in ANY table, then
    exact cosine rescoring + per-query top-k. Candidate volume scales as
    |items| / 2^n_planes per table — tune n_planes to catalog size.

    Projections are one numpy matmul per Arrow batch
    (``_bucket_rows_arrow``) and rescoring is an einsum over the candidate
    pairs; the search is ``_lsh_search``, shared with the streaming index
    (``lsh_search_from_index``).
    """
    _require_positive("lsh_topk", k=k)
    it = _bucket_rows_arrow(items, item_id, item_vec, "__iid", dim, n_planes, n_tables)
    return _lsh_search(
        it, queries, query_id, query_vec, item_id, dim, k, n_planes, n_tables, exclude_self
    )


def _lsh_search(
    it: DataFrame, queries: DataFrame, query_id: str, query_vec: str, item_id: str,
    dim: int, k: int, n_planes: int, n_tables: int, exclude_self: bool,
) -> DataFrame:
    """The LSH search tail over index rows ``it`` = (__iid, __v normalized,
    __bucket): bucket the queries with the same hyperplanes, join on the
    bucket key, dedup candidate pairs across tables, exact-cosine rescore
    (Arrow einsum), per-query top-k. Output id column: ``item_id``."""
    q = _bucket_rows_arrow(queries, query_id, query_vec, "__qid", dim, n_planes, n_tables)
    cand = (
        q.join(it, "__bucket")
        .where(F.col("__qid") != F.col("__iid") if exclude_self else F.lit(True))
        .select("__qid", "__iid", q["__v"].alias("__qv"), it["__v"].alias("__iv"))
        .dropDuplicates(["__qid", "__iid"])
    )
    scored = _pair_dot_arrow(
        cand.select(
            F.col("__qid").alias(query_id), F.col("__iid").alias(item_id), "__qv", "__iv"
        ),
        query_id,
        item_id,
        "__qv",
        "__iv",
    )
    return topk_per_key(scored, [query_id], [F.col("score").desc(), F.col(item_id).asc()], k)


def _assign_cells(items: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: items × broadcast(centroids), keep the
    argmax-cosine cell per item (ties broken by lower cell id via the struct
    ordering; centroids are unit-norm so dot == cosine)."""
    scored = items.crossJoin(F.broadcast(centroids)).select(
        "__iid",
        "__iv",
        F.struct(
            dot(F.col("__iv"), F.col("__cv")).alias("s"),
            (-F.col("__cell")).alias("negcell"),
            F.col("__cell").alias("cell"),
        ).alias("__sc"),
    )
    return (
        scored.groupBy("__iid")
        .agg(F.max("__sc").alias("__best"), F.first("__iv").alias("__iv"))
        .select("__iid", "__iv", F.col("__best.cell").alias("__cell"))
    )


def _assign_cells_arrow(items: DataFrame, id_col: str, vec_col: str, centroids) -> DataFrame:
    """(id, vec) -> (__iid, __v normalized, __cell): one matmul per Arrow
    batch against the broadcast centroid matrix; ties pick the lowest cell
    id (same rule as the struct-max formulation)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    cells, cmat = centroids  # (np.array of cell ids, normalized matrix)
    out_schema = T.StructType(
        [
            T.StructField("__iid", items.schema[id_col].dataType),
            T.StructField("__v", T.ArrayType(T.DoubleType())),
            T.StructField("__cell", T.IntegerType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            vm = _normalize_np(_stack_vecs(pdf[vec_col]))
            scores = vm @ cmat.T  # (n, n_cells)
            best = scores.max(axis=1)
            pick = np.where(scores == best[:, None], cells[None, :], np.iinfo(np.int32).max).min(
                axis=1
            )
            yield pd.DataFrame(
                {"__iid": ids, "__v": list(vm), "__cell": pick.astype(np.int32)}
            )

    return items.select(id_col, vec_col).mapInPandas(gen, out_schema)


def _lloyd_refine(it: DataFrame, centroids: DataFrame, iters: int) -> DataFrame:
    """Distributed Lloyd steps: assign items to cells, recompute each cell's
    centroid as the per-dimension mean (posexplode → avg → re-assemble →
    renormalize). Empty cells keep their previous centroid via the left join
    in the caller's seed frame staying in ``centroids``."""
    for _ in range(max(iters, 0)):
        step = _assign_cells(it, centroids)
        means = (
            step.select("__cell", F.posexplode("__iv").alias("__pos", "__x"))
            .groupBy("__cell", "__pos")
            .agg(F.avg("__x").alias("__m"))
            .groupBy("__cell")
            .agg(F.array_sort(F.collect_list(F.struct("__pos", "__m"))).alias("__pm"))
            .select(
                "__cell",
                l2_normalize(F.transform(F.col("__pm"), lambda s: s["__m"])).alias("__mv"),
            )
        )
        centroids = centroids.join(means, "__cell", "left").select(
            "__cell", F.coalesce("__mv", "__cv").alias("__cv")
        )
    return centroids


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    n_cells: int = 16,
    threshold: float = 0.8,
    refine_iters: int = 1,
    max_iter: int = 10,
    keeper: str = "min_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic near-dup
    removal in embedding space. Cluster the corpus into IVF cells
    (deterministic lowest-id seeds + ``refine_iters`` Lloyd steps, exactly
    the ``ivf_topk`` build), score pairwise cosine only WITHIN each cell,
    connect pairs ≥ ``threshold`` into duplicate groups
    (``connected_components`` min-label propagation), and keep ONE point per
    group: ``keeper="min_id"`` (default — deterministic, oracle-checkable,
    the repo-wide keep rule) or ``keeper="low_centroid_sim"`` (the paper's
    §3 policy: keep the member with the LOWEST cosine to its cell centroid,
    maximizing retained diversity; ties break to the lower id). Returns
    (id, cell, cluster_id, is_keeper) — filter ``is_keeper = 1`` for the
    deduplicated corpus.

    Scale shape: the cell partition bounds the quadratic term at
    Σ|cell|² ≪ |corpus|² — ``n_cells`` grows with the corpus to hold cell
    size roughly constant (SemDeDup's own trade). The intra-cell self-join
    shuffles both sides on the cell id, so AQE can skew-split an outlier
    cell; nothing broadcasts the corpus, and the component loop's state is
    one slim (node, label) frame bounded by near-dup cluster diameter.
    """
    from real_time_recommendation_system_with_feature_store_spark.ident import qcol
    from real_time_recommendation_system_with_feature_store_spark.operators.dedup import connected_components

    it = df.select(qcol(id_col).alias("__iid"), l2_normalize(qcol(vec_col)).alias("__iv"))
    centroids = ivf_build_centroids(it, "__iid", "__iv", n_cells, refine_iters, assume_unit=True)
    # one eager snapshot: the assignment feeds BOTH the pair generation and
    # the final output join — without it the whole IVF build runs twice, and
    # the component loop's edge frame drags the build tree into every round
    assigned = _assign_cells(it, centroids).localCheckpoint(eager=True)
    a = assigned.select("__cell", F.col("__iid").alias("id_a"), F.col("__iv").alias("__va"))
    b = assigned.select("__cell", F.col("__iid").alias("id_b"), F.col("__iv").alias("__vb"))
    pairs = (
        a.join(b, "__cell")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(dot(F.col("__va"), F.col("__vb")), 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )
    # exact pair-count bound from the (≤ n_cells rows) cell histogram — the
    # one-stats-job fine gate; static estimates of a filtered self-join are
    # uselessly pessimistic, and the histogram rides the checkpointed
    # assignment for free
    cell_sizes = [r["n"] for r in assigned.groupBy("__cell").agg(F.count("*").alias("n")).collect()]
    pair_bound = sum(c * (c - 1) // 2 for c in cell_sizes)
    comp = connected_components(
        pairs, "id_a", "id_b", max_iter=max_iter, edge_count_hint=pair_bound
    )
    label = F.coalesce(F.col("cluster_id"), F.col("__iid"))
    labeled = assigned.join(comp, assigned["__iid"] == comp["node_id"], "left").select(
        F.col("__iid"),
        F.col("__cell"),
        F.col("__iv"),
        label.alias("cluster_id"),
    )
    if keeper == "min_id":
        return labeled.select(
            F.col("__iid").alias(id_col),
            F.col("__cell").alias("cell"),
            "cluster_id",
            (F.col("cluster_id") == F.col("__iid")).cast("int").alias("is_keeper"),
        )
    if keeper != "low_centroid_sim":
        raise ValueError(
            f"semantic_dedup: keeper must be 'min_id' or 'low_centroid_sim', got {keeper!r}"
        )
    # paper policy: per duplicate group, keep the member LEAST similar to its
    # cell centroid — one aggregation on the (slim) cluster key; min(struct)
    # orders by (centroid_sim, id) so ties are deterministic
    scored = labeled.join(F.broadcast(centroids), "__cell").select(
        "__iid",
        "__cell",
        "cluster_id",
        F.round(dot(F.col("__iv"), F.col("__cv")), 6).alias("__csim"),
    )
    winners = scored.groupBy("cluster_id").agg(
        F.min(F.struct(F.col("__csim"), F.col("__iid"))).alias("__w")
    )
    return scored.join(winners, "cluster_id").select(
        F.col("__iid").alias(id_col),
        F.col("__cell").alias("cell"),
        "cluster_id",
        (F.col("__iid") == F.col("__w")["__iid"]).cast("int").alias("is_keeper"),
    )


def ivf_build_centroids(
    items: DataFrame,
    item_id: str,
    item_vec: str = "embedding",
    n_cells: int = 16,
    refine_iters: int = 1,
    assume_unit: bool = False,
) -> DataFrame:
    """Train the IVF coarse quantizer (the k-means "model"): seed
    ``n_cells`` centroids from the lowest-id items — a TakeOrderedAndProject
    per-partition heap, NOT a global row_number window (this is the path
    that must survive an oversized catalog, exactly when a one-task sort
    would hurt most) — then ``refine_iters`` distributed Lloyd steps.
    Returns ``(__cell int, __cv array)``, unit-norm. This is the exact
    construction ``ivf_topk(kernel="expr")`` and ``semantic_dedup`` use
    internally; a FROZEN copy of it is what the streaming index sink
    (streaming/pipeline.py::ivf_index_stream) keeps adding into — the
    faiss train-once / add-incrementally split the reference makes
    (src/serving/retrieval.py:88-139).

    ``assume_unit=True`` skips the L2 normalization — for vectors that are
    already unit (``semantic_dedup``'s normalized frame, the vectors an
    index stores in ``streaming/pipeline``'s sinks and retrains):
    re-normalizing a unit vector perturbs its last ulp, which would make a
    rebuilt quantizer differ bit-wise from a fresh build over the raw
    corpus; skipping it keeps rebuild ≡ fresh-build exact."""
    from real_time_recommendation_system_with_feature_store_spark.ident import qcol
    from real_time_recommendation_system_with_feature_store_spark.operators.topk import global_topn_ranked

    vec = qcol(item_vec) if assume_unit else l2_normalize(qcol(item_vec))
    it = items.select(qcol(item_id).alias("__iid"), vec.alias("__iv"))
    centroids = global_topn_ranked(
        it, [F.col("__iid").asc()], n_cells, rank_col="__cell"
    ).select(F.col("__cell").cast("int").alias("__cell"), F.col("__iv").alias("__cv"))
    return _lloyd_refine(it, centroids, refine_iters)


def ivf_topk(
    queries: DataFrame,
    items: DataFrame,
    query_id: str,
    item_id: str,
    query_vec: str = "embedding",
    item_vec: str = "embedding",
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    refine_iters: int = 1,
    exclude_self: bool = True,
    kernel: str = "arrow",
) -> DataFrame:
    """Approximate cosine top-k via an inverted-file (IVF) index, all
    DataFrame ops (reference: faiss IVF + nprobe, src/serving/retrieval.py:
    88-108; its training step is k-means — here ``refine_iters`` distributed
    Lloyd steps from deterministic seeds).

    Build: seed ``n_cells`` centroids from the lowest-id items (deterministic,
    no rand()), refine by mean-of-assigned (posexplode → per-dimension avg →
    re-assemble), assign each item to one cell. Search: per query score only
    the ``n_probe`` nearest cells' items — candidate volume is
    |items| · n_probe / n_cells instead of |items|.

    At cluster scale the assigned-items table is computed once, persisted,
    and partitioned by cell so each probe reads only matching partitions.

    ``kernel="arrow"`` runs assignment + rescoring as numpy matmul/einsum
    kernels (centroids live driver-side between Lloyd steps — they are
    n_cells rows, the k-means "model"); ``kernel="expr"`` is the
    Column-expression formulation. Both deterministic; cell boundaries may
    differ at float ulp level between kernels (approximate tier).

    The arrow kernel collects the query side for probe selection, so it is
    gated on the plan-size estimate; an oversized query side routes to the
    distributed expression plan (and the probe join loses its broadcast
    hint — AQE decides). The expression plan's search is
    ``_ivf_probes``/``_ivf_search``, shared with the streaming index
    (``ivf_search_from_index``).
    """
    _require_positive("ivf_topk", k=k, n_probe=n_probe)
    if kernel == "arrow" and _fits_driver(queries.select(query_id, query_vec)):
        return _ivf_topk_arrow(
            queries, items, query_id, item_id, query_vec, item_vec,
            k, n_cells, n_probe, refine_iters, exclude_self,
        )
    it = items.select(F.col(item_id).alias("__iid"), l2_normalize(F.col(item_vec)).alias("__iv"))
    centroids = ivf_build_centroids(items, item_id, item_vec, n_cells, refine_iters)
    probes = _ivf_probes(queries, query_id, query_vec, centroids, n_probe)
    return _ivf_search(
        _assign_cells(it, centroids), probes, queries.select(query_id, query_vec),
        query_id, item_id, k, exclude_self,
    )


def _ivf_probes(
    queries: DataFrame, query_id: str, query_vec: str, centroids: DataFrame, n_probe: int
) -> DataFrame:
    """(__qid, __qv normalized, __cell): each query's ``n_probe`` nearest
    cells of the (__cell, __cv) quantizer, ties to the lower cell id."""
    q = queries.select(F.col(query_id).alias("__qid"), l2_normalize(F.col(query_vec)).alias("__qv"))
    return topk_per_key(
        q.crossJoin(F.broadcast(centroids)).select(
            "__qid", "__qv", "__cell", dot(F.col("__qv"), F.col("__cv")).alias("__cs")
        ),
        ["__qid"],
        [F.col("__cs").desc(), F.col("__cell").asc()],
        n_probe,
        rank_col="__prank",
    ).select("__qid", "__qv", "__cell")


def _ivf_search(
    cells: DataFrame, probes: DataFrame, q_gate: DataFrame, query_id: str, item_id: str,
    k: int, exclude_self: bool,
) -> DataFrame:
    """The IVF search tail: join the index rows ``cells`` = (__iid, __iv,
    __cell) to the ``_ivf_probes`` list, exact-cosine rescore, per-query
    top-k. Output id column: ``item_id``.

    The probe list (|queries| × n_probe rows) broadcasts: a shuffle join
    on __cell would hash-partition the whole catalog across ≤ n_cells keys
    — guaranteed skew; broadcasting keeps the item side map-side only. The
    hint is gated on the size estimate of the query projection ``q_gate``;
    an oversized query side gets no hint and AQE picks (and can
    skew-split)."""
    from real_time_recommendation_system_with_feature_store_spark.plans.inspect import gated_broadcast

    cand = cells.join(gated_broadcast(probes, gate_df=q_gate), "__cell")
    return _rescore_topk(cand, dot(F.col("__qv"), F.col("__iv")), query_id, item_id, k, exclude_self)


def _ivf_topk_arrow(
    queries: DataFrame,
    items: DataFrame,
    query_id: str,
    item_id: str,
    query_vec: str,
    item_vec: str,
    k: int,
    n_cells: int,
    n_probe: int,
    refine_iters: int,
    exclude_self: bool,
) -> DataFrame:
    import numpy as np

    from pyspark.sql import types as T

    spark = items.sparkSession
    empty_schema = T.StructType(
        [
            T.StructField(query_id, queries.schema[query_id].dataType),
            T.StructField(item_id, items.schema[item_id].dataType),
            T.StructField("score", T.DoubleType()),
            T.StructField("rank", T.IntegerType()),
        ]
    )
    # deterministic seeds: the n_cells lowest-id items (no rand())
    seed_rows = (
        items.select(F.col(item_id).alias("__iid"), F.col(item_vec).alias("__v"))
        .orderBy("__iid")
        .limit(n_cells)
        .collect()
    )
    if not seed_rows:  # empty catalog: nothing to retrieve
        return spark.createDataFrame([], empty_schema)
    cmat = _normalize_np(_stack_vecs([r["__v"] for r in seed_rows]))
    cells = np.arange(1, len(seed_rows) + 1, dtype=np.int32)

    assigned = None
    for _ in range(max(refine_iters, 0)):
        step = _assign_cells_arrow(items, item_id, item_vec, (cells, cmat))
        # per-cell mean vector: distributed posexplode/avg, then the n_cells
        # centroid rows come back to the driver (they ARE the k-means model)
        mean_rows = (
            step.select("__cell", F.posexplode("__v").alias("__pos", "__x"))
            .groupBy("__cell", "__pos")
            .agg(F.avg("__x").alias("__m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in mean_rows:
            by_cell.setdefault(r["__cell"], {})[r["__pos"]] = r["__m"]
        new = cmat.copy()  # empty cells keep their previous centroid
        for ci, cell in enumerate(cells):
            if int(cell) in by_cell:
                comp = by_cell[int(cell)]
                new[ci] = [comp[p] for p in sorted(comp)]
        cmat = _normalize_np(new)
    assigned = _assign_cells_arrow(items, item_id, item_vec, (cells, cmat))

    # probe selection is |Q| x n_cells — driver-side numpy on the collected
    # query side (same small-side constraint as the broadcast join)
    q_pd = queries.select(query_id, query_vec).toPandas()
    if len(q_pd) == 0:  # empty query side
        return spark.createDataFrame([], empty_schema)
    qids = q_pd[query_id].to_numpy()
    qmat = _normalize_np(_stack_vecs(q_pd[query_vec]))
    cs = qmat @ cmat.T  # (nq, n_cells)

    probe_rows = []
    for j in range(len(qids)):
        order = np.lexsort((cells, -cs[j]))[:n_probe]
        qv = [float(x) for x in qmat[j]]
        for ci in order:
            probe_rows.append((qids[j].item(), qv, int(cells[ci])))
    # explicit schema + pure-Python values: without it, a session that has not
    # enabled Arrow falls back to _inferSchemaFromList, which cannot infer a
    # type for numpy float64 elements (CANNOT_INFER_TYPE_FOR_FIELD __qv)
    probe_schema = T.StructType(
        [
            T.StructField("__qid", queries.schema[query_id].dataType),
            T.StructField("__qv", T.ArrayType(T.DoubleType())),
            T.StructField("__cell", T.IntegerType()),
        ]
    )
    probes = spark.createDataFrame(probe_rows, probe_schema)

    # broadcast the probe list (|queries| × n_probe rows): a shuffle join on
    # __cell would hash-partition the whole catalog across ≤ n_cells keys —
    # guaranteed skew; broadcasting keeps the item side map-side only
    cand = assigned.join(F.broadcast(probes), "__cell")
    if exclude_self:
        cand = cand.where(F.col("__qid") != F.col("__iid"))
    scored = _pair_dot_arrow(
        cand.select(
            F.col("__qid").alias(query_id), F.col("__iid").alias(item_id), "__qv", "__v"
        ),
        query_id,
        item_id,
        "__qv",
        "__v",
    )
    return topk_per_key(scored, [query_id], [F.col("score").desc(), F.col(item_id).asc()], k)


def lsh_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    dim: int,
    vec_col: str = "embedding",
    threshold: float = 0.35,
    n_planes: int = 4,
    n_tables: int = 8,
) -> DataFrame:
    """Scale-path embedding near-dup: LSH bucket self-join + exact rescore.

    The exact all-pairs form (``cosine_near_dup_pairs``) broadcasts the whole
    catalog — O(|n|²) score work and a driver-sized copy, fine for dim tables,
    impossible at catalog scale. Here rows are bucketed by ``n_tables``
    independent sign-random-projection signatures (deterministic hyperplanes,
    no rand()); only same-bucket pairs are rescored exactly, so emitted pairs
    are a true subset of the exact operator's output (every pair satisfies
    round6(cosine) ≥ threshold; recall is bounded by bucket collisions —
    tune n_planes down / n_tables up to raise it). Candidate volume scales
    with bucket occupancy (~|n|²/2^n_planes per table), the self-join
    shuffles on the bucket key, and nothing is collected to the driver.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    b = _bucket_rows_arrow(df, id_col, vec_col, "__id", dim, n_planes, n_tables)
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    # Score INSIDE each bucket group: one shuffle of rows×tables (narrow —
    # id + vector), a per-bucket numpy matmul, and only the ≥-threshold
    # survivors leave the task. The alternative (bucket self-join → slim-pair
    # dedup → re-attach vectors → pairwise rescore) materializes the full
    # candidate-pair set (~|bucket|²/2 per bucket) through two extra shuffles,
    # which measured 5-20s vs ~2s at sf0.1 and scales with candidate volume
    # instead of survivor volume. Scores are round6(normalized matmul) — the
    # same normalization and rounding as the exact operator, so emitted pairs
    # remain a bit-identical subset of cosine_near_dup_pairs.
    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["__id"].to_numpy()
        mat = _stack_vecs(pdf["__v"])  # already normalized by the bucket pass
        frames = []
        # block the row axis so a skewed bucket never allocates an unbounded
        # score matrix; time stays O(b²) per bucket (inherent to the bucket),
        # memory stays O(block × b)
        for lo in range(0, len(ids), 4096):
            blk = slice(lo, min(lo + 4096, len(ids)))
            scores = _round6_np(mat[blk] @ mat.T)
            keep = (ids[None, :] > ids[blk, None]) & (scores >= threshold)
            bi, aj = np.nonzero(keep)
            frames.append(
                pd.DataFrame(
                    {
                        "id_a": ids[blk][bi],
                        "id_b": ids[aj],
                        "cosine": scores[bi, aj],
                    }
                )
            )
        return pd.concat(frames) if frames else pd.DataFrame(columns=["id_a", "id_b", "cosine"])

    scored = b.groupBy("__bucket").applyInPandas(score_bucket, out_schema)
    # same pair can collide in several tables — dedup is output-sized
    return scored.dropDuplicates(["id_a", "id_b"])


def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.35,
    kernel: str = "arrow",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cosine ≥ t).

    Exact all-pairs form (oracle-checkable); the threshold is applied to the
    6dp-ROUNDED similarity so both engines make identical boundary decisions.
    At catalog scale, run the same rescoring after an ``lsh_topk``/``ivf_topk``
    candidate cut instead of the full self-join.

    ``kernel="arrow"`` broadcasts the normalized matrix once and scores each
    Arrow batch of rows against it in one matmul — identical output to the
    crossJoin formulation (``kernel="expr"``), which pays an interpreted
    fold per pair. The arrow kernel collects the whole table driver-side, so
    it is gated on the plan-size estimate: an oversized table routes to the
    distributed expression plan (at that scale prefer ``lsh_near_dup_pairs``).
    """
    if kernel == "arrow" and not _fits_driver(df.select(id_col, vec_col)):
        kernel = "expr"
    if kernel == "arrow":
        import numpy as np
        import pandas as pd
        from pyspark.sql import types as T

        id_type = df.schema[id_col].dataType
        out_schema = T.StructType(
            [
                T.StructField("id_a", id_type),
                T.StructField("id_b", id_type),
                T.StructField("cosine", T.DoubleType()),
            ]
        )
        a_pd = df.select(id_col, vec_col).toPandas()
        if len(a_pd) == 0:  # empty table: no pairs (np.stack rejects [])
            return df.sparkSession.createDataFrame([], out_schema)
        aids = a_pd[id_col].to_numpy()
        amat = _normalize_np(_stack_vecs(a_pd[vec_col]))
        ba = df.sparkSession.sparkContext.broadcast((aids, amat))

        def gen(batches):
            a_ids, a_mat = ba.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                bids = pdf[id_col].to_numpy()
                bmat = _normalize_np(_stack_vecs(pdf[vec_col]))
                scores = _round6_np(bmat @ a_mat.T)  # (nb, na)
                keep = (a_ids[None, :] < bids[:, None]) & (scores >= threshold)
                bi, ai = np.nonzero(keep)
                yield pd.DataFrame(
                    {"id_a": a_ids[ai], "id_b": bids[bi], "cosine": scores[bi, ai]}
                )

        return df.select(id_col, vec_col).mapInPandas(gen, out_schema)

    a = df.select(F.col(id_col).alias("id_a"), l2_normalize(F.col(vec_col)).alias("__va"))
    b = df.select(F.col(id_col).alias("id_b"), l2_normalize(F.col(vec_col)).alias("__vb"))
    return (
        b.crossJoin(F.broadcast(a))
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(dot(F.col("__va"), F.col("__vb")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


# ---- product quantization (PQ) ------------------------------------------


def _pq_codebooks_np(sub_mats, n_codes: int, refine_iters: int):
    """Per-subspace k-means codebooks (numpy, driver-side — the codebook IS
    the model: m × n_codes × sub_dim floats, KBs). Deterministic: seeds are
    the first ``n_codes`` rows (callers pass id-sorted matrices), Lloyd
    assignment is argmin squared-L2 with lowest-code tiebreak, empty codes
    keep their previous codeword."""
    import numpy as np

    books = []
    for sub in sub_mats:
        cw = sub[:n_codes].copy()
        for _ in range(max(refine_iters, 0)):
            d = ((sub[:, None, :] - cw[None, :, :]) ** 2).sum(axis=2)
            code = d.argmin(axis=1)  # argmin takes the FIRST (lowest) index on ties
            for c in range(len(cw)):
                members = sub[code == c]
                if len(members):
                    cw[c] = members.mean(axis=0)
        books.append(cw)
    return books


def pq_train_codebooks(
    items: DataFrame,
    item_id: str,
    item_vec: str,
    dim: int,
    n_sub: int = 8,
    n_codes: int = 16,
    refine_iters: int = 1,
    train_rows: int = 4096,
):
    """Train the PQ codebooks (the frozen "model": m × n_codes × sub_dim
    floats, KBs) on the ``train_rows`` lowest-id items — deterministic, no
    rand(). Returns the numpy codebook list, or None for an empty input.
    This is the exact construction ``pq_topk`` runs internally; a frozen
    copy is what the streaming index sink
    (streaming/pipeline.py::pq_index_stream) keeps encoding against — the
    same train-once / add-incrementally split as ``ivf_build_centroids``."""
    sub_dim = dim // n_sub
    train_pd = (
        items.select(F.col(item_id).alias("__iid"), F.col(item_vec).alias("__v"))
        .orderBy("__iid")
        .limit(train_rows)
        .toPandas()
    )
    if len(train_pd) == 0:
        return None
    tmat = _normalize_np(_stack_vecs(train_pd["__v"]))
    return _pq_codebooks_np(
        [tmat[:, m * sub_dim : (m + 1) * sub_dim] for m in range(n_sub)],
        n_codes,
        refine_iters,
    )


def _pq_encode(items: DataFrame, item_id: str, item_vec: str, books, dim: int, n_sub: int) -> DataFrame:
    """Encode every item as n_sub codes against the (broadcast-captured)
    codebooks — one matmul-style argmin per Arrow batch. Output:
    (__iid, __code array<int>), the slim PQ index rows."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    sub_dim = dim // n_sub
    code_schema = T.StructType(
        [
            T.StructField("__iid", items.schema[item_id].dataType),
            T.StructField("__code", T.ArrayType(T.IntegerType())),
        ]
    )

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vm = _normalize_np(_stack_vecs(pdf[item_vec]))
            codes = np.empty((len(vm), n_sub), dtype=np.int32)
            for m, cw in enumerate(books):
                sub = vm[:, m * sub_dim : (m + 1) * sub_dim]
                d = ((sub[:, None, :] - cw[None, :, :]) ** 2).sum(axis=2)
                codes[:, m] = d.argmin(axis=1)
            yield pd.DataFrame({"__iid": pdf[item_id], "__code": list(codes)})

    return items.select(item_id, item_vec).mapInPandas(encode, code_schema)


def _pq_query_tables(queries: DataFrame, query_id: str, query_vec: str, books, dim: int, n_sub: int) -> DataFrame:
    """Per-query ADC lookup tables, built DISTRIBUTED (one Arrow pass
    against the broadcast codebooks — nothing query-sized touches the
    driver). Output: (__qid, __qv normalized, __dt flat n_sub·n_codes)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    sub_dim = dim // n_sub
    dt_schema = T.StructType(
        [
            T.StructField("__qid", queries.schema[query_id].dataType),
            T.StructField("__qv", T.ArrayType(T.DoubleType())),
            T.StructField("__dt", T.ArrayType(T.DoubleType())),
        ]
    )

    def query_tables(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qm = _normalize_np(_stack_vecs(pdf[query_vec]))
            dt = np.concatenate(
                [qm[:, m * sub_dim : (m + 1) * sub_dim] @ books[m].T for m in range(n_sub)],
                axis=1,
            )
            yield pd.DataFrame(
                {"__qid": pdf[query_id], "__qv": list(qm), "__dt": list(dt)}
            )

    return queries.select(query_id, query_vec).mapInPandas(query_tables, dt_schema)


def _pq_adc_topk(
    encoded: DataFrame, qtab: DataFrame, q_gate: DataFrame, query_id: str, item_id: str,
    n_sub: int, n_codes: int, k: int, exclude_self: bool,
) -> DataFrame:
    """The PQ search tail (ADC): the code index ``encoded`` = (__iid,
    __code) × the ``_pq_query_tables`` rows ``qtab``, approximate score =
    Σ_m dt[m·n_codes + code_m] — n_sub literal element_at lookups, fully
    codegen'd, no vectors on the scan side — then per-query top-k. Output
    id column: ``item_id``. The query tables broadcast when the query
    projection ``q_gate`` fits the size estimate; oversized query frames
    leave the join strategy to AQE."""
    from real_time_recommendation_system_with_feature_store_spark.plans.inspect import gated_broadcast

    score = None
    for m in range(n_sub):
        term = F.element_at(
            F.col("__dt"), F.lit(m * n_codes) + F.element_at(F.col("__code"), m + 1) + 1
        )
        score = term if score is None else score + term
    cand = encoded.crossJoin(gated_broadcast(qtab.select("__qid", "__dt"), gate_df=q_gate))
    return _rescore_topk(cand, score, query_id, item_id, k, exclude_self)


def pq_topk(
    queries: DataFrame,
    items: DataFrame,
    query_id: str,
    item_id: str,
    dim: int,
    query_vec: str = "embedding",
    item_vec: str = "embedding",
    k: int = 10,
    n_sub: int = 8,
    n_codes: int = 16,
    refine_iters: int = 1,
    train_rows: int = 4096,
    rerank: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate cosine top-k via product quantization with asymmetric
    distance computation (ADC) — the reference's faiss index family
    (src/serving/retrieval.py:88-108) at its catalog-scale operating point.

    Build: L2-normalize items, split dim into ``n_sub`` subspaces, per
    subspace train a ``n_codes``-codeword k-means codebook on the
    ``train_rows`` lowest-id items (deterministic — no rand()), then encode
    EVERY item as n_sub uint8-sized codes (an Arrow matmul per batch; the
    8-byte code replaces the 512-byte vector — the 64× compression that
    makes a 100 TB catalog index fit hot storage).

    Search (ADC): each query precomputes a flat n_sub×n_codes table of
    subvector·codeword dots; an item's approximate cosine is the sum of
    n_sub TABLE LOOKUPS — pure JVM expressions over the broadcast query
    frame, no per-item vector math, so the scan side stays in whole-stage
    codegen and touches only the slim (id, codes) index.

    Re-rank: the ADC pass over-fetches ``rerank × k`` candidates per query
    (the reference's own over-fetch pattern, retrieval.py:170), re-attaches
    the true vectors for that shortlist ONLY, and exact-rescored cosine
    picks the final k — so emitted scores are true cosines, directly
    comparable to ``brute_force_topk``. ``rerank=0`` returns the raw ADC
    ranking.

    The per-query tables are built DISTRIBUTED (one Arrow pass against the
    broadcast codebook — nothing query-sized touches the driver), so the
    query side may be unbounded; only the ADC join's broadcast hint is
    plan-size gated. Approximate tier: recall is bounded by quantization
    error at the shortlist stage; the exact twin is ``brute_force_topk``.

    Returns (query_id, item_id, score, rank<=k).
    """
    from pyspark.sql import types as T

    from real_time_recommendation_system_with_feature_store_spark.plans.inspect import gated_broadcast

    _require_positive("pq_topk", k=k)
    spark = items.sparkSession
    empty_schema = T.StructType(
        [
            T.StructField(query_id, queries.schema[query_id].dataType),
            T.StructField(item_id, items.schema[item_id].dataType),
            T.StructField("score", T.DoubleType()),
            T.StructField("rank", T.IntegerType()),
        ]
    )
    books = pq_train_codebooks(
        items, item_id, item_vec, dim, n_sub, n_codes, refine_iters, train_rows
    )
    if books is None:
        return spark.createDataFrame([], empty_schema)

    # encode: one matmul-style argmin per Arrow batch against the broadcast
    # codebook; output is the slim (id, array<int> codes) PQ index
    encoded = _pq_encode(items, item_id, item_vec, books, dim, n_sub)

    # Query tables are built DISTRIBUTED (mapInPandas against the broadcast
    # codebook) — no driver collect, so an unbounded query side works
    q_gate = queries.select(query_id, query_vec)
    qtab = _pq_query_tables(queries, query_id, query_vec, books, dim, n_sub)
    if rerank <= 0:
        return _pq_adc_topk(encoded, qtab, q_gate, query_id, item_id, n_sub, n_codes, k, exclude_self)
    # consumed twice (ADC join + re-rank qv join): snapshot so the
    # normalization+codebook-matmul kernel runs once, not per consumer
    # (GC-managed blocks — no CacheManager leak)
    qtab = qtab.localCheckpoint(eager=True)
    shortlist = _pq_adc_topk(
        encoded, qtab, q_gate, query_id, item_id, n_sub, n_codes, rerank * k, exclude_self
    ).select(query_id, item_id)
    # exact rescoring touches only |Q|·rerank·k rows: re-attach true vectors
    # for the shortlist and the normalized query vectors (from the same
    # distributed table pass)
    qv = qtab.select(F.col("__qid").alias(query_id), "__qv")
    iv = items.select(F.col(item_id), l2_normalize(F.col(item_vec)).alias("__iv"))
    exact = shortlist.join(iv, item_id).join(gated_broadcast(qv, gate_df=q_gate), query_id).select(
        query_id,
        item_id,
        F.round(dot(F.col("__qv"), F.col("__iv")), 6).alias("score"),
    )
    return topk_per_key(exact, [query_id], [F.col("score").desc(), F.col(item_id).asc()], k)
