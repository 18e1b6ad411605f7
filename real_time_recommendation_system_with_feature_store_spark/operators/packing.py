"""Sequence packing for training-data export — LLM-pipeline extra
(BASELINE.json north star; no reference counterpart).

Pretraining pipelines concatenate the document stream and cut it into
fixed-token-budget chunks (documents may span a boundary). Assigning each
document to the chunk holding its FIRST token is a prefix-sum over the
deterministic document order:

    chunk_id = floor(tokens_before_this_doc / budget)

which is one window cumsum — no stateful scan, no driver loop. For sharded
export the same expression runs per shard (partitionBy(shard)); the global
single-stream variant is cost-gated — small inputs use the one-shuffle
window, larger ones the range-partitioned prefix sum with cross-partition
carry (operators/rank.py::global_exclusive_prefix_sum), so neither
signature can funnel a 100 TB corpus through one task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from real_time_recommendation_system_with_feature_store_spark.ident import qcol


def _ordering(order_cols):
    # strings are user-supplied column NAMES (one identifier, dots and
    # all) -> quoted resolution; Column objects pass through
    return [qcol(c) if isinstance(c, str) else c for c in order_cols]


def pack_by_token_budget(
    df: DataFrame,
    token_col: str,
    order_cols: list[Column | str],
    budget: int,
    shard_col: str | None = None,
    chunk_col: str = "chunk_id",
    offset_col: str = "chunk_offset",
    small_input_bytes: int = 256 << 20,
) -> DataFrame:
    """Assign each row a (chunk_id, chunk_offset) under a token budget.

    chunk_id   — chunk containing the document's first token
    chunk_offset — the first token's position within that chunk

    ``order_cols`` must be a total order (include a unique key) or the
    assignment is not deterministic. With ``shard_col`` the packing is
    per-shard (chunk ids restart per shard) and the cumsum parallelizes on
    the shard key directly.

    Without ``shard_col`` the packing is one global stream. Cost-gated like
    time_fraction_split (split.py:44): small inputs take the unpartitioned
    window (cheapest single shuffle at test scale); anything larger routes
    through ``global_exclusive_prefix_sum`` (rank.py) — range-partitioned
    parallel sort, partition-local cumsum, broadcast cross-shard carry — so
    the default signature can no longer funnel a 100 TB corpus through one
    task. Both paths produce the identical (chunk_id, chunk_offset).
    """
    if shard_col:
        w = Window.partitionBy(qcol(shard_col)).orderBy(*_ordering(order_cols))
        before = F.coalesce(
            F.sum(qcol(token_col)).over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
        out = df.withColumn("__before", before)
    else:
        from real_time_recommendation_system_with_feature_store_spark.operators.kcore import _plan_size_bytes
        from real_time_recommendation_system_with_feature_store_spark.operators.rank import (
            global_exclusive_prefix_sum,
        )

        if _plan_size_bytes(df) <= small_input_bytes:
            w = Window.orderBy(*_ordering(order_cols))
            before = F.coalesce(
                F.sum(qcol(token_col)).over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            )
            out = df.withColumn("__before", before)
        else:
            out = global_exclusive_prefix_sum(df, token_col, order_cols, "__before")
    return (
        out.withColumn(chunk_col, F.floor(F.col("__before") / F.lit(budget)).cast("long"))
        .withColumn(offset_col, (F.col("__before") % F.lit(budget)).cast("long"))
        .drop("__before")
    )


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_tokens: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Sliding-window document chunking — the RAG/pretraining splitter: cut
    each document into windows of ``max_tokens`` whitespace tokens advancing
    by ``max_tokens - overlap``, so consecutive chunks share ``overlap``
    tokens of context.

    Chunk count per doc is 1 when n <= max_tokens, else
    ``floor((n - max_tokens + step - 1)/step) + 1`` — the last chunk is the
    first window reaching the document's end (no degenerate fully-covered
    tail windows). Zero-token docs emit no chunks.

    Pure expressions: tokens once, a ``sequence`` of window starts, one
    ``posexplode`` — the row expansion is ~n/step per doc and the shuffle
    key stays the document, so the op is embarrassingly parallel at corpus
    scale (same shape as multimodal frame sampling).

    Returns (id, chunk_idx, start_token, n_chunk_tokens, chunk_text).
    """
    from real_time_recommendation_system_with_feature_store_spark.functions.text import tokens

    step = max_tokens - overlap
    if step <= 0:
        raise ValueError("overlap must be smaller than max_tokens")
    toks = tokens(qcol(text_col))
    n = F.size(toks)
    n_chunks = F.when(n <= max_tokens, F.lit(1)).otherwise(
        F.floor((n - max_tokens + step - 1) / F.lit(step)).cast("long") + 1
    )
    starts = F.sequence(F.lit(0).cast("long"), (n_chunks - 1) * step, F.lit(step).cast("long"))
    # "at least one token" as a CHEAP predicate instead of
    # where(size(tokens) > 0), which evaluated the whole tokenization tree
    # once in the Filter and again in the projection (the guide §4.4
    # duplication, for a builtin tree). Exactly equivalent: tokens() splits
    # on the \\s+ class, so a text yields >= 1 non-empty token iff it holds
    # a non-\\s character. (F.trim strips only spaces, so a trim-based gate
    # let tab- or newline-only text through as one empty chunk.) The
    # IsNotNull half also pushes to the parquet scan (r15 verdict #2).
    rows = df.where(
        qcol(text_col).isNotNull() & qcol(text_col).rlike("\\S")
    ).select(
        qcol(id_col),
        toks.alias("__toks"),
        n.alias("__n"),
        F.posexplode(starts).alias("chunk_idx", "start_token"),
    )
    width = F.least(F.lit(max_tokens).cast("long"), F.col("__n") - F.col("start_token"))
    chunk = F.slice(F.col("__toks"), F.col("start_token").cast("int") + 1, width.cast("int"))
    return rows.select(
        qcol(id_col),
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        "start_token",
        width.cast("int").alias("n_chunk_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )
