"""Incremental view maintenance (IVM) for distributive aggregates.

``merge.py`` maintains a ROW-level snapshot from a CDC changelog; this
module maintains an AGGREGATED rollup (sum/count per group) from the same
kind of changelog WITHOUT re-aggregating the base — the classic
delta-propagation rule for distributive aggregates (self-maintainable
views: inserts contribute ``+measure``, deletes ``-measure``, updates
``new - old``). At 100 TB the difference is the whole point: the
incremental path shuffles only the DELTA (bounded by the day's changes),
touches only the changed groups via an outer merge, and never rescans the
base fact table — a nightly rollup refresh costs O(|delta|), not
O(|history|).

Reference tie: the reference recomputes its popularity/statistics tables
from scratch per run (eager pandas aggregation over the full interaction
frame, src/evaluation/metrics.py:467-477, src/features/
simple_feature_store.py:73-89); this operator is that computation's
incremental form.

Spark-first shape: ONE aggregation over the delta (map-side partial, the
same hash partitioning as any groupBy), then a full-outer merge onto the
materialized aggregate keyed by the group columns — full-outer joins
cannot broadcast in Spark, so the zero-view-shuffle layout is the SAME
bucketed-base pattern merge_changelog uses (store the view bucketed by
the group keys; plan-asserted). Groups whose count reaches zero are
dropped (the view contains exactly the groups a full recompute would
produce, asserted by the golden tests and the catalog oracle).

Scope boundary (the honest one every IVM system has): count/sum — and
anything derived from them (avg, ratio, variance via sum-of-squares) —
are SELF-MAINTAINABLE under deletes; MIN/MAX are not (retracting the
current extremum needs the group's next-best value, i.e. a base
re-scan of that group). ``apply_extrema_delta`` implements the standard
production answer — the DIRTY-GROUP rule: inserts tighten extrema in
place, and only groups whose delete touches a stored extremum
re-aggregate from the post-change snapshot via a targeted semi-join —
O(|delta|) plus the base rows of dirty groups, never a full rescan.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from real_time_recommendation_system_with_feature_store_spark.ident import qcol

# the extrema-contribution aliases of collapse_extrema_changes
_EXTREMA_NAMES = ("imn", "imx", "dmn", "dmx", "nbad")


def _reject_reserved(fn: str, cols: Sequence[str], reserved: Sequence[str]) -> None:
    """Fail loudly up front when a caller's column is named like one of the
    operator's output aliases: the collision would poison every downstream
    reference with AMBIGUOUS_REFERENCE. Rename the column upstream."""
    clash = sorted(set(reserved) & set(cols))
    if clash:
        raise ValueError(
            f"{fn}: column(s) {clash} collide with the reserved names "
            f"{sorted(set(reserved))} — rename upstream"
        )


def _op_sign(op: Column, fn: str) -> Column:
    """+1 for an insert, -1 for a delete; any other op raises in-plan."""
    return (
        F.when(op == "I", F.lit(1))
        .when(op == "D", F.lit(-1))
        .otherwise(
            F.raise_error(
                F.concat(F.lit(f"{fn}: unknown op "), op.cast("string"))
            ).cast("int")
        )
    )


def _sum_aggs(
    op: Column,
    measure: Column,
    count_col: str,
    sum_col: str,
    extra_measures: dict[str, Column] | None,
) -> list[Column]:
    """``agg_delta``'s (Δcount, Δsum, extras…) aggregates."""

    # negate in DOUBLE (an exact sign flip), THEN cast to decimal: a
    # decimal(28,10) × decimal(28,10) product would widen past Spark's
    # 38-digit cap and round differently from other engines
    def _signed(m: Column) -> Column:
        return F.sum(F.when(op == "I", m).otherwise(-m).cast("decimal(28,10)"))

    return [
        F.sum(_op_sign(op, "agg_delta")).alias(count_col),
        _signed(measure).alias(sum_col),
        *[_signed(m).alias(name) for name, m in (extra_measures or {}).items()],
    ]


def _bad_row_count(op: Column, m: Column) -> Column:
    """The number of rows with an unknown op or a NULL measure. when()
    always evaluates its CONDITION, so bad rows are counted
    unconditionally — a lazily-branched raise would never fire for rows no
    branch selects (see apply_extrema_delta)."""
    is_bad_row = ~(((op == "I") | (op == "D")) & m.isNotNull())
    return F.sum(F.when(is_bad_row, F.lit(1)).otherwise(F.lit(0)))


def _extrema_aggs(op: Column, m: Column) -> list[Column]:
    """``collapse_extrema_changes``' (imn, imx, dmn, dmx, nbad) aggregates."""
    return [
        F.min(F.when(op == "I", m)).alias("imn"),
        F.max(F.when(op == "I", m)).alias("imx"),
        F.min(F.when(op == "D", m)).alias("dmn"),
        F.max(F.when(op == "D", m)).alias("dmx"),
        _bad_row_count(op, m).alias("nbad"),
    ]


def agg_delta(
    changes: DataFrame,
    keys: Sequence[str],
    measure: Column,
    op_col: str = "op",
    count_col: str = "n",
    sum_col: str = "total",
    extra_measures: dict[str, Column] | None = None,
) -> DataFrame:
    """Collapse a changelog into per-group (Δcount, Δsum…) contributions.

    ``op_col`` ∈ {'I' insert, 'D' delete}: an update arrives as its D/I
    pair (the lossless CDC convention — the pair may even land in
    different batches; delta aggregation is order-independent because
    + and − commute). The measure is cast to DECIMAL(28,10) before
    summing so retractions cancel EXACTLY — float partial sums would
    leave 1-ulp residue on groups that should return to zero, and those
    ghosts would keep the group alive in the view.

    ``extra_measures`` maintains additional sums (e.g. revenue AND
    quantity) in the SAME delta pass — one shuffle for all measures; the
    view side must carry matching column names and
    ``apply_agg_delta(extra_sum_cols=...)`` merges them.
    """
    return changes.groupBy(*[qcol(k) for k in keys]).agg(
        *_sum_aggs(qcol(op_col), measure, count_col, sum_col, extra_measures)
    )


def agg_extrema_delta(
    changes: DataFrame,
    keys: Sequence[str],
    measure: Column,
    op_col: str = "op",
    count_col: str = "n",
    sum_col: str = "total",
    extra_measures: dict[str, Column] | None = None,
) -> DataFrame:
    """ONE groupBy pass over a changelog producing BOTH ``agg_delta``'s
    (Δcount, Δsum…) columns AND ``collapse_extrema_changes``' extrema
    contribution columns (imn, imx, dmn, dmx, nbad) — for entries that
    advance a sum/count rollup AND a MIN/MAX rollup over the SAME group
    keys from the SAME changelog (guide §2.1/§2.3: the day's delta
    shuffles once for all per-group stats instead of once per rule).

    Column-for-column identical to running the two collapses separately
    (the expressions are the same ones, summed/min'd over the same
    groups); project each operator's input off the result and feed
    ``apply_agg_delta`` and ``apply_extrema_delta(collapsed=True)``.
    The result is group-sized — materialize it once (e.g. a lazy
    localCheckpoint) when both projections are consumed.

    Loudness contract: unknown ops raise in-plan via the ``agg_delta``
    sign guard; (unknown op OR NULL measure) rows additionally count
    into ``nbad``, which ``apply_extrema_delta`` asserts on — the union
    of the two source collapses' guards. The extrema names are reserved
    for the keys, ``count_col``, ``sum_col`` and the extra measure names
    alike."""
    _reject_reserved(
        "agg_extrema_delta",
        [*keys, count_col, sum_col, *(extra_measures or {})],
        _EXTREMA_NAMES,
    )
    op = qcol(op_col)
    return changes.groupBy(*[qcol(k) for k in keys]).agg(
        *_sum_aggs(op, measure, count_col, sum_col, extra_measures),
        *_extrema_aggs(op, measure),
    )


def apply_agg_delta(
    view: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    count_col: str = "n",
    sum_col: str = "total",
    null_safe_keys: bool = True,
    extra_sum_cols: Sequence[str] = (),
) -> DataFrame:
    """Merge per-group delta contributions into a materialized
    (keys, count, sum) rollup: changed groups adjust, new groups appear,
    groups whose count reaches zero disappear — the result equals a full
    recompute over base+changes row-for-row (golden + oracle tested).

    Scale shape — the same contract as ``merge_changelog``: the
    full-outer join shuffles BOTH sides on the group keys unless the
    view is stored bucketed by them, in which case the view reads
    straight from buckets with ZERO view-side Exchange and only the
    delta (the day's changes, collapsed to one row per touched group)
    shuffles — plan-asserted in tests/test_plans.py. The same
    ``null_safe_keys`` trap applies verbatim: the null-safe default
    pairs NULL group keys (a groupBy emits NULL groups) but compiles to
    coalesce/isnull composite join keys that DEFEAT bucketing; pass
    False when group keys are non-null by contract and the view layout
    is bucketed.

    Guard: a delete for a group the view does not contain (count would go
    negative) means the changelog and the view disagree — fail loudly via
    an in-plan assert rather than materializing a negative-count group.
    """
    kcols = list(keys)
    sums = [sum_col, *extra_sum_cols]
    v = view.select(
        *[qcol(k).alias(f"__vk_{i}") for i, k in enumerate(kcols)],
        qcol(count_col).alias("__vn"),
        *[qcol(s).cast("decimal(28,10)").alias(f"__vs_{j}") for j, s in enumerate(sums)],
    )
    d = delta.select(
        *[qcol(k).alias(f"__dk_{i}") for i, k in enumerate(kcols)],
        qcol(count_col).alias("__dn"),
        *[qcol(s).cast("decimal(28,10)").alias(f"__ds_{j}") for j, s in enumerate(sums)],
    )
    cond = None
    for i in range(len(kcols)):
        if null_safe_keys:
            eq = F.col(f"__vk_{i}").eqNullSafe(F.col(f"__dk_{i}"))
        else:
            eq = F.col(f"__vk_{i}") == F.col(f"__dk_{i}")
        cond = eq if cond is None else (cond & eq)
    merged = v.join(d, cond, "full_outer")
    n_new = F.coalesce(F.col("__vn"), F.lit(0)) + F.coalesce(F.col("__dn"), F.lit(0))
    zero = F.lit(0).cast("decimal(28,10)")
    s_news = [
        F.coalesce(F.col(f"__vs_{j}"), zero) + F.coalesce(F.col(f"__ds_{j}"), zero)
        for j in range(len(sums))
    ]
    guard = F.coalesce(
        F.assert_true(
            n_new >= 0,
            F.lit(
                "apply_agg_delta: group count went negative — the changelog "
                "retracts rows the view never contained"
            ),
        ).cast("long"),
        n_new.cast("long"),
    )
    return merged.select(
        *[
            F.coalesce(F.col(f"__vk_{i}"), F.col(f"__dk_{i}")).alias(k)
            for i, k in enumerate(kcols)
        ],
        guard.alias(count_col),
        *[s_news[j].alias(s) for j, s in enumerate(sums)],
    ).where(F.col(count_col) > 0)


def _key_eq(n_keys: int, left: str, right: str, null_safe: bool) -> Column:
    cond = None
    for i in range(n_keys):
        if null_safe:
            eq = F.col(f"{left}{i}").eqNullSafe(F.col(f"{right}{i}"))
        else:
            eq = F.col(f"{left}{i}") == F.col(f"{right}{i}")
        cond = eq if cond is None else (cond & eq)
    return cond


def collapse_extrema_changes(
    changes: DataFrame,
    keys: Sequence[str],
    measure_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Collapse a D/I changelog into the per-group extrema-contribution
    frame ``apply_extrema_delta`` consumes: (keys…, imn, imx, dmn, dmx,
    nbad). Every column is MERGEABLE — min/min, max/max, sum — so partial
    collapses fold across micro-batches exactly like ``agg_delta``'s
    sums: the streaming sink (``extrema_delta_stream``) writes one of
    these per epoch and the read-side fold equals the collapse of the
    concatenated changelog, bit-for-bit.

    The five contribution names are RESERVED: a key column named one of
    them would collide with the aggregate aliases and poison every
    downstream reference with AMBIGUOUS_REFERENCE — fail loudly up front
    instead (rename the key upstream)."""
    _reject_reserved("collapse_extrema_changes", keys, _EXTREMA_NAMES)
    return changes.groupBy(*[qcol(k) for k in keys]).agg(
        *_extrema_aggs(qcol(op_col), qcol(measure_col))
    )


def apply_extrema_delta(
    view: DataFrame,
    changes: DataFrame,
    base_after: DataFrame,
    keys: Sequence[str],
    measure_col: str,
    op_col: str = "op",
    min_col: str = "mn",
    max_col: str = "mx",
    null_safe_keys: bool = True,
    gate_df: DataFrame | None = None,
    collapsed: bool = False,
) -> DataFrame:
    """Maintain a per-group (MIN, MAX) rollup under a D/I changelog — the
    aggregates the module docstring's scope boundary calls out as NOT
    self-maintainable — via the dirty-group rule:

    * INSERTS only tighten extrema: merged in place with least/greatest,
      zero base access (new groups appear the same way).
    * A group goes DIRTY only when a delete TOUCHES a stored extremum
      (deleted value <= stored min or >= stored max — a consistent
      changelog only deletes values inside [min, max], so this is exactly
      "deletes the current extremum", duplicates included). Only dirty
      groups re-aggregate, from ``base_after`` — the post-change snapshot
      (``merge_changelog``'s output; the caller maintains it anyway) —
      restricted by a semi-join on the dirty keys. Deleting a group's
      LAST row necessarily touches both extrema, so group death falls out
      of the recompute returning no rows: no count column needed.
    * A group BORN inside the changelog whose own inserts are partially
      retracted (view-absent, deletes AND inserts) re-aggregates from
      ``base_after`` like any dirty group — the collapsed min/max cannot
      settle it in place. A delete for a view-absent group with NO
      inserts to account for it fails loudly in-plan (the
      ``apply_agg_delta`` guard contract).

    Cost: O(|delta|) for the clean path + O(base rows of dirty groups)
    for the recompute — at 100 TB a day's deletes touch the extrema of
    a bounded set of groups, and only those groups' partitions re-read.
    The dirty-key semi-join side is stats-gated (``gated_broadcast``;
    the key frame derives from a join whose Catalyst estimate is
    garbage, so the gate reads ``gate_df`` — defaulting to the changes
    key projection, a sanely-estimated bound). The VIEW is consumed
    twice (the clean-branch merge and the dirty-key extraction both
    read the view⋈changes frame), so store it as a bucketed table —
    the ``apply_agg_delta`` layout contract — making both reads
    shuffle-free scans; for an in-memory view, persist it first.

    NULL measures are unsupported (min/max skip NULLs, so a NULL delete
    cannot be located against the stored extrema); NULL group KEYS follow
    the ``null_safe_keys`` contract of ``apply_agg_delta`` verbatim.

    ``collapsed=True`` accepts ``changes`` already in
    ``collapse_extrema_changes``' (keys…, imn, imx, dmn, dmx, nbad) form
    — the streaming path (``read_extrema_delta_state``'s epoch fold); in
    that case the default ``gate_df`` is the collapsed frame itself (one
    row per touched group, scan-derived, sanely estimated).
    """
    kcols = list(keys)
    m = qcol(measure_col)
    chg0 = changes if collapsed else collapse_extrema_changes(
        changes, kcols, measure_col, op_col
    )
    chg = chg0.select(
        *[qcol(k).alias(f"__ck_{i}") for i, k in enumerate(kcols)],
        F.col("imn").alias("__imn"),
        F.col("imx").alias("__imx"),
        F.col("dmn").alias("__dmn"),
        F.col("dmx").alias("__dmx"),
        F.col("nbad").alias("__nbad"),
    )
    v = view.select(
        *[qcol(k).alias(f"__vk_{i}") for i, k in enumerate(kcols)],
        qcol(min_col).alias("__vmn"),
        qcol(max_col).alias("__vmx"),
        F.lit(True).alias("__vp"),
    )
    merged = v.join(
        chg, _key_eq(len(kcols), "__vk_", "__ck_", null_safe_keys), "full_outer"
    )
    has_del = F.col("__dmn").isNotNull()
    # a view-absent group with deletes AND inserts is a group BORN inside
    # the changelog whose own inserts are (partially) retracted — a
    # consistent history the collapsed min/max cannot settle in place, so
    # it re-aggregates from the post-change snapshot like any other dirty
    # group (deletes with NO inserts to account for them remain a loud
    # changelog/view disagreement)
    dirty = F.coalesce(
        (
            F.col("__vp")
            & has_del
            & (
                (F.col("__dmn") <= F.col("__vmn"))
                | (F.col("__dmx") >= F.col("__vmx"))
            )
        )
        | (F.col("__vp").isNull() & has_del & F.col("__imn").isNotNull()),
        F.lit(False),
    )
    # clean path: in-place least/greatest merge (F.least/greatest skip
    # NULLs, so insert-only new groups and no-insert old groups both work)
    bad = (has_del & F.col("__vp").isNull() & F.col("__imn").isNull()) | (
        F.coalesce(F.col("__nbad"), F.lit(0)) > 0
    )
    new_mn = F.coalesce(
        F.assert_true(
            ~bad,
            F.lit(
                "apply_extrema_delta: delete for a group the view never "
                "contained, unknown op, or NULL measure — changelog and "
                "view disagree / NULL measures unsupported"
            ),
        ).cast(view.schema[min_col].dataType),
        F.least("__vmn", "__imn"),
    )
    clean = merged.where(~dirty).select(
        *[
            F.coalesce(F.col(f"__vk_{i}"), F.col(f"__ck_{i}")).alias(k)
            for i, k in enumerate(kcols)
        ],
        new_mn.alias(min_col),
        F.greatest("__vmx", "__imx").alias(max_col),
    )
    # the bad-row assert must also cover groups routed to the recompute
    # branch (a dirty group can carry a bad changelog row too)
    dirty_guard = F.coalesce(
        F.assert_true(
            F.coalesce(F.col("__nbad"), F.lit(0)) == 0,
            F.lit(
                "apply_extrema_delta: unknown op or NULL measure in the "
                "changelog of a recomputed group"
            ),
        ).cast(view.schema[kcols[0]].dataType),
        F.coalesce(F.col("__vk_0"), F.col("__ck_0")),
    )
    dirty_keys = merged.where(dirty).select(
        dirty_guard.alias("__rk_0"),
        *[
            F.coalesce(F.col(f"__vk_{i}"), F.col(f"__ck_{i}")).alias(f"__rk_{i}")
            for i in range(1, len(kcols))
        ],
    )
    if gate_df is None:
        gate_df = chg0.select(*[qcol(k) for k in kcols])
    from real_time_recommendation_system_with_feature_store_spark.plans.inspect import gated_broadcast

    b = base_after.select(
        *[qcol(k).alias(f"__bk_{i}") for i, k in enumerate(kcols)],
        m.alias("__bm"),
    )
    recomputed = (
        b.join(
            gated_broadcast(dirty_keys, gate_df=gate_df),
            _key_eq(len(kcols), "__bk_", "__rk_", null_safe_keys),
            "left_semi",
        )
        .groupBy(*[F.col(f"__bk_{i}") for i in range(len(kcols))])
        .agg(F.min("__bm").alias(min_col), F.max("__bm").alias(max_col))
        .select(
            *[F.col(f"__bk_{i}").alias(k) for i, k in enumerate(kcols)],
            min_col,
            max_col,
        )
    )
    return clean.unionByName(recomputed)


def build_topk_buffer(
    base: DataFrame,
    keys: Sequence[str],
    id_col: str,
    measure_col: str,
    buffer_k: int,
    h_val_col: str = "hv",
    h_id_col: str = "hid",
) -> DataFrame:
    """Materialize the per-group top-``buffer_k`` BUFFER that
    ``apply_topk_delta`` maintains — the classic top-k view-maintenance
    layout (Yi et al., "Efficient Maintenance of Materialized Top-k
    Views", ICDE 2003): keep k' >= k rows per group so deletes have slack
    before a base re-scan is forced.

    Rows are ordered by ``(measure DESC, id ASC)`` — the id tie-break
    makes the order TOTAL, which the delete-locating logic depends on.
    Each row carries the group's HORIZON ``(h_val, h_id)``: the sort key
    of the buffer_k-th row when the group was truncated, NULL when the
    buffer holds the whole group. Invariant consumed downstream: the
    buffer contains EXACTLY the base rows whose sort key is at or above
    the horizon (all of them — nothing at-or-above is missing).

    One shuffle: both window passes (rank, then horizon broadcast within
    the group) partition by the same keys, so Catalyst reuses the
    exchange."""
    from pyspark.sql import Window

    kcols = [qcol(k) for k in keys]
    w = Window.partitionBy(*kcols).orderBy(
        qcol(measure_col).desc(), qcol(id_col).asc()
    )
    ranked = (
        base.select(*[qcol(k) for k in keys], qcol(id_col), qcol(measure_col))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= buffer_k)
    )
    wg = Window.partitionBy(*kcols)
    at_k = F.col("__rn") == buffer_k
    return ranked.select(
        *[qcol(k) for k in keys],
        qcol(id_col),
        qcol(measure_col),
        F.max(F.when(at_k, qcol(measure_col))).over(wg).alias(h_val_col),
        F.max(F.when(at_k, qcol(id_col))).over(wg).alias(h_id_col),
    )


def topk_from_buffer(
    buffer: DataFrame,
    keys: Sequence[str],
    id_col: str,
    measure_col: str,
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Answer the top-k query from a maintained buffer: rank within each
    group by ``(measure DESC, id ASC)`` and keep ``rank <= k``. Only valid
    for ``k`` at or below the ``k`` the buffer was maintained with —
    ``apply_topk_delta``'s refill rule guarantees at least k rows (or the
    whole group) survive in every buffer, nothing deeper."""
    from pyspark.sql import Window

    w = Window.partitionBy(*[qcol(c) for c in keys]).orderBy(
        qcol(measure_col).desc(), qcol(id_col).asc()
    )
    return (
        buffer.select(*[qcol(c) for c in keys], qcol(id_col), qcol(measure_col))
        .withColumn(rank_col, F.row_number().over(w))
        .where(qcol(rank_col) <= k)
    )


def apply_topk_delta(
    view: DataFrame,
    changes: DataFrame,
    base_after: DataFrame,
    keys: Sequence[str],
    id_col: str,
    measure_col: str,
    k: int,
    buffer_k: int | None = None,
    op_col: str = "op",
    h_val_col: str = "hv",
    h_id_col: str = "hid",
    null_safe_keys: bool = True,
    gate_df: DataFrame | None = None,
    reuse_collapse: bool = True,
) -> DataFrame:
    """Maintain a per-group TOP-K view under a D/I changelog — the other
    non-self-maintainable aggregate class beside extrema (retracting a
    top row needs the group's next-best, i.e. base access) — via the
    buffered-horizon rule (Yi et al. ICDE 2003, the production-standard
    answer; same family as ``apply_extrema_delta``'s dirty-group rule):

    * the view is a ``build_topk_buffer`` frame: top-``buffer_k`` rows
      per group (k' >= k, default 2k) + the group horizon ``(hv, hid)``
      — NULL horizon means the buffer IS the whole group;
    * INSERTS at-or-above the horizon enter the buffer (a trim to k'
      re-tightens the horizon when the buffer overflows); inserts below
      it are dropped — they're in ``base_after``, which is all a future
      refill reads. Zero base access;
    * DELETES are located against the total order ``(measure DESC, id
      ASC)``: a delete at-or-above the horizon MUST match a buffer row
      by id (else the changelog and view disagree — loud in-plan
      failure); a delete strictly below a non-NULL horizon provably
      never touches the buffer and is dropped. An update arrives as its
      D/I pair (same id), possibly in the same batch — including an
      update of a row currently BELOW the horizon (the delete half
      provably never touched the buffer and drops; the insert half
      processes normally, admitting the row when its new value clears
      the horizon);
    * a group goes DIRTY only when deletes shrink its buffer below ``k``
      while the horizon is non-NULL (rows below the horizon are unknown
      and may now belong in the top-k): dirty groups refill from
      ``base_after`` restricted by a stats-gated semi-join — O(base rows
      of dirty groups), never a full rescan. Deleting an untruncated
      group's last row kills the group with no base access.

    Changelog consistency failures are loud and in-plan: duplicate
    (group, id) slots, an insert for an id already in the buffer without
    its delete, a delete whose measure disagrees with the stored row, a
    delete below nothing (unknown group / untruncated buffer miss), and
    unknown ops all raise. Bad slots surface as real rows of the clean
    branch with an always-raising first column, so the failure survives
    lazy evaluation and AQE empty-relation pruning even when the bad
    group emits no surviving rows and the refill base is empty.

    Cost: O(|delta|) clean-path work (one collapse aggregation + windows
    over TOUCHED groups only, sharing one partitioning) + O(base rows of
    dirty groups). Spark plans are trees, so the touched-collapse
    subtree is consumed twice (clean emit + dirty-key extraction — the
    same shape as ``apply_extrema_delta``'s double read); by default
    (``reuse_collapse=True``) that frame is lazily local-checkpointed so
    it EXECUTES once — both consumers share one RDD lineage whose
    partitions persist (memory-and-disk, bounded by the touched groups)
    as the first action computes them. The trade is the standard
    localCheckpoint one: the frame leaves the Catalyst plan (an
    ExistingRDD scan replaces the subtree — opt out with
    ``reuse_collapse=False`` when asserting the full plan shape), and on
    a real cluster an executor loss during the job forces a recompute
    failure rather than a silent lineage replay. The view is scanned
    three times, each a scan-side pass with the touched-key filter
    broadcast (stats-gated) — at scale, store the view as a table
    (bucketing optional; no view-side shuffle exists to save). Returns
    the NEW buffer (same schema as ``view``); answer queries with
    ``topk_from_buffer``.

    Reference tie: the reference re-sorts its full popularity/candidate
    tables per refresh to keep serving top-k slices (eager pandas
    ``sort_values().head(k)`` per group, src/evaluation/metrics.py,
    src/features/simple_feature_store.py); this is that computation's
    incremental form.
    """
    from pyspark.sql import Window

    from real_time_recommendation_system_with_feature_store_spark.plans.inspect import gated_broadcast

    if buffer_k is None:
        buffer_k = 2 * k
    if buffer_k < k:
        raise ValueError(f"apply_topk_delta: buffer_k={buffer_k} < k={k}")
    kcols = list(keys)
    nk = len(kcols)
    id_t = view.schema[id_col].dataType
    m_t = view.schema[measure_col].dataType
    hv_t = view.schema[h_val_col].dataType
    hid_t = view.schema[h_id_col].dataType

    if gate_df is None:
        gate_df = changes.select(*[qcol(c) for c in kcols])
    t_keys = (
        changes.select(*[qcol(c).alias(f"__tk_{i}") for i, c in enumerate(kcols)])
        .distinct()
    )
    tb = gated_broadcast(t_keys, gate_df=gate_df)
    vcond = _view_key_eq(kcols, "__tk_", null_safe_keys)
    untouched = view.join(tb, vcond, "left_anti")
    touched = view.join(tb, vcond, "left_semi")

    # collapse to one slot per (group, id): buffer row, insert, delete —
    # order-independent within the batch, so a D/I update pair pairs up
    # regardless of arrival order.
    op = qcol(op_col)
    src = (
        F.when(op == "I", F.lit("I"))
        .when(op == "D", F.lit("D"))
        .otherwise(
            F.raise_error(
                F.concat(F.lit("apply_topk_delta: unknown op "), op.cast("string"))
            ).cast("string")
        )
    )
    vrow = touched.select(
        *[qcol(c).alias(f"__k_{i}") for i, c in enumerate(kcols)],
        qcol(id_col).alias("__id"),
        qcol(measure_col).alias("__m"),
        qcol(h_val_col).alias("__hv"),
        qcol(h_id_col).alias("__hid"),
        F.lit("B").alias("__src"),
    )
    crow = changes.select(
        *[qcol(c).alias(f"__k_{i}") for i, c in enumerate(kcols)],
        qcol(id_col).alias("__id"),
        qcol(measure_col).cast(m_t).alias("__m"),
        F.lit(None).cast(hv_t).alias("__hv"),
        F.lit(None).cast(hid_t).alias("__hid"),
        src.alias("__src"),
    )
    gcols = [F.col(f"__k_{i}") for i in range(nk)]
    s = F.col("__src")
    g = (
        vrow.unionByName(crow)
        .groupBy(*gcols, F.col("__id"))
        .agg(
            F.count(F.when(s == "B", F.lit(1))).alias("__nb"),
            F.count(F.when(s == "I", F.lit(1))).alias("__ni"),
            F.count(F.when(s == "D", F.lit(1))).alias("__nd"),
            F.max(F.when(s == "B", F.col("__m"))).alias("__bm"),
            F.max(F.when(s == "I", F.col("__m"))).alias("__im"),
            F.max(F.when(s == "D", F.col("__m"))).alias("__dm"),
            F.max("__hv").alias("__shv"),
            F.max("__hid").alias("__shid"),
        )
    )
    # group-level horizon / bad-slot count / survivor count via windows on
    # the SAME partition keys the collapse shuffled by — no extra exchange.
    # Staged selects because a window expression cannot nest inside
    # another window function's argument.
    wg = Window.partitionBy(*gcols)
    g1 = g.select(
        *gcols,
        F.col("__id"),
        "__nb",
        "__ni",
        "__nd",
        "__bm",
        "__im",
        "__dm",
        F.max("__shv").over(wg).alias("__ghv"),
        F.max("__shid").over(wg).alias("__ghid"),
    )
    nb, ni, nd = F.col("__nb"), F.col("__ni"), F.col("__nd")
    bm, im, dm = F.col("__bm"), F.col("__im"), F.col("__dm")
    ghv, ghid = F.col("__ghv"), F.col("__ghid")

    # strictly below the horizon in (measure DESC, id ASC) order
    def _below(m: Column, i: Column) -> Column:
        return F.coalesce((m < ghv) | ((m == ghv) & (i > ghid)), F.lit(False))

    below_d = _below(dm, F.col("__id"))
    bad = (
        (nb > 1)
        | (ni > 1)
        | (nd > 1)
        | ((ni > 0) & (nb > 0) & (nd == 0))  # re-insert of a live buffer id
        | ((nd > 0) & (nb > 0) & ~(dm.eqNullSafe(bm)))  # delete value mismatch
        # an unbuffered D/I pair with differing values is legal ONLY as an
        # update of a below-horizon row (the delete provably never touched
        # the buffer; the insert processes normally) — at-or-above the
        # horizon the delete must have matched a buffer row, so a value
        # mismatch there is a genuine disagreement
        | ((nd > 0) & (nb == 0) & (ni > 0) & ~(dm.eqNullSafe(im)) & ~below_d)
        | ((nd > 0) & (nb == 0) & (ni == 0) & ~below_d)  # orphan delete
        | ((ni > 0) & im.isNull())  # NULL measures are unorderable
    )
    ins_kept = (
        (ni > 0)
        & (((nb > 0) == (nd > 0)) | ((nb == 0) & (nd > 0) & below_d))
        & ~_below(im, F.col("__id"))
    )
    emit_m = F.when(ins_kept, im).when((nb > 0) & (nd == 0) & (ni == 0), bm)
    g1b = g1.select(
        *gcols,
        F.col("__id"),
        ghv,
        ghid,
        emit_m.alias("__em"),
        bad.alias("__bad"),
    )
    g2 = g1b.select(
        *gcols,
        F.col("__id"),
        ghv,
        ghid,
        F.col("__em"),
        F.sum(F.when(F.col("__bad"), F.lit(1)).otherwise(F.lit(0)))
        .over(wg)
        .alias("__gbad"),
        F.sum(F.when(F.col("__em").isNotNull(), F.lit(1)).otherwise(F.lit(0)))
        .over(wg)
        .alias("__cnt"),
    )
    # both remaining consumers (clean emit below, dirty-key extraction
    # further down) read g2 — checkpoint it lazily so the collapse +
    # window subtree runs once. The LogicalRDD wrap drops the subtree's
    # partitioning metadata, so the clean-branch window re-shuffles the
    # checkpointed frame once — a touched-group-bounded exchange traded
    # for re-executing the whole collapse subtree (persist() would keep
    # the partitioning but still re-exchanges one deduped branch AND
    # pollutes plan-shape counts with the nested cached plan)
    if reuse_collapse:
        g2 = g2.localCheckpoint(eager=False)
    dirty = (F.col("__gbad") > 0) | (
        F.col("__ghv").isNotNull() & (F.col("__cnt") < k)
    )
    # clean survivors: re-rank within the group (emitted rows sort first),
    # trim to buffer_k, tighten the horizon only when a trim occurred.
    # Bad-slot groups keep ALL their slot rows in this branch with an
    # always-raising first column — a loud failure that survives lazy
    # evaluation and AQE empty-relation pruning (a guard woven into the
    # refill frame alone is optimized away when the refill base is empty,
    # and an assert behind a filter escapes via predicate pushdown, so
    # the assert condition is data-dependent: true on good rows).
    wr = Window.partitionBy(*gcols).orderBy(
        F.col("__em").isNull().asc(), F.col("__em").desc(), F.col("__id").asc()
    )
    ranked = g2.withColumn("__rn", F.row_number().over(wr))
    overflow = F.col("__cnt") > buffer_k
    at_k = (F.col("__rn") == buffer_k) & F.col("__em").isNotNull()
    new_hv = F.when(
        overflow, F.max(F.when(at_k, F.col("__em"))).over(wg)
    ).otherwise(F.col("__ghv"))
    new_hid = F.when(
        overflow, F.max(F.when(at_k, F.col("__id"))).over(wg)
    ).otherwise(F.col("__ghid"))
    keep_clean = (
        ~dirty & F.col("__em").isNotNull() & (F.col("__rn") <= buffer_k)
    )
    guard_first = F.coalesce(
        F.assert_true(
            F.col("__gbad") == 0,
            F.lit(
                "apply_topk_delta: changelog and view disagree — duplicate "
                "slot, re-insert of a live id, delete value mismatch, "
                "orphan delete at-or-above the horizon (or of an unknown/"
                "untruncated group), NULL measure, or unknown op"
            ),
        ).cast(view.schema[kcols[0]].dataType),
        F.col("__k_0"),
    )
    clean = ranked.where(keep_clean | (F.col("__gbad") > 0)).select(
        guard_first.alias(kcols[0]),
        *[F.col(f"__k_{i}").alias(c) for i, c in enumerate(kcols) if i > 0],
        F.col("__id").alias(id_col),
        F.col("__em").alias(measure_col),
        new_hv.alias(h_val_col),
        new_hid.alias(h_id_col),
    )
    # dirty groups refill from base_after (bad groups raise before any
    # refill row can matter)
    dirty_keys = (
        g2.where(dirty)
        .select(*[F.col(f"__k_{i}").alias(f"__rk_{i}") for i in range(nk)])
        .distinct()
    )
    refill_base = base_after.join(
        gated_broadcast(dirty_keys, gate_df=gate_df),
        _view_key_eq_named(
            [qcol(c) for c in kcols], "__rk_", null_safe_keys
        ),
        "left_semi",
    )
    rebuilt = build_topk_buffer(
        refill_base, kcols, id_col, measure_col, buffer_k, h_val_col, h_id_col
    ).select(
        *[qcol(c) for c in kcols],
        qcol(id_col).cast(id_t).alias(id_col),
        qcol(measure_col).cast(m_t).alias(measure_col),
        qcol(h_val_col).cast(hv_t).alias(h_val_col),
        qcol(h_id_col).cast(hid_t).alias(h_id_col),
    )
    return untouched.unionByName(clean).unionByName(rebuilt)


def _view_key_eq(kcols: Sequence[str], right_prefix: str, null_safe: bool) -> Column:
    return _view_key_eq_named([qcol(c) for c in kcols], right_prefix, null_safe)


def _view_key_eq_named(
    left_cols: Sequence[Column], right_prefix: str, null_safe: bool
) -> Column:
    cond = None
    for i, lc in enumerate(left_cols):
        rc = F.col(f"{right_prefix}{i}")
        eq = lc.eqNullSafe(rc) if null_safe else (lc == rc)
        cond = eq if cond is None else (cond & eq)
    return cond


def build_distinct_support(
    base: DataFrame,
    keys: Sequence[str],
    value_col: str,
    support_col: str = "supp",
) -> DataFrame:
    """Materialize the (group, value) SUPPORT-COUNT side table that
    ``apply_distinct_delta`` maintains — the classic auxiliary view that
    makes COUNT(DISTINCT value) maintainable under deletes (a distinct
    count alone cannot retract: deleting one occurrence of a value only
    decrements the distinct count when it was the LAST occurrence, which
    requires knowing the per-value multiplicity).

    One row per (group, value) with ``supp`` = how many base rows carry
    that value — strictly positive by construction. NULL values are
    excluded: COUNT(DISTINCT x) ignores NULLs in Spark, DuckDB, and the
    standard, so the support table never tracks them (the changelog side
    drops them symmetrically in ``collapse_distinct_changes``).

    Size shape: |support| = Σ per-group distinct values — bounded by the
    base but typically orders of magnitude smaller (it IS the thing the
    distinct count measures); one groupBy shuffle on (keys, value)."""
    _reject_reserved("distinct IVM", [*keys, value_col], [support_col])
    return (
        base.where(qcol(value_col).isNotNull())
        .groupBy(*[qcol(k) for k in keys], qcol(value_col))
        .agg(F.count(F.lit(1)).alias(support_col))
    )


def distinct_from_support(
    support: DataFrame,
    keys: Sequence[str],
    distinct_col: str = "nd",
) -> DataFrame:
    """Answer COUNT(DISTINCT value) per group from a support table — every
    support row is one live (group, value) pair, so the distinct count is
    a plain row count. Used to bootstrap the view and by tests to
    cross-check view/support consistency; the incremental path never
    calls this (it adjusts the view by births - deaths instead)."""
    return support.groupBy(*[qcol(k) for k in keys]).agg(
        F.count(F.lit(1)).alias(distinct_col)
    )


def collapse_distinct_changes(
    changes: DataFrame,
    keys: Sequence[str],
    value_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Collapse a D/I changelog into per-(group, value) support deltas
    ``(keys…, value, dsupp)`` for ``apply_distinct_delta``: +1 per
    insert, -1 per delete, summed. ``dsupp`` is a plain integer sum, so
    partial collapses MERGE across micro-batches exactly like
    ``agg_delta``'s sums (+ and - commute; an update's D/I halves may
    straddle epochs) — the streaming sink (``distinct_delta_stream``)
    writes one of these per epoch and the read-side fold equals the
    one-batch collapse bit-for-bit. Zero nets drop (an I/D pair of the
    same (group, value) in one batch is a no-op on the view by
    definition — same convention as ``collapse_join_changes``), keeping
    per-epoch state slim.

    NULL values are dropped BEFORE collapsing — COUNT(DISTINCT x)
    ignores NULLs, so an insert or delete of a NULL value is a no-op on
    the view by definition (symmetric with ``build_distinct_support``).
    Unknown ops fail loudly in-plan (the ``agg_delta`` sign contract) —
    INCLUDING on NULL-value rows: the op is validated inside the filter
    itself, so a corrupt ('U', g, NULL) row raises instead of riding out
    silently with the NULL drop.
    ``dsupp`` is a RESERVED name: a key or value column named that would
    collide with the delta alias — fail up front."""
    _reject_reserved("distinct IVM", [*keys, value_col], ["dsupp"])
    op = qcol(op_col)
    sign = _op_sign(op, "collapse_distinct_changes")
    keep = F.coalesce(
        F.assert_true(
            (op == "I") | (op == "D"),
            F.concat(
                F.lit("collapse_distinct_changes: unknown op "),
                op.cast("string"),
            ),
        ).cast("boolean"),
        qcol(value_col).isNotNull(),
    )
    return (
        changes.where(keep)
        .groupBy(*[qcol(k) for k in keys], qcol(value_col))
        .agg(F.sum(sign).alias("dsupp"))
        .where(F.col("dsupp") != 0)
    )


def apply_distinct_delta(
    view: DataFrame,
    support: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    value_col: str,
    op_col: str = "op",
    distinct_col: str = "nd",
    support_col: str = "supp",
    null_safe_keys: bool = True,
    collapsed: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Maintain a per-group COUNT(DISTINCT value) rollup under a D/I
    changelog — the aggregate the module docstring's scope boundary
    leaves between sums (self-maintainable) and extrema (dirty-group):
    distinct counts need no base access at all, but they DO need the
    (group, value) support-count side table (``build_distinct_support``)
    — a sketch register (HLL) cannot retract, and the distinct count
    alone cannot tell "deleted one of three occurrences" from "deleted
    the last one".

    The delta rule (support-counting, the textbook one):

    * collapse the changelog to per-(group, value) ``dsupp`` sums;
    * full-outer merge onto the support table: ``supp_new = supp_old +
      dsupp``. A value is BORN when it had no support row (or never
      existed) and ``supp_new > 0``; it DIES when ``supp_old > 0`` and
      ``supp_new = 0``. Negative ``supp_new`` means the changelog
      retracts occurrences the base never had — loud in-plan failure
      (the ``apply_agg_delta`` guard contract);
    * the view adjusts by ``births - deaths`` per group: groups whose
      distinct count reaches zero disappear, new groups appear; a
      view/support mismatch (count would go negative) fails loudly.

    Returns ``(new_view, new_support)`` — BOTH materializations advance
    together; persisting one without the other corrupts the next step.

    Cost shape: O(|delta|) — one (keys, value) shuffle to collapse, one
    merge touching only changed (group, value) pairs, one (keys)
    aggregation of those pairs, one view merge touching only changed
    groups. The base is NEVER read. Store the support table bucketed by
    (keys…, value) and the view bucketed by (keys…) — then neither merge
    shuffles its materialized side (the ``apply_agg_delta`` layout
    contract; same ``null_safe_keys`` trap: the null-safe default pairs
    NULL group keys but compiles to composite join keys that DEFEAT
    bucketing — pass False when keys are non-null by contract).

    ``collapsed=True`` accepts ``changes`` already in
    ``collapse_distinct_changes``' (keys…, value, dsupp) form — the
    streaming path (``read_distinct_delta_state``'s epoch fold).

    Spark plans are trees, so the support-merge subtree is consumed
    TWICE — once emitting ``new_support``, once extracting the view's
    births/deaths — the same documented double-consumption as
    ``apply_extrema_delta``; both reads are bounded by the delta's
    touched pairs plus the support scan, which the bucketed layout
    makes a shuffle-free scan on each pass.

    Reference tie: the reference's ``n_unique`` rolling features
    (src/features/feature_engineering.py:206-207,257 — unique items per
    user, unique sessions) recompute from scratch per refresh; this is
    that computation's incremental form under CDC.
    """
    _reject_reserved(
        "distinct IVM", [*keys, value_col], ["dsupp", support_col, distinct_col]
    )
    kcols = list(keys)
    chg = changes if collapsed else collapse_distinct_changes(
        changes, kcols, value_col, op_col
    )
    c = chg.select(
        *[qcol(k).alias(f"__ck_{i}") for i, k in enumerate(kcols)],
        qcol(value_col).alias("__cv"),
        F.col("dsupp").cast("long").alias("__dsupp"),
    )
    s = support.select(
        *[qcol(k).alias(f"__sk_{i}") for i, k in enumerate(kcols)],
        qcol(value_col).alias("__sv"),
        qcol(support_col).cast("long").alias("__supp"),
    )
    # (keys, value) is the join key of the support merge; the value column
    # is non-null on both sides by construction, so only the group keys
    # follow the null_safe contract
    cond = _key_eq(len(kcols), "__sk_", "__ck_", null_safe_keys) & (
        F.col("__sv").eqNullSafe(F.col("__cv"))
        if null_safe_keys
        else (F.col("__sv") == F.col("__cv"))
    )
    merged = s.join(c, cond, "full_outer")
    supp_new_raw = F.coalesce(F.col("__supp"), F.lit(0)) + F.coalesce(
        F.col("__dsupp"), F.lit(0)
    )
    supp_new = F.coalesce(
        F.assert_true(
            supp_new_raw >= 0,
            F.lit(
                "apply_distinct_delta: support went negative — the "
                "changelog retracts occurrences the base never contained"
            ),
        ).cast("long"),
        supp_new_raw,
    )
    merged = merged.select(
        *[
            F.coalesce(F.col(f"__sk_{i}"), F.col(f"__ck_{i}")).alias(f"__k_{i}")
            for i in range(len(kcols))
        ],
        F.coalesce(F.col("__sv"), F.col("__cv")).alias("__v"),
        F.col("__supp").isNotNull().alias("__had"),
        supp_new.alias("__supp_new"),
    )
    new_support = merged.where(F.col("__supp_new") > 0).select(
        *[F.col(f"__k_{i}").alias(k) for i, k in enumerate(kcols)],
        F.col("__v").alias(value_col),
        F.col("__supp_new").alias(support_col),
    )
    # births - deaths per group, over TOUCHED pairs only.  Support rows
    # the delta never touched appear in `merged` too (full-outer) but are
    # neither births nor deaths (had & supp_new>0) — the filter drops
    # them before the group aggregation.
    birth = (~F.col("__had")) & (F.col("__supp_new") > 0)
    death = F.col("__had") & (F.col("__supp_new") == 0)
    dnd = (
        merged.where(birth | death)
        .groupBy(*[F.col(f"__k_{i}") for i in range(len(kcols))])
        .agg(
            F.sum(
                F.when(birth, F.lit(1)).when(death, F.lit(-1)).otherwise(F.lit(0))
            ).alias("__dnd")
        )
        .where(F.col("__dnd") != 0)
    )
    v = view.select(
        *[qcol(k).alias(f"__vk_{i}") for i, k in enumerate(kcols)],
        qcol(distinct_col).cast("long").alias("__vnd"),
    )
    vcond = _key_eq(len(kcols), "__vk_", "__k_", null_safe_keys)
    vm = v.join(dnd, vcond, "full_outer")
    nd_raw = F.coalesce(F.col("__vnd"), F.lit(0)) + F.coalesce(
        F.col("__dnd"), F.lit(0)
    )
    nd_new = F.coalesce(
        F.assert_true(
            nd_raw >= 0,
            F.lit(
                "apply_distinct_delta: distinct count went negative — the "
                "view and the support table disagree (advance them together)"
            ),
        ).cast("long"),
        nd_raw,
    )
    new_view = vm.select(
        *[
            F.coalesce(F.col(f"__vk_{i}"), F.col(f"__k_{i}")).alias(k)
            for i, k in enumerate(kcols)
        ],
        nd_new.alias(distinct_col),
    ).where(qcol(distinct_col) > 0)
    return new_view, new_support


def join_view_delta(
    a_before: DataFrame,
    delta_a: DataFrame | None,
    b_after: DataFrame,
    delta_b: DataFrame | None,
    on: Sequence[str],
    op_col: str = "op",
) -> DataFrame:
    """Derive the changelog of a materialized EQUI-JOIN view from the
    changelogs of its inputs — the classic delta-join rule. With signed
    multisets (I = +1, D = -1):

        (A + dA) ⋈ (B + dB) = A⋈B  +  dA ⋈ (B + dB)  +  A ⋈ dB

    so the view's delta is ``dA ⋈ B_after  ∪  A_before ⋈ dB`` — the
    asymmetric form that avoids the separate dA⋈dB cross-term by joining
    each delta against the OTHER side's opposite snapshot (one pre-, one
    post-change; the standard trick in DBSP/differential dataflow). Each
    output row carries the op of the delta row that produced it: a base
    row joined against a delta contributes the delta's sign, because the
    base side's multiplicities are all +1.

    Inputs: ``delta_a``/``delta_b`` are D/I changelogs carrying
    ``op_col`` plus their side's full columns; either may be None (a
    one-sided refresh). ``a_before`` is A's PRE-change snapshot,
    ``b_after`` B's POST-change one (both maintained anyway via
    ``merge_changelog``); join keys must be same-named on both sides
    (rename upstream), non-key columns must be disjoint — enforced.

    Feed the result to ``apply_join_delta`` against the materialized
    view. SELF-JOIN views work too (A = B = the same table under renamed
    columns, both deltas carrying the same physical change): the
    asymmetric rule retracts the diagonal pair exactly once, because
    ``dA ⋈ B_after`` no longer sees the deleted B row — golden-tested. Scale shape: each term is an equi-join of a SMALL delta
    against one snapshot — the snapshot side reads bucketed-by-join-key
    with zero Exchange (list-form ``on`` compiles to plain ``=`` keys,
    which bucket layouts satisfy; plan-asserted in tests/test_plans.py),
    so a day's refresh shuffles only the day's changes, never the base.

    Reference tie: the multi-frame feature joins the reference re-runs
    from scratch per refresh (src/features/feature_engineering.py:57-64,
    151-155); this is that join's incremental form under CDC.
    """
    on = list(on)
    if delta_a is None and delta_b is None:
        raise ValueError("join_view_delta: both deltas are None — nothing to do")
    a_cols = set(a_before.columns)
    b_cols = set(b_after.columns)
    overlap = sorted((a_cols & b_cols) - set(on))
    if overlap:
        raise ValueError(
            f"join_view_delta: non-key column(s) {overlap} exist on both "
            "sides — a join view needs disjoint value columns (rename "
            "upstream)"
        )
    if op_col in a_cols or op_col in b_cols:
        raise ValueError(
            f"join_view_delta: op column {op_col!r} collides with a "
            "snapshot column — rename one"
        )
    for side, d, snap_cols in (("delta_a", delta_a, a_cols), ("delta_b", delta_b, b_cols)):
        if d is not None and set(d.columns) != snap_cols | {op_col}:
            raise ValueError(
                f"join_view_delta: {side} columns {sorted(d.columns)} must "
                f"be exactly its snapshot's columns plus {op_col!r}"
            )
    parts = []
    if delta_a is not None:
        parts.append(delta_a.join(b_after, on, "inner"))
    if delta_b is not None:
        parts.append(a_before.join(delta_b, on, "inner"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def collapse_join_changes(
    delta_v: DataFrame,
    op_col: str = "op",
) -> DataFrame:
    """Collapse a join-view D/I changelog into per-ROW Z-multiset nets:
    every column except ``op_col`` becomes the grouping key and ``__net``
    is the signed multiplicity sum (+1 per insert, -1 per delete; zero
    nets drop). Nets are plain integer sums, so partial collapses MERGE
    across micro-batches exactly like the other IVM folds — the
    streaming sink (``join_delta_stream``) writes one of these per epoch
    and the read-side fold equals the one-batch collapse bit-for-bit.
    Unknown ops fail loudly in-plan."""
    if "__net" in delta_v.columns:
        raise ValueError(
            "collapse_join_changes: input column '__net' is reserved"
        )
    cols = [c for c in delta_v.columns if c != op_col]
    return (
        delta_v.groupBy(*[qcol(c) for c in cols])
        .agg(F.sum(_op_sign(qcol(op_col), "collapse_join_changes")).alias("__net"))
        .where(F.col("__net") != 0)
    )


def apply_join_delta(
    view: DataFrame,
    delta_v: DataFrame,
    id_cols: Sequence[str],
    op_col: str = "op",
    null_safe_keys: bool = True,
    collapsed: bool = False,
) -> DataFrame:
    """Apply a join-view changelog (``join_view_delta``'s output, or any
    D/I stream of full view rows) to the materialized view, keyed by
    ``id_cols`` — the composite row identity (e.g. both sides' primary
    keys; for a dim join where the fact key alone identifies the row,
    just the fact key). Returns the new view; equals a from-scratch
    re-join row-for-row (golden + oracle tested).

    Composition semantics are Z-multiset, NOT latest-wins: a batch may
    legitimately produce SEVERAL delta rows per id (an A-side delete of
    a row whose B-side partner was updated in the same batch yields two
    Ds and an I for one id), so rows first collapse by (id, full values)
    into net multiplicities; nets must be ±1, at most one net-insert and
    one net-delete per id, and then per id:

    * net-delete only  -> the stored row drops (its values must MATCH
      the stored ones — a disagreeing delete is a loud in-plan failure);
    * net-delete + net-insert -> the stored row is replaced (update);
    * net-insert only  -> the row appears (an insert for an id the view
      already contains fails loudly — an update must ship its delete
      half);
    * a delete for an id the view does not contain fails loudly.

    All guards raise IN-PLAN from the filter column itself, so they
    survive projection/filter reordering and fire even for rows that
    would otherwise be filtered away.

    Scale shape: one (id, values) collapse + one id collapse — both
    shuffle only the delta — then ONE full-outer join against the view;
    store the view bucketed by ``id_cols`` with ``null_safe_keys=False``
    (ids are non-null by contract in any real view) and the view side
    joins with ZERO Exchange, the ``merge_changelog`` layout contract.

    ``collapsed=True`` accepts ``delta_v`` already in
    ``collapse_join_changes``' (row columns…, __net) form — the streaming
    path (``read_join_delta_state``'s epoch fold).
    """
    ids = list(id_cols)
    val_cols = [c for c in view.columns if c not in ids]
    internal = ("__npos", "__nneg", "__pos", "__neg", "__nbad", "__had", "__o")
    reserved = [
        c
        for df, allow_net in ((view, False), (delta_v, collapsed))
        for c in df.columns
        if c.startswith(("__jk_", "__jv_"))
        or c in internal
        or (c == "__net" and not allow_net)
    ]
    if reserved:
        raise ValueError(
            f"apply_join_delta: input columns collide with reserved internal "
            f"names: {sorted(set(reserved))}"
        )
    need = ids + val_cols + (["__net"] if collapsed else [op_col])
    missing = [c for c in need if c not in delta_v.columns]
    if missing:
        raise ValueError(
            f"apply_join_delta: delta is missing column(s) {sorted(set(missing))}"
        )
    if collapsed:
        # already per-(id, row) Z-multiset nets (collapse_join_changes /
        # read_join_delta_state's fold); zero rows may reappear when epochs
        # cancel each other out
        nets = delta_v.where(F.col("__net") != 0)
    else:
        nets = collapse_join_changes(delta_v, op_col)
    vstruct = F.struct(*[qcol(c) for c in val_cols])
    is_pos = F.col("__net") == 1
    is_neg = F.col("__net") == -1
    per_id = nets.groupBy(*[qcol(c).alias(f"__jk_{i}") for i, c in enumerate(ids)]).agg(
        F.sum(F.when(is_pos, 1).otherwise(0)).alias("__npos"),
        F.sum(F.when(is_neg, 1).otherwise(0)).alias("__nneg"),
        F.max(F.when(is_pos, vstruct)).alias("__pos"),
        F.max(F.when(is_neg, vstruct)).alias("__neg"),
        F.sum(F.when(is_pos | is_neg, 0).otherwise(1)).alias("__nbad"),
    )
    v = view.select(
        *[qcol(c).alias(f"__jv_{i}") for i, c in enumerate(ids)],
        vstruct.alias("__had"),
    )
    cond = None
    for i in range(len(ids)):
        if null_safe_keys:
            eq = F.col(f"__jv_{i}").eqNullSafe(F.col(f"__jk_{i}"))
        else:
            eq = F.col(f"__jv_{i}") == F.col(f"__jk_{i}")
        cond = eq if cond is None else (cond & eq)
    joined = v.join(per_id, cond, "full_outer")
    had = F.col("__had").isNotNull()
    npos = F.coalesce(F.col("__npos"), F.lit(0))
    nneg = F.coalesce(F.col("__nneg"), F.lit(0))
    nbad = F.coalesce(F.col("__nbad"), F.lit(0))
    slot_bad = (nbad > 0) | (npos > 1) | (nneg > 1)
    del_mismatch = had & (nneg == 1) & ~F.col("__neg").eqNullSafe(F.col("__had"))
    dup_insert = had & (nneg == 0) & (npos == 1)
    absent_delete = ~had & (nneg == 1)
    msg = (
        F.when(slot_bad, F.lit(
            "apply_join_delta: duplicate delta slots — a (id, row) net "
            "beyond +-1 or multiple distinct net inserts/deletes per id"))
        .when(del_mismatch, F.lit(
            "apply_join_delta: delete disagrees with the stored row — the "
            "changelog and the view have diverged"))
        .when(dup_insert, F.lit(
            "apply_join_delta: insert for an id the view already contains "
            "— an update must ship its delete half"))
        .when(absent_delete, F.lit(
            "apply_join_delta: delete for an id the view does not contain"))
        .otherwise(F.lit("unreachable"))
    )
    ok = ~(slot_bad | del_mismatch | dup_insert | absent_delete)
    out = (
        F.when((npos == 1) & ((nneg == 1) == had), F.col("__pos"))
        .when(had & (npos == 0) & (nneg == 0), F.col("__had"))
    )
    keep = F.coalesce(F.assert_true(ok, msg).cast("boolean"), out.isNotNull())
    return (
        joined.where(keep)
        .select(
            *[
                F.coalesce(F.col(f"__jv_{i}"), F.col(f"__jk_{i}")).alias(c)
                for i, c in enumerate(ids)
            ],
            out.alias("__o"),
        )
        .select(*[qcol(c) for c in ids], "__o.*")
    )
