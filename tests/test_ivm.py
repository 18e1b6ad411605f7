"""Aggregate incremental-view-maintenance (operators/ivm.py): delta
propagation must equal a full recompute — including exact retraction
cancellation, group birth/death, and the negative-count guard; plus the
extrema (MIN/MAX) maintenance via the dirty-group rule."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from real_time_recommendation_system_with_feature_store_spark.operators.ivm import (
    agg_delta,
    apply_agg_delta,
    apply_extrema_delta,
)


def _view(spark, rows):
    base = spark.createDataFrame(rows, "g string, m double")
    return base.groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum(F.col("m").cast("decimal(28,10)")).alias("total"),
    )


def test_ivm_matches_full_recompute(spark):
    base_rows = [("a", 10.0), ("a", 20.0), ("b", 5.0), ("c", 7.5)]
    view = _view(spark, base_rows)
    # update a's 10.0 -> 12.5 (D/I pair), insert into b, delete c's only
    # row (group death), insert brand-new group d (group birth)
    chg = spark.createDataFrame(
        [
            ("D", "a", 10.0),
            ("I", "a", 12.5),
            ("I", "b", 1.0),
            ("D", "c", 7.5),
            ("I", "d", 3.0),
        ],
        "op string, g string, m double",
    )
    out = apply_agg_delta(view, agg_delta(chg, ["g"], F.col("m")), ["g"])
    got = {r["g"]: (r["n"], float(r["total"])) for r in out.collect()}
    # full recompute over base+changes
    final_rows = [("a", 12.5), ("a", 20.0), ("b", 5.0), ("b", 1.0), ("d", 3.0)]
    exp = {
        r["g"]: (r["n"], float(r["total"]))
        for r in _view(spark, final_rows).collect()
    }
    assert got == exp
    assert "c" not in got  # group death: zero-count groups leave the view


def test_ivm_retractions_cancel_exactly(spark):
    """Float-poisonous measures (0.1-style) must cancel to EXACT decimal
    zero on a full retraction — a float partial sum would leave 1-ulp
    ghosts that keep dead groups alive."""
    view = _view(spark, [("a", 0.1), ("a", 0.2), ("b", 1.0)])
    chg = spark.createDataFrame(
        [("D", "a", 0.1), ("D", "a", 0.2)], "op string, g string, m double"
    )
    out = apply_agg_delta(view, agg_delta(chg, ["g"], F.col("m")), ["g"])
    got = {r["g"] for r in out.collect()}
    assert got == {"b"}


def test_ivm_split_update_pair_across_batches(spark):
    """The D and I halves of an update may land in different deltas —
    + and − commute, so applying them in either order converges."""
    view = _view(spark, [("a", 10.0)])
    d1 = agg_delta(
        spark.createDataFrame([("I", "a", 15.0)], "op string, g string, m double"),
        ["g"], F.col("m"),
    )
    d2 = agg_delta(
        spark.createDataFrame([("D", "a", 10.0)], "op string, g string, m double"),
        ["g"], F.col("m"),
    )
    step = apply_agg_delta(view, d1, ["g"])
    out = apply_agg_delta(step, d2, ["g"])
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["n"] == 1 and float(rows[0]["total"]) == 15.0


def test_ivm_negative_count_guard(spark):
    view = _view(spark, [("a", 1.0)])
    chg = spark.createDataFrame(
        [("D", "a", 1.0), ("D", "a", 1.0)], "op string, g string, m double"
    )
    out = apply_agg_delta(view, agg_delta(chg, ["g"], F.col("m")), ["g"])
    with pytest.raises(Exception, match="went negative"):
        out.collect()


def test_ivm_unknown_op_raises(spark):
    chg = spark.createDataFrame([("X", "a", 1.0)], "op string, g string, m double")
    with pytest.raises(Exception, match="unknown op"):
        agg_delta(chg, ["g"], F.col("m")).collect()


def test_ivm_null_group_key_pairs_null_safe(spark):
    """groupBy emits NULL groups; the null-safe default must pair a NULL
    view group with its NULL delta contribution instead of duplicating
    the group (plain equality never matches NULL = the trap)."""
    view = _view(spark, [(None, 4.0), ("b", 2.0)])
    chg = spark.createDataFrame(
        [("I", None, 6.0)], "op string, g string, m double"
    )
    out = apply_agg_delta(view, agg_delta(chg, ["g"], F.col("m")), ["g"])
    got = {r["g"]: (r["n"], float(r["total"])) for r in out.collect()}
    assert got == {None: (2, 10.0), "b": (1, 2.0)}


def test_ivm_multi_measure_single_pass(spark):
    """extra_measures maintains several sums in ONE delta pass (one
    shuffle for all measures) — each must equal its own recompute."""
    base = spark.createDataFrame(
        [("a", 10.0, 2.0), ("a", 20.0, 3.0), ("b", 5.0, 1.0)],
        "g string, rev double, qty double",
    )
    view = base.groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum(F.col("rev").cast("decimal(28,10)")).alias("total"),
        F.sum(F.col("qty").cast("decimal(28,10)")).alias("qty_total"),
    )
    chg = spark.createDataFrame(
        [("D", "a", 10.0, 2.0), ("I", "a", 12.0, 5.0), ("I", "c", 7.0, 7.0)],
        "op string, g string, rev double, qty double",
    )
    delta = agg_delta(
        chg, ["g"], F.col("rev"), extra_measures={"qty_total": F.col("qty")}
    )
    out = apply_agg_delta(view, delta, ["g"], extra_sum_cols=["qty_total"])
    got = {
        r["g"]: (r["n"], float(r["total"]), float(r["qty_total"]))
        for r in out.collect()
    }
    assert got == {
        "a": (2, 32.0, 8.0),
        "b": (1, 5.0, 1.0),
        "c": (1, 7.0, 7.0),
    }


def _extrema_view(spark, rows):
    base = spark.createDataFrame(rows, "g string, m double")
    return base.groupBy("g").agg(F.min("m").alias("mn"), F.max("m").alias("mx"))


def test_extrema_dirty_group_recompute(spark):
    """The full semantics in one scenario: clean insert improvement, new
    group birth, extremal delete with a surviving duplicate, extremum
    replacement, and group death via deleting the last row."""
    base = [
        ("a", 1.0), ("a", 5.0), ("a", 5.0),  # duplicate max
        ("b", 2.0),                            # single row -> death
        ("c", 9.0),                            # extremum replaced
        ("e", 1.0), ("e", 2.0), ("e", 3.0),   # non-extremal delete target
    ]
    view = _extrema_view(spark, base)
    chg = spark.createDataFrame(
        [
            ("I", "a", 7.0),   # insert above a's max (clean tighten)
            ("D", "a", 5.0),   # deletes ONE copy of the max -> dirty
            ("D", "b", 2.0),   # last row -> group death
            ("D", "c", 9.0), ("I", "c", 3.0),  # extremum replaced
            ("I", "d", 4.0),   # group birth
            ("D", "e", 2.0),   # NON-extremal delete -> must stay clean
        ],
        "op string, g string, m double",
    )
    after = [
        ("a", 1.0), ("a", 5.0), ("a", 7.0),
        ("c", 3.0),
        ("d", 4.0),
        # POISON: e's rows are withheld from base_after — only dirty
        # groups may read it, and e's delete is non-extremal, so a
        # correct operator never looks; a wrong one loses e or errors
    ]
    base_after = spark.createDataFrame(after, "g string, m double")
    out = apply_extrema_delta(view, chg, base_after, ["g"], "m")
    got = {r["g"]: (r["mn"], r["mx"]) for r in out.collect()}
    assert got == {
        "a": (1.0, 7.0),
        "c": (3.0, 3.0),
        "d": (4.0, 4.0),
        "e": (1.0, 3.0),  # clean path — proven by the poisoned base_after
    }
    assert "b" not in got


def test_extrema_matches_full_recompute_random(spark):
    """Seeded random base + changelog: incremental == full recompute over
    the post-change snapshot, group for group."""
    import random

    rng = random.Random(11)
    groups = [f"g{i}" for i in range(12)]
    base = [
        (rng.choice(groups), float(rng.randint(-50, 50))) for _ in range(300)
    ]
    view = _extrema_view(spark, base)
    remaining = list(base)
    chg = []
    for _ in range(80):  # deletes of real rows (some extremal by chance)
        row = remaining.pop(rng.randrange(len(remaining)))
        chg.append(("D", row[0], row[1]))
    inserts = [
        (rng.choice(groups + ["new1", "new2"]), float(rng.randint(-80, 80)))
        for _ in range(60)
    ]
    chg += [("I", g, m) for g, m in inserts]
    after = remaining + inserts
    out = apply_extrema_delta(
        view,
        spark.createDataFrame(chg, "op string, g string, m double"),
        spark.createDataFrame(after, "g string, m double"),
        ["g"],
        "m",
    )
    got = {r["g"]: (r["mn"], r["mx"]) for r in out.collect()}
    exp = {r["g"]: (r["mn"], r["mx"]) for r in _extrema_view(spark, after).collect()}
    assert got == exp


def test_extrema_unknown_group_delete_raises(spark):
    view = _extrema_view(spark, [("a", 1.0)])
    chg = spark.createDataFrame([("D", "zzz", 1.0)], "op string, g string, m double")
    after = spark.createDataFrame([("a", 1.0)], "g string, m double")
    with pytest.raises(Exception, match="never contained"):
        apply_extrema_delta(view, chg, after, ["g"], "m").collect()


def test_extrema_bad_changelog_rows_raise(spark):
    view = _extrema_view(spark, [("a", 1.0), ("a", 9.0)])
    after = spark.createDataFrame([("a", 1.0)], "g string, m double")
    # unknown op on a CLEAN group
    chg = spark.createDataFrame([("U", "a", 2.0)], "op string, g string, m double")
    with pytest.raises(Exception, match="unknown op|NULL measure"):
        apply_extrema_delta(view, chg, after, ["g"], "m").collect()
    # NULL measure riding along with an extremal delete (DIRTY branch —
    # the guard must also cover recomputed groups)
    chg2 = spark.createDataFrame(
        [("D", "a", 9.0), ("I", "a", None)], "op string, g string, m double"
    )
    with pytest.raises(Exception, match="unknown op|NULL measure"):
        apply_extrema_delta(view, chg2, after, ["g"], "m").collect()


# ---------------------------------------------------------------------------
# top-k maintenance (build_topk_buffer / apply_topk_delta / topk_from_buffer)
# ---------------------------------------------------------------------------

from real_time_recommendation_system_with_feature_store_spark.operators.ivm import (  # noqa: E402
    apply_topk_delta,
    build_topk_buffer,
    topk_from_buffer,
)

_ROW = "g string, id long, m double"
_CHG = "op string, g string, id long, m double"


def _tk_view(spark, rows, buffer_k=4):
    return build_topk_buffer(
        spark.createDataFrame(rows, _ROW), ["g"], "id", "m", buffer_k
    )


def _tk_rows(df):
    return {(r["g"], r["rn"]): (r["id"], r["m"]) for r in df.collect()}


def test_topk_build_horizon_semantics(spark):
    rows = [("a", i, float(10 - i)) for i in range(6)] + [("b", 9, 1.0)]
    buf = _tk_view(spark, rows, buffer_k=4)
    got = {(r["g"], r["id"]): (r["m"], r["hv"], r["hid"]) for r in buf.collect()}
    # a truncated at its 4th row (m=7.0, id=3); b untruncated -> NULL horizon
    assert got[("a", 0)] == (10.0, 7.0, 3)
    assert got[("a", 3)] == (7.0, 7.0, 3)
    assert ("a", 4) not in got and ("a", 5) not in got
    assert got[("b", 9)] == (1.0, None, None)


def test_topk_delta_full_semantics_with_poisoned_base(spark):
    """Clean insert, below-horizon insert/delete drops, in-buffer delete
    with slack, update-as-D/I-pair, dirty refill, untruncated group death,
    and group birth — with every CLEAN group's rows withheld from
    base_after, so any base access off the dirty path loses rows."""
    base = (
        [("a", i, float(10 - i)) for i in range(10)]  # truncated, stays clean
        + [("b", 100, 5.0), ("b", 101, 4.0)]          # whole group -> death
        + [("c", 200 + i, float(9 - i)) for i in range(6)]  # -> dirty
    )
    view = _tk_view(spark, base, buffer_k=4)
    chg = spark.createDataFrame(
        [
            ("I", "a", 50, 11.0),   # clean tighten
            ("D", "a", 0, 10.0),    # in-buffer delete, slack left
            ("D", "a", 9, 1.0),     # below horizon -> dropped
            ("I", "a", 51, 0.5),    # below horizon -> dropped
            ("D", "a", 2, 8.0), ("I", "a", 2, 8.5),  # update via D/I pair
            ("D", "b", 100, 5.0), ("D", "b", 101, 4.0),  # group death
            ("D", "c", 200, 9.0), ("D", "c", 201, 8.0), ("D", "c", 202, 7.0),
            ("I", "d", 300, 2.0),   # group birth
        ],
        _CHG,
    )
    # base_after: ONLY dirty group c (post-change) + newborn d's insert —
    # a, b withheld (poison): the clean path must never read it
    after = spark.createDataFrame(
        [("c", 203, 6.0), ("c", 204, 5.0), ("c", 205, 4.0), ("d", 300, 2.0)],
        _ROW,
    )
    new = apply_topk_delta(view, chg, after, ["g"], "id", "m", k=2, buffer_k=4)
    got = _tk_rows(topk_from_buffer(new, ["g"], "id", "m", 2))
    assert got == {
        ("a", 1): (50, 11.0),
        ("a", 2): (1, 9.0),
        ("c", 1): (203, 6.0),
        ("c", 2): (204, 5.0),
        ("d", 1): (300, 2.0),
    }
    # the updated row's new value took effect inside the buffer
    upd = {r["id"]: r["m"] for r in new.where("g = 'a'").collect()}
    assert upd[2] == 8.5


def test_topk_overflow_trims_and_tightens_horizon(spark):
    base = [("a", i, float(10 - i)) for i in range(6)]  # hv=7.0@3
    view = _tk_view(spark, base, buffer_k=4)
    chg = spark.createDataFrame(
        [("I", "a", 50, 20.0), ("I", "a", 51, 19.0), ("I", "a", 52, 18.0)],
        _CHG,
    )
    after = spark.createDataFrame([], _ROW)  # poison: nothing may read it
    new = apply_topk_delta(view, chg, after, ["g"], "id", "m", k=2, buffer_k=4)
    rows = new.orderBy(F.desc("m")).collect()
    assert [r["id"] for r in rows] == [50, 51, 52, 0]
    assert all((r["hv"], r["hid"]) == (10.0, 0) for r in rows)


def test_topk_matches_full_recompute_random(spark):
    import random

    rng = random.Random(17)
    groups = [f"g{i}" for i in range(10)]
    base = [
        (rng.choice(groups), i, float(rng.randint(-50, 50)))
        for i in range(400)
    ]
    view = _tk_view(spark, base, buffer_k=6)
    remaining = list(base)
    chg = []
    for _ in range(150):
        row = remaining.pop(rng.randrange(len(remaining)))
        chg.append(("D",) + row)
    inserts = [
        (rng.choice(groups + ["new1"]), 1000 + j, float(rng.randint(-80, 80)))
        for j in range(80)
    ]
    chg += [("I",) + r for r in inserts]
    after = remaining + inserts
    new = apply_topk_delta(
        view,
        spark.createDataFrame(chg, _CHG),
        spark.createDataFrame(after, _ROW),
        ["g"],
        "id",
        "m",
        k=3,
        buffer_k=6,
    )
    got = _tk_rows(topk_from_buffer(new, ["g"], "id", "m", 3))
    exp = _tk_rows(
        topk_from_buffer(
            build_topk_buffer(
                spark.createDataFrame(after, _ROW), ["g"], "id", "m", 6
            ),
            ["g"],
            "id",
            "m",
            3,
        )
    )
    assert got == exp


@pytest.mark.parametrize(
    "chg_rows, pattern",
    [
        ([("D", "zzz", 1, 1.0)], "disagree"),            # unknown group
        ([("D", "a", 77, 9.5)], "disagree"),             # at-or-above horizon, no match
        ([("I", "a", 0, 3.0)], "disagree"),              # re-insert live id
        ([("D", "a", 0, 9.9)], "disagree"),              # delete value mismatch
        ([("D", "b", 900, 1.0)], "disagree"),            # untruncated group miss
        ([("I", "a", 60, None)], "disagree"),            # NULL measure
        ([("U", "a", 61, 1.0)], "unknown op"),
    ],
)
def test_topk_bad_changelog_raises(spark, chg_rows, pattern):
    base = [("a", i, float(10 - i)) for i in range(6)] + [("b", 100, 5.0)]
    view = _tk_view(spark, base, buffer_k=4)
    after = spark.createDataFrame(base, _ROW)
    chg = spark.createDataFrame(chg_rows, _CHG)
    with pytest.raises(Exception, match=pattern):
        apply_topk_delta(
            view, chg, after, ["g"], "id", "m", k=2, buffer_k=4
        ).collect()


def test_topk_bad_slot_in_emitting_and_silent_groups_raises(spark):
    """The assert must fire even when the bad group emits NO surviving
    rows (all-delete batch) — bad groups route through the dirty-key
    projection, where the guard always evaluates."""
    base = [("a", 0, 5.0), ("a", 1, 4.0)]
    view = _tk_view(spark, base, buffer_k=4)
    after = spark.createDataFrame([], _ROW)
    chg = spark.createDataFrame(
        [("D", "a", 0, 5.0), ("D", "a", 1, 4.0), ("D", "a", 9, 3.0)], _CHG
    )
    with pytest.raises(Exception, match="disagree"):
        apply_topk_delta(
            view, chg, after, ["g"], "id", "m", k=1, buffer_k=4
        ).collect()


def test_topk_buffer_k_below_k_rejected(spark):
    view = _tk_view(spark, [("a", 0, 1.0)], buffer_k=2)
    chg = spark.createDataFrame([], _CHG)
    after = spark.createDataFrame([], _ROW)
    with pytest.raises(ValueError, match="buffer_k"):
        apply_topk_delta(view, chg, after, ["g"], "id", "m", k=3, buffer_k=2)


def test_topk_below_horizon_update_pair_admitted(spark):
    """A consistent CDC update (D/I pair, same id) of a row currently
    BELOW the horizon must not raise: the delete half provably never
    touched the buffer and drops, the insert half processes normally —
    admitting the row when its new value clears the horizon (r12 review
    finding: this raised a false 'changelog and view disagree')."""
    base = [("a", i, float(10 - i)) for i in range(6)]  # hv=7.0@3
    view = _tk_view(spark, base, buffer_k=4)
    chg = spark.createDataFrame(
        [("D", "a", 5, 5.0), ("I", "a", 5, 12.0),   # below-horizon -> top
         ("D", "a", 4, 6.0), ("I", "a", 4, 5.5)],   # below-horizon -> still below
        _CHG,
    )
    after = spark.createDataFrame(
        [("a", 0, 10.0), ("a", 1, 9.0), ("a", 2, 8.0), ("a", 3, 7.0),
         ("a", 4, 5.5), ("a", 5, 12.0)],
        _ROW,
    )
    new = apply_topk_delta(view, chg, after, ["g"], "id", "m", k=2, buffer_k=4)
    got = _tk_rows(topk_from_buffer(new, ["g"], "id", "m", 2))
    assert got == {("a", 1): (5, 12.0), ("a", 2): (0, 10.0)}
    # the still-below update contributed nothing to the buffer
    assert new.where("id = 4").count() == 0


def test_extrema_collapse_reserved_name_collision_raises(spark):
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import collapse_extrema_changes

    df = spark.createDataFrame([("I", "x", 1.0)], "op string, imn string, m double")
    with pytest.raises(ValueError, match="reserved"):
        collapse_extrema_changes(df, ["imn"], "m")


def test_agg_extrema_delta_matches_separate_collapses(spark):
    """The combined one-pass collapse (r16 day-close shared sub-aggregation)
    must be column-for-column identical to running agg_delta and
    collapse_extrema_changes separately over the same changelog — including
    extra measures, retraction signs, groups with only deletes, and the
    nbad guard column."""
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import (
        agg_extrema_delta,
        collapse_extrema_changes,
    )

    rows = [
        ("I", "a", 10.0), ("D", "a", 10.0), ("I", "a", 12.5),  # update pair + insert
        ("I", "b", 3.0), ("I", "b", 9.0),                       # insert-only group
        ("D", "c", 7.5),                                        # delete-only group
        ("I", "d", -2.0), ("D", "d", -2.0),                     # self-cancelling
    ]
    chg = spark.createDataFrame(rows, "op string, g string, m double")
    m = F.col("m")
    combined = agg_extrema_delta(chg, ["g"], m, extra_measures={"ss": m * m})
    separate = agg_delta(chg, ["g"], m, extra_measures={"ss": m * m}).join(
        collapse_extrema_changes(chg, ["g"], "m"), ["g"], "full_outer"
    )
    cols = ["g", "n", "total", "ss", "imn", "imx", "dmn", "dmx", "nbad"]
    got = sorted(tuple(r) for r in combined.select(*cols).collect())
    want = sorted(tuple(r) for r in separate.select(*cols).collect())
    assert got == want and len(got) == 4

    with pytest.raises(ValueError, match="reserved"):
        agg_extrema_delta(chg.withColumnRenamed("g", "imx"), ["imx"], m)


def test_agg_extrema_delta_rejects_reserved_output_names(spark):
    """The extrema aliases are reserved for every output name of the
    combined collapse, not only the keys: a sum, count or extra measure
    named like one would collide with the extrema column."""
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import agg_extrema_delta

    chg = spark.createDataFrame([("I", "a", 1.0)], "op string, g string, m double")
    m = F.col("m")
    with pytest.raises(ValueError, match="reserved"):
        agg_extrema_delta(chg, ["g"], m, sum_col="imn")
    with pytest.raises(ValueError, match="reserved"):
        agg_extrema_delta(chg, ["g"], m, count_col="nbad")
    with pytest.raises(ValueError, match="reserved"):
        agg_extrema_delta(chg, ["g"], m, extra_measures={"dmx": m})


# --- distinct-count IVM (support-count side table) ------------------------


def _dsup(spark, rows):
    """rows: (g, v) base multiset -> (view, support) pair."""
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import (
        build_distinct_support,
        distinct_from_support,
    )

    base = spark.createDataFrame(rows, "g string, v string")
    support = build_distinct_support(base, ["g"], "v")
    return distinct_from_support(support, ["g"]), support


def _dchg(spark, rows):
    return spark.createDataFrame(rows, "op string, g string, v string")


def test_distinct_matches_full_recompute(spark):
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import apply_distinct_delta

    # a: x twice + y once; b: z; c: w (dies); d is born
    view, support = _dsup(
        spark, [("a", "x"), ("a", "x"), ("a", "y"), ("b", "z"), ("c", "w")]
    )
    chg = _dchg(
        spark,
        [
            ("D", "a", "x"),  # one of two occurrences: support 2->1, nd holds
            ("D", "a", "y"),  # last occurrence: value death, nd drops
            ("I", "b", "z"),  # existing value: support 1->2, nd holds
            ("I", "b", "q"),  # value birth, nd grows
            ("D", "c", "w"),  # group death
            ("I", "d", "k"),  # group birth
        ],
    )
    nv, ns = apply_distinct_delta(view, support, chg, ["g"], "v")
    got = {r["g"]: r["nd"] for r in nv.collect()}
    assert got == {"a": 1, "b": 2, "d": 1}
    gs = {(r["g"], r["v"]): r["supp"] for r in ns.collect()}
    assert gs == {
        ("a", "x"): 1,
        ("b", "z"): 2,
        ("b", "q"): 1,
        ("d", "k"): 1,
    }


def test_distinct_chained_batches_equal_one_shot(spark):
    """Advancing (view, support) through two sequential batches equals the
    one-batch application of the concatenated changelog — the chaining
    contract a nightly pipeline relies on."""
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import apply_distinct_delta

    view, support = _dsup(spark, [("a", "x"), ("a", "y"), ("b", "z")])
    b1 = [("D", "a", "x"), ("I", "a", "z")]
    b2 = [("D", "a", "z"), ("I", "b", "z"), ("I", "c", "c1")]
    v1, s1 = apply_distinct_delta(view, support, _dchg(spark, b1), ["g"], "v")
    # materialize between batches, as a real pipeline stores both tables
    v1 = spark.createDataFrame(v1.collect(), v1.schema)
    s1 = spark.createDataFrame(s1.collect(), s1.schema)
    v2, s2 = apply_distinct_delta(v1, s1, _dchg(spark, b2), ["g"], "v")
    vo, so = apply_distinct_delta(
        view, support, _dchg(spark, b1 + b2), ["g"], "v"
    )
    assert sorted(map(tuple, v2.collect())) == sorted(map(tuple, vo.collect()))
    assert sorted(map(tuple, s2.collect())) == sorted(map(tuple, so.collect()))


def test_distinct_null_values_are_noops(spark):
    """COUNT(DISTINCT v) ignores NULLs, so NULL-value changelog rows must
    not move the view or the support table."""
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import apply_distinct_delta

    view, support = _dsup(spark, [("a", "x")])
    chg = _dchg(spark, [("I", "a", None), ("D", "a", None), ("I", "b", None)])
    nv, ns = apply_distinct_delta(view, support, chg, ["g"], "v")
    assert {r["g"]: r["nd"] for r in nv.collect()} == {"a": 1}
    assert {(r["g"], r["v"]): r["supp"] for r in ns.collect()} == {("a", "x"): 1}


def test_distinct_negative_support_guard(spark):
    """Deleting an occurrence the base never contained = changelog/support
    disagreement — loud in-plan failure, not a silent negative."""
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import apply_distinct_delta

    view, support = _dsup(spark, [("a", "x")])
    chg = _dchg(spark, [("D", "a", "nope")])
    nv, ns = apply_distinct_delta(view, support, chg, ["g"], "v")
    with pytest.raises(Exception, match="support went negative"):
        ns.collect()


def test_distinct_view_support_mismatch_guard(spark):
    """A view that disagrees with the support table (group missing from
    the view whose values then die) must fail loudly on the view merge."""
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import apply_distinct_delta

    _, support = _dsup(spark, [("a", "x")])
    empty_view = spark.createDataFrame([], "g string, nd long")
    chg = _dchg(spark, [("D", "a", "x")])
    nv, _ = apply_distinct_delta(empty_view, support, chg, ["g"], "v")
    with pytest.raises(Exception, match="distinct count went negative"):
        nv.collect()


def test_distinct_unknown_op_raises(spark):
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import apply_distinct_delta

    view, support = _dsup(spark, [("a", "x")])
    chg = _dchg(spark, [("U", "a", "x")])
    nv, ns = apply_distinct_delta(view, support, chg, ["g"], "v")
    with pytest.raises(Exception, match="unknown op"):
        ns.collect()


def test_distinct_reserved_name_collision_raises(spark):
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import collapse_distinct_changes

    chg = spark.createDataFrame([("I", "a", "x")], "op string, dsupp string, v string")
    with pytest.raises(ValueError, match="reserved"):
        collapse_distinct_changes(chg, ["dsupp"], "v")


def test_distinct_null_group_key_pairs_null_safe(spark):
    """NULL group keys (a groupBy emits them) must pair under the
    null-safe default instead of fanning out as unmatched rows."""
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import apply_distinct_delta

    view, support = _dsup(spark, [(None, "x"), (None, "y")])
    chg = _dchg(spark, [("D", None, "y"), ("I", None, "z")])
    nv, ns = apply_distinct_delta(view, support, chg, ["g"], "v")
    got = {r["g"]: r["nd"] for r in nv.collect()}
    assert got == {None: 2}
    assert {(r["g"], r["v"]): r["supp"] for r in ns.collect()} == {
        (None, "x"): 1,
        (None, "z"): 1,
    }


def test_distinct_stream_fold_equals_one_batch(spark, tmp_path):
    """distinct_delta_stream's per-epoch collapses fold (integer sums) to
    exactly the one-batch collapse, including a D/I update pair split
    across epochs."""
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import apply_distinct_delta
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        distinct_delta_stream,
        read_distinct_delta_state,
    )

    view, support = _dsup(spark, [("a", "x"), ("a", "y"), ("b", "z")])
    sink = distinct_delta_stream(str(tmp_path / "st"), ["g"], "v")
    # update a: y -> w with the D and I halves in DIFFERENT epochs
    sink(_dchg(spark, [("D", "a", "y"), ("I", "b", "z")]), 0)
    sink(_dchg(spark, [("I", "a", "w"), ("D", "b", "z")]), 1)
    folded = read_distinct_delta_state(spark, str(tmp_path / "st"), ["g"], "v")
    nv, ns = apply_distinct_delta(
        view, support, folded, ["g"], "v", collapsed=True
    )
    one = _dchg(
        spark,
        [("D", "a", "y"), ("I", "b", "z"), ("I", "a", "w"), ("D", "b", "z")],
    )
    nv2, ns2 = apply_distinct_delta(view, support, one, ["g"], "v")
    assert sorted(map(tuple, nv.collect())) == sorted(map(tuple, nv2.collect()))
    assert sorted(map(tuple, ns.collect())) == sorted(map(tuple, ns2.collect()))
    assert {r["g"]: r["nd"] for r in nv.collect()} == {"a": 2, "b": 1}


# --- join-view IVM (delta-join rule) ---------------------------------------


def _jv_frames(spark):
    """Tiny A (fact: id, key, val) / B (dim: key, attr) with a view."""
    a = spark.createDataFrame(
        [(1, 10, 1.0), (2, 10, 2.0), (3, 20, 3.0), (4, 30, 4.0)],
        "aid int, k int, av double",
    )
    b = spark.createDataFrame(
        [(10, "x"), (20, "y"), (30, "z")], "k int, battr string"
    )
    return a, b, a.join(b, ["k"], "inner")


def test_join_view_matches_full_rejoin(spark):
    """Both-side deltas in one batch, including the composed cases: an
    A-delete whose B partner updates in the same batch, an A-insert
    joining an updated B row, and a B-delete orphaning surviving A rows."""
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import (
        apply_join_delta,
        join_view_delta,
    )

    a, b, view = _jv_frames(spark)
    # A: delete aid=1 (its dim k=10 also updates this batch), insert aid=5
    # on k=20 (whose dim row updates too)
    delta_a = spark.createDataFrame(
        [("D", 1, 10, 1.0), ("I", 5, 20, 5.0)],
        "op string, aid int, k int, av double",
    )
    # B: update k=10 x->X and k=20 y->Y (D/I pairs), delete k=30
    delta_b = spark.createDataFrame(
        [
            ("D", 10, "x"), ("I", 10, "X"),
            ("D", 20, "y"), ("I", 20, "Y"),
            ("D", 30, "z"),
        ],
        "op string, k int, battr string",
    )
    a_after = spark.createDataFrame(
        [(2, 10, 2.0), (3, 20, 3.0), (4, 30, 4.0), (5, 20, 5.0)],
        "aid int, k int, av double",
    )
    b_after = spark.createDataFrame([(10, "X"), (20, "Y")], "k int, battr string")
    dv = join_view_delta(a, delta_a, b_after, delta_b, ["k"])
    got = apply_join_delta(view, dv, ["aid"])
    want = a_after.join(b_after, ["k"], "inner")
    assert sorted(
        tuple(r[c] for c in sorted(got.columns)) for r in got.collect()
    ) == sorted(tuple(r[c] for c in sorted(want.columns)) for r in want.collect())


def test_join_view_one_sided_delta(spark):
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import (
        apply_join_delta,
        join_view_delta,
    )

    a, b, view = _jv_frames(spark)
    delta_a = spark.createDataFrame(
        [("D", 4, 30, 4.0), ("I", 6, 30, 6.0)],
        "op string, aid int, k int, av double",
    )
    dv = join_view_delta(a, delta_a, b, None, ["k"])
    got = apply_join_delta(view, dv, ["aid"])
    ids = sorted(r["aid"] for r in got.collect())
    assert ids == [1, 2, 3, 6]


def test_join_view_both_none_rejected(spark):
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import join_view_delta

    a, b, _ = _jv_frames(spark)
    with pytest.raises(ValueError, match="both deltas are None"):
        join_view_delta(a, None, b, None, ["k"])


def test_join_view_overlapping_value_columns_rejected(spark):
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import join_view_delta

    a = spark.createDataFrame([(1, 10, "v")], "aid int, k int, dup string")
    b = spark.createDataFrame([(10, "w")], "k int, dup string")
    d = spark.createDataFrame([("I", 1, 10, "v")], "op string, aid int, k int, dup string")
    with pytest.raises(ValueError, match="both sides"):
        join_view_delta(a, d, b, None, ["k"])


def test_join_view_guard_delete_mismatch(spark):
    """A delete whose values disagree with the stored row = changelog and
    view diverged — loud in-plan failure."""
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import apply_join_delta

    _, _, view = _jv_frames(spark)
    dv = spark.createDataFrame(
        [("D", 1, 10, 999.0, "x")],
        "op string, aid int, k int, av double, battr string",
    )
    with pytest.raises(Exception, match="delete disagrees"):
        apply_join_delta(view, dv, ["aid"]).collect()


def test_join_view_guard_dup_insert(spark):
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import apply_join_delta

    _, _, view = _jv_frames(spark)
    dv = spark.createDataFrame(
        [("I", 1, 10, 7.0, "x")],
        "op string, aid int, k int, av double, battr string",
    )
    with pytest.raises(Exception, match="already contains"):
        apply_join_delta(view, dv, ["aid"]).collect()


def test_join_view_guard_absent_delete(spark):
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import apply_join_delta

    _, _, view = _jv_frames(spark)
    dv = spark.createDataFrame(
        [("D", 99, 10, 1.0, "x")],
        "op string, aid int, k int, av double, battr string",
    )
    with pytest.raises(Exception, match="does not contain"):
        apply_join_delta(view, dv, ["aid"]).collect()


def test_join_view_guard_duplicate_slots(spark):
    """Two distinct net-inserts for one id — ambiguous final row — must
    raise rather than pick one."""
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import apply_join_delta

    _, _, view = _jv_frames(spark)
    dv = spark.createDataFrame(
        [
            ("D", 1, 10, 1.0, "x"),
            ("I", 1, 10, 5.0, "x"),
            ("I", 1, 10, 6.0, "x"),
        ],
        "op string, aid int, k int, av double, battr string",
    )
    with pytest.raises(Exception, match="duplicate delta slots"):
        apply_join_delta(view, dv, ["aid"]).collect()


def test_join_view_exact_di_pair_nets_to_noop(spark):
    """An update whose D and I halves carry IDENTICAL values nets to zero
    at the (id, row) collapse — the view row survives untouched."""
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import apply_join_delta

    _, _, view = _jv_frames(spark)
    dv = spark.createDataFrame(
        [("D", 1, 10, 1.0, "x"), ("I", 1, 10, 1.0, "x")],
        "op string, aid int, k int, av double, battr string",
    )
    got = apply_join_delta(view, dv, ["aid"])
    assert sorted(r["aid"] for r in got.collect()) == [1, 2, 3, 4]


def test_join_view_unknown_op_raises(spark):
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import apply_join_delta

    _, _, view = _jv_frames(spark)
    dv = spark.createDataFrame(
        [("U", 1, 10, 1.0, "x")],
        "op string, aid int, k int, av double, battr string",
    )
    with pytest.raises(Exception, match="unknown op"):
        apply_join_delta(view, dv, ["aid"]).collect()


def test_join_view_stream_fold_equals_one_batch(spark, tmp_path):
    """join_delta_stream's per-epoch net collapses fold (integer sums) to
    exactly the one-batch application, including an update whose D and I
    halves land in DIFFERENT epochs and a cross-epoch transient that
    cancels at the fold."""
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import apply_join_delta
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        join_delta_stream,
        read_join_delta_state,
    )

    _, _, view = _jv_frames(spark)
    sch = "op string, aid int, k int, av double, battr string"
    e0 = spark.createDataFrame(
        [("D", 1, 10, 1.0, "x"), ("I", 5, 20, 5.0, "y")], sch
    )
    e1 = spark.createDataFrame(
        [("I", 1, 10, 9.0, "x"), ("D", 5, 20, 5.0, "y"), ("D", 2, 10, 2.0, "x")],
        sch,
    )
    sink = join_delta_stream(str(tmp_path / "st"))
    sink(e0, 0)
    sink(e1, 1)
    folded = read_join_delta_state(spark, str(tmp_path / "st"))
    got = apply_join_delta(view, folded, ["aid"], collapsed=True)
    want = apply_join_delta(view, e0.unionByName(e1), ["aid"])
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    ids = sorted(r["aid"] for r in got.collect())
    # 1 updated (av 9.0), 2 deleted, 5 transient (inserted then deleted)
    assert ids == [1, 3, 4]


def test_join_view_key_only_membership_view(spark):
    """A join view whose id columns ARE all its columns (a maintained
    key-pair membership set — no value columns, empty struct payload)
    still applies deletes/inserts correctly."""
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import apply_join_delta

    view = spark.createDataFrame([(1, 10), (2, 20)], "aid int, bid int")
    dv = spark.createDataFrame(
        [("D", 1, 10), ("I", 3, 30)], "op string, aid int, bid int"
    )
    out = apply_join_delta(view, dv, ["aid", "bid"])
    assert sorted(map(tuple, out.collect())) == [(2, 20), (3, 30)]
    # and the absent-delete guard still fires with no value columns
    bad = spark.createDataFrame([("D", 9, 90)], "op string, aid int, bid int")
    with pytest.raises(Exception, match="does not contain"):
        apply_join_delta(view, bad, ["aid", "bid"]).collect()


def test_distinct_unknown_op_on_null_value_still_raises(spark):
    """r13 review finding: the NULL-value drop must not swallow a corrupt
    op — the op validates inside the filter itself."""
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import collapse_distinct_changes

    chg = _dchg(spark, [("U", "a", None)])
    with pytest.raises(Exception, match="unknown op"):
        collapse_distinct_changes(chg, ["g"], "v").collect()


def test_join_view_self_join_both_sides_carry_same_change(spark):
    """Self-join views (A = B = the same table under renamed columns, e.g.
    a per-user co-occurrence pair view) work with the SAME physical change
    shipped in BOTH deltas: deleting one row must remove its whole row and
    column of pairs INCLUDING the diagonal, which the asymmetric rule
    absorbs exactly (dA ⋈ B_after no longer sees the deleted B row, so
    the diagonal pair is retracted once, not twice)."""
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import (
        apply_join_delta,
        join_view_delta,
    )

    rows = [(1, 100, "x"), (2, 100, "y"), (3, 200, "z")]
    a = spark.createDataFrame(rows, "aid int, user int, item_a string")
    b = spark.createDataFrame(rows, "bid int, user int, item_b string")
    view = a.join(b, ["user"], "inner")
    da = spark.createDataFrame(
        [("D", 2, 100, "y")], "op string, aid int, user int, item_a string"
    )
    db = spark.createDataFrame(
        [("D", 2, 100, "y")], "op string, bid int, user int, item_b string"
    )
    b_after = b.where(F.col("bid") != 2)
    dv = join_view_delta(a, da, b_after, db, ["user"])
    out = apply_join_delta(view, dv, ["aid", "bid"])
    got = sorted((r["aid"], r["bid"]) for r in out.collect())
    want = sorted(
        (r["aid"], r["bid"])
        for r in a.where(F.col("aid") != 2).join(b_after, ["user"], "inner").collect()
    )
    assert got == want == [(1, 1), (3, 3)]
