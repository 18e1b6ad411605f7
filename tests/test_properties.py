"""Property-based invariants (hypothesis) — the reference's property-style
tests (SURVEY.md §5.3: split proportions, temporal ordering, exactly-one
test row per user) generalized to random inputs, checked against
driver-side reference implementations.

Examples are kept small and few: every example runs real Spark jobs.
"""

from __future__ import annotations

import pytest

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# (key, score, id) rows; ids unique within a draw
rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),
        st.integers(min_value=-100, max_value=100),
        st.integers(min_value=0, max_value=10_000),
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda r: r[2],
)


@given(rows=rows_strategy, k=st.integers(min_value=1, max_value=5))
@settings(**SETTINGS)
def test_topk_per_key_matches_reference(spark, rows, k):
    from real_time_recommendation_system_with_feature_store_spark.operators.topk import topk_per_key

    df = spark.createDataFrame(rows, "key int, score int, id int")
    got = {
        (r["key"], r["id"], r["rank"])
        for r in topk_per_key(
            df, ["key"], [F.col("score").desc(), F.col("id").asc()], k
        ).collect()
    }
    expected = set()
    by_key: dict[int, list[tuple[int, int]]] = {}
    for key, score, rid in rows:
        by_key.setdefault(key, []).append((score, rid))
    for key, vals in by_key.items():
        ordered = sorted(vals, key=lambda v: (-v[0], v[1]))[:k]
        expected |= {(key, rid, i + 1) for i, (_, rid) in enumerate(ordered)}
    assert got == expected


@given(rows=rows_strategy, n_test=st.integers(min_value=1, max_value=3))
@settings(**SETTINGS)
def test_leave_one_out_counts(spark, rows, n_test):
    from real_time_recommendation_system_with_feature_store_spark.operators.split import leave_one_out_split

    df = spark.createDataFrame(rows, "key int, ts int, id int")
    out = leave_one_out_split(
        df, "key", [F.col("ts").desc(), F.col("id").desc()], n_test=n_test
    ).collect()
    sizes: dict[int, int] = {}
    for key, _, _ in rows:
        sizes[key] = sizes.get(key, 0) + 1
    test_counts: dict[int, int] = {}
    max_ts = {}
    for key, ts, rid in rows:
        max_ts[key] = max(max_ts.get(key, (-(10 ** 9), -1)), (ts, rid))
    for r in out:
        if r["split"] == "test":
            test_counts[r["key"]] = test_counts.get(r["key"], 0) + 1
    assert test_counts == {k: min(n_test, n) for k, n in sizes.items()}
    # the most recent row of every key is always in test
    newest = {(k, rid) for k, (ts, rid) in max_ts.items()}
    got_test = {(r["key"], r["id"]) for r in out if r["split"] == "test"}
    assert newest <= got_test


@given(rows=rows_strategy)
@settings(**SETTINGS)
@pytest.mark.heavy
def test_time_fraction_split_boundaries(spark, rows):
    from real_time_recommendation_system_with_feature_store_spark.operators.split import time_fraction_split

    df = spark.createDataFrame(rows, "key int, ts int, id int")
    out = time_fraction_split(df, [F.col("ts"), F.col("id")], 0.8, 0.1).collect()
    n = len(rows)
    counts = {"train": 0, "val": 0, "test": 0}
    for r in out:
        counts[r["split"]] += 1
    assert counts["train"] == int(n * 0.8)
    assert counts["val"] == int(n * 0.9) - int(n * 0.8)
    assert counts["test"] == n - int(n * 0.9)
    # temporal ordering: every train (ts,id) precedes every val, every val
    # precedes every test (order key is unique so comparison is total)
    keys = {s: sorted((r["ts"], r["id"]) for r in out if r["split"] == s) for s in counts}
    if keys["train"] and keys["val"]:
        assert keys["train"][-1] < keys["val"][0]
    if keys["val"] and keys["test"]:
        assert keys["val"][-1] < keys["test"][0]
    if not keys["val"] and keys["train"] and keys["test"]:
        assert keys["train"][-1] < keys["test"][0]


asof_left = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 50)),
    min_size=1,
    max_size=15,
)
# payload columns are NULLABLE: a NULL column in the winning right row must
# stay NULL (a per-column last(ignorenulls) carry would back-fill it from an
# older row — the field-mixing bug class)
asof_right = st.lists(
    st.tuples(
        st.integers(0, 2),
        st.integers(0, 50),
        st.one_of(st.none(), st.integers(-99, 99)),
        st.one_of(st.none(), st.integers(-99, 99)),
    ),
    min_size=0,
    max_size=15,
    unique_by=lambda r: (r[0], r[1]),
)


@given(lrows=asof_left, rrows=asof_right, ttl=st.integers(min_value=1, max_value=60))
@settings(**SETTINGS)
@pytest.mark.heavy
def test_asof_join_matches_reference(spark, lrows, rrows, ttl):
    from real_time_recommendation_system_with_feature_store_spark.operators.asof import asof_join

    lrows = [(i, k, ts) for i, (k, ts) in enumerate(lrows)]
    left = spark.createDataFrame(lrows, "row_id int, key int, ts int").withColumn(
        "ts", F.timestamp_seconds("ts")
    )
    right = spark.createDataFrame(
        rrows or [], "key int, fts int, val int, val2 int"
    ).withColumn("fts", F.timestamp_seconds("fts"))
    from real_time_recommendation_system_with_feature_store_spark.operators.asof import asof_join_union

    expected = {}
    for row_id, k, ts in lrows:
        cands = [
            (fts, val, val2)
            for (rk, fts, val, val2) in rrows
            if rk == k and fts <= ts and ts - fts <= ttl
        ]
        if cands:
            best = max(cands, key=lambda c: c[0])
            expected[row_id] = (best[1], best[2])  # whole-row pick, NULLs intact
        else:
            expected[row_id] = (None, None)
    for impl in (asof_join, asof_join_union):
        out = impl(left, right, ["key"], "ts", "fts", ttl_seconds=float(ttl))
        got = {r["row_id"]: (r["val"], r["val2"]) for r in out.collect()}
        assert got == expected, impl.__name__


@given(
    words=st.lists(st.text(alphabet="abcXYZ", min_size=1, max_size=5), min_size=1, max_size=8),
    pad=st.sampled_from(["  ", "\t", "\n", " \t "]),
)
@settings(**SETTINGS)
def test_fingerprint_whitespace_case_invariance(spark, words, pad):
    from real_time_recommendation_system_with_feature_store_spark.functions.text import fingerprint

    canonical = " ".join(words)
    noisy = pad + pad.join(w.upper() for w in words) + pad
    df = spark.createDataFrame([(canonical, noisy)], "a string, b string")
    row = df.select(
        fingerprint(F.col("a")).alias("fa"), fingerprint(F.col("b")).alias("fb")
    ).collect()[0]
    assert row["fa"] == row["fb"]


@given(
    base=st.lists(st.text(alphabet="abc ", min_size=1, max_size=12), min_size=1, max_size=10),
    dup_of=st.integers(min_value=0, max_value=9),
)
@settings(**SETTINGS)
def test_exact_dedup_properties(spark, base, dup_of):
    """exact_dedup keeps exactly one row per normalized text, always the
    min id, and never loses a distinct text."""
    from real_time_recommendation_system_with_feature_store_spark.functions.text import fingerprint as fp
    from real_time_recommendation_system_with_feature_store_spark.operators.dedup import exact_dedup

    rows = [(i, t) for i, t in enumerate(base)]
    # append a guaranteed duplicate (whitespace/case noise) of one row
    rows.append((len(rows), "  " + base[dup_of % len(base)].upper() + " "))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = exact_dedup(df, "text", "doc_id").collect()
    fps = [
        r["f"]
        for r in df.select(fp(F.col("text")).alias("f")).distinct().collect()
    ]
    assert len(kept) == len(fps)
    # each keeper is the min id of its fingerprint group
    all_rows = df.select("doc_id", fp(F.col("text")).alias("f")).collect()
    min_by_fp = {}
    for r in all_rows:
        min_by_fp[r["f"]] = min(min_by_fp.get(r["f"], 10**9), r["doc_id"])
    kept_ids = sorted(r["doc_id"] for r in kept)
    assert kept_ids == sorted(min_by_fp.values())


@given(
    st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=25),
    st.integers(min_value=1, max_value=64),
)
@settings(max_examples=8, deadline=None)
def test_pack_by_token_budget_properties(spark, tokens, budget):
    """Packing invariants for any token sequence and budget: offsets stay
    inside the chunk, chunk ids are nondecreasing in document order, and
    (chunk_id, chunk_offset) reconstructs the exact prefix sum."""
    from real_time_recommendation_system_with_feature_store_spark.operators.packing import pack_by_token_budget

    rows = [(i, n) for i, n in enumerate(tokens)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    out = sorted(
        (r["doc_id"], r["chunk_id"], r["chunk_offset"])
        for r in pack_by_token_budget(df, "n_tokens", ["doc_id"], budget).collect()
    )
    prefix = 0
    last_chunk = 0
    for (doc_id, chunk, off), n in zip(out, tokens):
        assert 0 <= off < budget
        assert chunk >= last_chunk
        assert chunk * budget + off == prefix
        last_chunk = chunk
        prefix += n


neg_inter = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 15)),
    min_size=1,
    max_size=30,
)


@given(rrows=neg_inter, n=st.integers(min_value=1, max_value=4))
@settings(**SETTINGS)
@pytest.mark.heavy
def test_negative_sample_invariants(spark, rrows, n):
    """Rejection sampling invariants on arbitrary interaction sets:
    negatives are disjoint from positives, drawn from the catalog, at most n
    per user, unique per (user, item), and identical under a different
    partitioning (md5 determinism — the property rand(seed) lacks)."""
    from real_time_recommendation_system_with_feature_store_spark.operators.sampling import negative_sample

    inter = spark.createDataFrame(rrows, "u int, i int")
    items = inter.select("i").distinct()
    out = negative_sample(inter, items, "u", "i", n_per_user=n)
    got = [(r["u"], r["i"]) for r in out.collect()]

    positives = set(rrows)
    catalog = {i for _, i in rrows}
    assert not (set(got) & positives)
    assert {i for _, i in got} <= catalog
    assert len(got) == len(set(got))  # unique (user, item)
    from collections import Counter

    per_user = Counter(u for u, _ in got)
    assert all(c <= n for c in per_user.values())

    again = [(r["u"], r["i"]) for r in negative_sample(
        inter.repartition(7, "i"), items, "u", "i", n_per_user=n
    ).collect()]
    assert sorted(again) == sorted(got)


# whitespace-y documents with repeated words (chunking / repetition inputs)
docs_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "x", "yy"]),
            min_size=0,
            max_size=30,
        ),
    ),
    min_size=1,
    max_size=12,
    unique_by=lambda r: r[0],
)


@given(
    docs=docs_strategy,
    max_tokens=st.integers(min_value=2, max_value=8),
    overlap=st.integers(min_value=0, max_value=3),
)
@settings(**SETTINGS)
def test_chunk_documents_covers_every_token_exactly(spark, docs, max_tokens, overlap):
    """Invariants vs a driver-side reference: (1) chunk starts advance by
    step and the last chunk reaches the end, (2) the union of chunk token
    ranges covers [0, n), (3) reassembling each chunk's text from the
    original tokens reproduces chunk_text."""
    from real_time_recommendation_system_with_feature_store_spark.operators.packing import chunk_documents

    if overlap >= max_tokens:
        overlap = max_tokens - 1
    step = max_tokens - overlap
    df = spark.createDataFrame(
        [(i, " ".join(words)) for i, words in docs], "doc_id int, text string"
    )
    out = chunk_documents(df, "text", "doc_id", max_tokens=max_tokens, overlap=overlap)
    got: dict[int, list] = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], []).append(r)
    for i, words in docs:
        n = len(words)
        if n == 0:
            assert i not in got
            continue
        chunks = sorted(got[i], key=lambda r: r["chunk_idx"])
        expected_c = 1 if n <= max_tokens else (n - max_tokens + step - 1) // step + 1
        assert len(chunks) == expected_c
        covered = set()
        for idx, r in enumerate(chunks):
            assert r["chunk_idx"] == idx
            assert r["start_token"] == idx * step
            w = words[r["start_token"] : r["start_token"] + max_tokens]
            assert r["n_chunk_tokens"] == len(w)
            assert r["chunk_text"] == " ".join(w)
            covered.update(range(r["start_token"], r["start_token"] + len(w)))
        assert covered == set(range(n))


@given(texts=st.lists(st.text(alphabet="ab xyz", max_size=24), min_size=1, max_size=8))
@settings(**SETTINGS)
def test_portable_hash_matches_duckdb_on_random_strings(spark, texts):
    """portable_hash60 must agree with the DuckDB formulation for arbitrary
    strings — the foundation of every portable-mode oracle."""
    import duckdb

    from real_time_recommendation_system_with_feature_store_spark.operators.dedup import portable_hash60

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, s string")
    got = {r["i"]: r["h"] for r in df.select("i", portable_hash60(F.col("s")).alias("h")).collect()}
    con = duckdb.connect()
    for i, t in enumerate(texts):
        want = con.execute(
            "SELECT ('0x' || substring(md5(?), 1, 15))::BIGINT", [t]
        ).fetchone()[0]
        assert got[i] == want


@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1000),
            st.text(alphabet="abc d", min_size=0, max_size=90),
        ),
        min_size=2,
        max_size=6,
        unique_by=lambda r: r[0],
    )
)
@settings(**SETTINGS)
def test_verbatim_span_pairs_matches_python_reference(spark, docs):
    """Content-defined sampling semantics pinned against a hashlib-md5
    driver-side reference (same gram positions, same mod rule)."""
    import hashlib

    from real_time_recommendation_system_with_feature_store_spark.operators.dedup import verbatim_span_pairs

    G, S = 20, 4

    def sample(text):
        out = set()
        for p in range(0, max(len(text) - G + 1, 0)):
            gram = text[p : p + G]
            h = int(hashlib.md5(gram.encode()).hexdigest()[:15], 16)
            if h % S == 0:
                out.add(h)
        return out

    expected = {}
    for i, (ia, ta) in enumerate(docs):
        for ib, tb in [d for d in docs[i + 1 :]]:
            lo, hi = min(ia, ib), max(ia, ib)
            sa = sample(ta if ia == lo else tb)
            sb = sample(tb if ia == lo else ta)
            shared = len(sa & sb)
            if shared:
                expected[(lo, hi)] = shared

    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in verbatim_span_pairs(
            df, "text", "doc_id", gram_chars=G, mod_stride=S, hash_fn="portable"
        ).collect()
    }
    assert got == expected


@given(docs=docs_strategy)
@settings(**SETTINGS)
def test_ngram_repetition_profile_matches_python_reference(spark, docs):
    """The rolling-hash kernel's fractions must equal a Counter-based
    driver-side reference computing gram multiplicities on the actual
    token tuples (pins the xor-rotate gram identity + the cap/round)."""
    import math
    from collections import Counter

    from real_time_recommendation_system_with_feature_store_spark.functions.text import ngram_repetition_profile

    def ref(words):
        w = len(words)
        out = {"n_words": w}
        for n, key, dup in [(2, "top2_frac", False), (3, "top3_frac", False), (5, "dup5_frac", True)]:
            grams = [tuple(words[i : i + n]) for i in range(w - n + 1)] if w >= n else []
            counts = Counter(grams)
            c = (
                sum(v for v in counts.values() if v >= 2)
                if dup
                else (max(counts.values()) if counts else 0)
            )
            v = 0.0 if (w == 0 or c == 0) else min(c * n / w, 1.0)
            out[key] = math.floor(v * 1e6 + 0.5) / 1e6 if v > 0 else 0.0
        return out

    df = spark.createDataFrame(
        [(i, " ".join(words)) for i, words in docs], "doc_id int, text string"
    )
    got = {
        r["doc_id"]: {k: r[k] for k in ("n_words", "top2_frac", "top3_frac", "dup5_frac")}
        for r in ngram_repetition_profile(df, "text", "doc_id").collect()
    }
    expected = {i: ref(words) for i, words in docs}
    assert got == expected


folds_strategy = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c", "d"]),
        st.floats(min_value=0.05, max_value=5.0, allow_nan=False),
    ),
    min_size=1,
    max_size=4,
    unique_by=lambda f: f[0],
)


@given(
    folds=folds_strategy,
    rows=st.lists(
        st.tuples(st.integers(0, 5000), st.integers(0, 30)),
        min_size=1,
        max_size=40,
        unique_by=lambda r: r[0],
    ),
)
@settings(**SETTINGS)
def test_grouped_split_exhaustive_and_group_consistent(spark, folds, rows):
    """Arbitrary (un-normalized) fold fractions: every row gets a declared
    fold, all rows of a group agree, and the assignment is a pure function
    of the group key (stable under repartitioning)."""
    from real_time_recommendation_system_with_feature_store_spark.operators.corpus import grouped_fraction_split

    df = spark.createDataFrame(rows, "row_id long, grp long")
    out = grouped_fraction_split(df, "grp", folds).collect()
    names = {n for n, _ in folds}
    assert len(out) == len(rows)
    by_group: dict[int, set[str]] = {}
    for r in out:
        assert r["fold"] in names
        by_group.setdefault(r["grp"], set()).add(r["fold"])
    assert all(len(v) == 1 for v in by_group.values())
    out2 = grouped_fraction_split(df.repartition(7), "grp", folds).collect()
    assert {(r["row_id"], r["fold"]) for r in out2} == {
        (r["row_id"], r["fold"]) for r in out
    }


@given(
    counts=st.lists(st.integers(min_value=1, max_value=60), min_size=2, max_size=4),
    shares=st.lists(st.floats(min_value=0.1, max_value=1.0), min_size=2, max_size=4),
)
@settings(**SETTINGS)
def test_mixture_resample_binding_domain_keeps_everything(spark, counts, shares):
    """The domain with the smallest n/share ratio gets rate 1.0 and keeps
    every row; every domain keeps <= its row count; domains outside the
    target mixture are dropped."""
    from real_time_recommendation_system_with_feature_store_spark.operators.corpus import mixture_resample

    k = min(len(counts), len(shares))
    counts, shares = counts[:k], shares[:k]
    langs = [f"l{i}" for i in range(k)]
    rows, next_id = [], 0
    for lang, n in zip(langs, counts):
        rows += [(next_id + j, lang) for j in range(n)]
        next_id += n
    rows.append((next_id, "excluded"))
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    targets = dict(zip(langs, shares))
    total = sum(shares)
    got = mixture_resample(df, "lang", targets, ["doc_id"]).toPandas()
    kept = got.groupby("lang").size().to_dict()
    assert "excluded" not in kept
    binding = min(range(k), key=lambda i: counts[i] / (shares[i] / total))
    assert kept.get(langs[binding], 0) == counts[binding]
    for lang, n in zip(langs, counts):
        assert kept.get(lang, 0) <= n


@given(
    toks=st.lists(st.text(alphabet="abc", min_size=1, max_size=3), min_size=0, max_size=10),
    pair=st.tuples(st.text(alphabet="abc", min_size=1, max_size=2),
                   st.text(alphabet="abc", min_size=1, max_size=2)),
)
@settings(**SETTINGS)
def test_bpe_replace_semantics_match_duckdb(spark, toks, pair):
    """The marker-delimited merge primitive (greedy left-to-right replace)
    produces byte-identical sequences in Spark and DuckDB — the contract the
    unrolled BPE oracles stand on."""
    import duckdb

    from real_time_recommendation_system_with_feature_store_spark.operators.bpe import MARKER, merge_pattern

    boundary = MARKER + MARKER
    seq = boundary + boundary.join(toks) + boundary if toks else ""
    l, r = pair
    pat, rep = merge_pattern(l, r)
    got = (
        spark.createDataFrame([(seq,)], "s string")
        .select(F.replace(F.col("s"), F.lit(pat), F.lit(rep)).alias("m"))
        .collect()[0]["m"]
    )
    want = duckdb.sql("SELECT replace(?, ?, ?)", params=[seq, pat, rep]).fetchone()[0]
    assert got == want


@given(
    texts=st.lists(
        st.text(alphabet="ab1234567890.@ -%", min_size=0, max_size=60),
        min_size=1,
        max_size=6,
    )
)
@settings(**SETTINGS)
def test_scrub_pii_matches_duckdb_on_random_strings(spark, texts):
    """The PII patterns use only Java-regex/RE2-common syntax — redactions
    and counts must agree with DuckDB on arbitrary '@/digit/dot' soup (the
    contract pii_scrubbed_docs' oracle stands on)."""
    import duckdb

    from real_time_recommendation_system_with_feature_store_spark.operators.corpus import (
        PII_EMAIL,
        PII_IPV4,
        PII_LONG_NUM,
        scrub_pii,
    )

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["redacted"], r["n_emails"], r["n_ipv4"], r["n_long_numbers"])
        for r in scrub_pii(df, "text", "doc_id").collect()
    }
    for i, t in enumerate(texts):
        want = duckdb.sql(
            "SELECT regexp_replace(regexp_replace(regexp_replace(?, ?, '<EMAIL>', 'g'),"
            " ?, '<IP>', 'g'), ?, '<NUM>', 'g'),"
            " len(regexp_extract_all(?, ?)), len(regexp_extract_all(?, ?)),"
            " len(regexp_extract_all(?, ?))",
            params=[t, PII_EMAIL, PII_IPV4, PII_LONG_NUM, t, PII_EMAIL, t, PII_IPV4, t, PII_LONG_NUM],
        ).fetchone()
        assert got[i] == tuple(want), (t, got[i], want)


@given(
    n_rows=st.integers(min_value=1, max_value=40),
    n_buckets=st.integers(min_value=1, max_value=12),
)
@settings(**SETTINGS)
def test_ntile_from_rank_matches_builtin_ntile(spark, n_rows, n_buckets):
    """The rank-derived NTILE (price_deciles / z-order / perplexity buckets)
    must equal Spark's ntile() for every (n_rows, n_buckets) shape."""
    from pyspark.sql import Window

    from real_time_recommendation_system_with_feature_store_spark.operators.rank import ntile_from_rank

    df = spark.createDataFrame([(i,) for i in range(n_rows)], "id long")
    w = Window.orderBy("id")
    both = df.select(
        "id",
        F.ntile(n_buckets).over(w).alias("builtin"),
        (ntile_from_rank(F.row_number().over(w), F.lit(n_rows), n_buckets) + 1).alias("derived"),
    ).collect()
    for r in both:
        assert r["builtin"] == r["derived"], (n_rows, n_buckets, r)


@given(
    texts=st.lists(
        st.text(
            # precomposable latin + hangul jamo + combining marks + ascii —
            # the alphabet where NFC actually rewrites
            alphabet="aȩ́̀ñÅ 가z1.",
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=6,
    )
)
# pinned decomposed forms (e+COMBINING ACUTE, a+COMBINING RING) guarantee at
# least one example per run actually recomposes under NFC, independent of
# what Hypothesis generates/shrinks to
@example(texts=["e\u0301 a\u030a"])
@settings(**SETTINGS)
def test_nfc_normalized_matches_duckdb(spark, texts):
    """unicodedata.normalize('NFC') (the Arrow kernel) and DuckDB's
    nfc_normalize both implement UAX #15 — byte-for-byte parity on strings
    dense in combining marks (the contract nfc_normalized_docs' oracle
    stands on; the synthetic corpus is ASCII so only this test exercises
    actual recomposition)."""
    import duckdb

    from real_time_recommendation_system_with_feature_store_spark.functions.text import nfc_normalized

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text_nfc"], r["changed"])
        for r in nfc_normalized(df, "text", "doc_id").collect()
    }
    changed_seen = False
    for i, t in enumerate(texts):
        want = duckdb.sql(
            "SELECT nfc_normalize(?), nfc_normalize(?) <> ?", params=[t, t, t]
        ).fetchone()
        assert got[i] == tuple(want), (t, got[i], want)
        changed_seen = changed_seen or want[1]
    if texts == ["e\u0301 a\u030a"]:
        # the pinned @example MUST recompose — if it ever stops changing,
        # the advertised recomposition coverage has silently vanished
        assert changed_seen


@given(
    tokens=st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=60),
    nparts=st.integers(min_value=1, max_value=6),
)
@settings(**SETTINGS)
def test_global_exclusive_prefix_sum_matches_window(spark, tokens, nparts):
    """The range-partitioned prefix sum (cross-partition carry) must equal
    the unpartitioned-window cumsum bit-for-bit for any value sequence and
    partition count — the invariant pack_by_token_budget's scale gate
    rests on."""
    from pyspark.sql import Window

    from real_time_recommendation_system_with_feature_store_spark.operators.rank import global_exclusive_prefix_sum

    df = spark.createDataFrame(list(enumerate(tokens)), "id long, v long")
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)
    want = {
        r["id"]: r["ps"]
        for r in df.select("id", F.coalesce(F.sum("v").over(w), F.lit(0)).alias("ps")).collect()
    }
    got = {
        r["id"]: r["ps"]
        for r in global_exclusive_prefix_sum(
            df, "v", ["id"], "ps", num_partitions=nparts
        ).collect()
    }
    assert got == want


@pytest.mark.parametrize("projection", ["pruned", "all_columns"])
@pytest.mark.parametrize("num_partitions", [1, 2, 3, 4, 7, 32])
def test_global_rank_functions_ignore_partitioning_and_projection(
    spark, num_partitions, projection
):
    """Both range-partitioned rank functions must equal the unpartitioned
    window for every partition count, whether the caller keeps every column
    or prunes to two: the size aggregate and the local ranks must come from
    one partition assignment (the all-columns collect used to give
    duplicated ranks at local[4])."""
    import os

    from pyspark.sql import Window

    from real_time_recommendation_system_with_feature_store_spark.operators.rank import (
        global_exclusive_prefix_sum,
        global_row_number,
    )

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    o = spark.read.parquet(f"{sf}/orders.parquet")
    keys = [F.col("o_orderdate"), F.col("o_orderkey")]
    w = Window.orderBy(*keys)
    want_rn = {
        r["o_orderkey"]: r["rn"]
        for r in o.select("o_orderkey", F.row_number().over(w).alias("rn")).collect()
    }
    want_ps = {
        r["o_orderkey"]: r["ps"]
        for r in o.select(
            "o_orderkey",
            F.coalesce(
                F.sum("o_custkey").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).alias("ps"),
        ).collect()
    }

    def collect(df, col):
        if projection == "pruned":
            df = df.select("o_orderkey", col)
        return {r["o_orderkey"]: r[col] for r in df.collect()}

    rn = global_row_number(o, keys, "rn", num_partitions=num_partitions)
    ps = global_exclusive_prefix_sum(
        o, "o_custkey", keys, "ps", num_partitions=num_partitions
    )
    assert collect(rn, "rn") == want_rn
    assert collect(ps, "ps") == want_ps


@given(
    a=st.lists(st.one_of(st.none(), st.integers(min_value=-50, max_value=50)),
               min_size=1, max_size=25),
    b=st.lists(st.one_of(st.none(), st.text(alphabet="xyz", max_size=3)),
               min_size=1, max_size=25),
)
@settings(**SETTINGS)
def test_profile_table_matches_duckdb(spark, a, b):
    """profile_table's null/distinct/min/max semantics must match SQL
    (COUNT(DISTINCT) excludes NULLs, min/max skip NULLs, all-NULL columns
    profile as NULL bounds) on arbitrary null-dense frames."""
    import duckdb

    from real_time_recommendation_system_with_feature_store_spark.operators.profile import profile_table

    n = max(len(a), len(b))
    a = (a + [None] * n)[:n]
    b = (b + [None] * n)[:n]
    df = spark.createDataFrame(list(zip(a, b)), "a int, b string")
    # exact=True pins COUNT(DISTINCT) semantics. The DEFAULT gate on a
    # LocalRelation has NO size estimate and so routes to the approx tier
    # (unknown = too big = fail-cheap, the 100 TB-safe choice) — and HLL can
    # genuinely miscount tiny sets (hypothesis found {33, 50} -> 1), so the
    # approx tier only gets a band assertion below.
    got = {
        r["column_name"]: (r["n_rows"], r["n_nulls"], r["n_distinct"], r["min_value"], r["max_value"])
        for r in profile_table(df, ["a", "b"], exact=True).collect()
    }
    con = duckdb.connect()
    con.register("t", __import__("pandas").DataFrame({"a": __import__("pandas").array(a, dtype="Int64"), "b": b}))
    for c in ("a", "b"):
        want = con.execute(
            f"SELECT COUNT(*), COUNT(*) - COUNT({c}), COUNT(DISTINCT {c}),"
            f" CAST(MIN({c}) AS VARCHAR), CAST(MAX({c}) AS VARCHAR) FROM t"
        ).fetchone()
        assert got[c] == tuple(want), (c, got[c], want)
    approx = {
        r["column_name"]: r["n_distinct"]
        for r in profile_table(df, ["a", "b"], exact=False).collect()
    }
    for c in ("a", "b"):
        lo, hi = got[c][2] * 0.5, got[c][2] * 1.5  # rsd-scale band, 0 stays 0
        assert lo <= approx[c] <= max(hi, 0), (c, approx[c], got[c][2])


# documents as word lists over a tiny alphabet: collisions guaranteed
docs_strategy = st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=12),
    min_size=1,
    max_size=8,
)


@given(docs=docs_strategy, w=st.integers(min_value=1, max_value=4))
@settings(**SETTINGS)
def test_dedup_spans_matches_reference(spark, docs, w):
    """dedup_spans (corpus scope) equals a driver-side reference rewrite on
    random word streams: first corpus occurrence of each w-word span (scan
    order = (doc_id, pos)) survives, later ones vanish, docs reassemble in
    span order, counters add up."""
    from real_time_recommendation_system_with_feature_store_spark.operators.dedup import dedup_spans

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    seen: set = set()
    expected = {}
    for i, ws in enumerate(docs):
        # split("", " ") yields [""]: the reference must mirror the engine's
        # one-empty-span representation of an empty document
        words = " ".join(ws).split(" ")
        spans = [" ".join(words[j : j + w]) for j in range(0, len(words), w)] or [""]
        kept = []
        for sp in spans:
            if sp not in seen:
                seen.add(sp)
                kept.append(sp)
        expected[i] = (" ".join(kept), len(kept), len(spans))

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["dedup_text"], r["n_spans_kept"], r["n_spans_total"])
           for r in dedup_spans(df, "text", "doc_id", span_words=w).collect()}
    assert got == expected


intervals_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),     # key
        st.integers(min_value=0, max_value=50),    # start day
        st.integers(min_value=0, max_value=10),    # length days
    ),
    min_size=1,
    max_size=15,
)


@given(rows=intervals_strategy, bin_days=st.integers(min_value=1, max_value=9))
@settings(**SETTINGS)
def test_interval_overlap_join_matches_naive(spark, rows, bin_days):
    """The binned overlap join equals the naive O(n²) reference for random
    closed intervals under every bin width — bin size changes the plan,
    never the answer."""
    from datetime import datetime, timedelta

    from real_time_recommendation_system_with_feature_store_spark.operators.asof import interval_overlap_join

    t0 = datetime.fromisoformat("2024-01-01 00:00:00")
    data = [
        (f"k{k}", i, t0 + timedelta(days=s), t0 + timedelta(days=s + ln))
        for i, (k, s, ln) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, ["k", "iid", "s", "e"])
    a = df.select("k", F.col("iid").alias("ia"), F.col("s").alias("sa"), F.col("e").alias("ea"))
    b = df.select("k", F.col("iid").alias("ib"), F.col("s").alias("sb"), F.col("e").alias("eb"))
    got = {
        (r["ia"], r["ib"])
        for r in interval_overlap_join(
            a, b, "ia", "ib", "sa", "ea", "sb", "eb",
            keys=["k"], bin_seconds=bin_days * 86400,
        ).where(F.col("ia") < F.col("ib")).collect()
    }
    naive = {
        (x[1], y[1])
        for x in data for y in data
        if x[0] == y[0] and x[1] < y[1] and x[2] <= y[3] and y[2] <= x[3]
    }
    assert got == naive


# IVM property: a random base + a random VALID changelog (deletes only
# retract rows that exist, updates are D/I pairs) must satisfy
# incremental == full recompute, for any grouping of the ops into deltas.
ivm_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),          # group
        st.integers(min_value=-999, max_value=999),      # measure (as /10)
    ),
    min_size=1,
    max_size=25,
)


@given(
    base=ivm_strategy,
    data=st.data(),
)
@settings(**SETTINGS)
def test_agg_ivm_matches_recompute(spark, base, data):
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import agg_delta, apply_agg_delta

    # random valid ops over the base multiset: delete an existing row
    # (tracked), insert a fresh one, or update (delete+insert)
    remaining = list(base)
    ops = []
    n_ops = data.draw(st.integers(min_value=0, max_value=10))
    for _ in range(n_ops):
        choice = data.draw(st.sampled_from(["insert", "delete", "update"]))
        if choice != "insert" and remaining:
            idx = data.draw(st.integers(min_value=0, max_value=len(remaining) - 1))
            g, m = remaining.pop(idx)
            ops.append(("D", g, m))
            if choice == "update":
                nm = data.draw(st.integers(min_value=-999, max_value=999))
                ops.append(("I", g, nm))
                remaining.append((g, nm))
        else:
            g = data.draw(st.integers(min_value=0, max_value=4))
            m = data.draw(st.integers(min_value=-999, max_value=999))
            ops.append(("I", g, m))
            remaining.append((g, m))

    view = (
        spark.createDataFrame([(g, m / 10.0) for g, m in base], "g int, m double")
        .groupBy("g")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("m").cast("decimal(28,10)")).alias("total"),
        )
    )
    if ops:
        chg = spark.createDataFrame(
            [(op, g, m / 10.0) for op, g, m in ops], "op string, g int, m double"
        )
        out = apply_agg_delta(view, agg_delta(chg, ["g"], F.col("m")), ["g"])
    else:
        out = view
    got = {r["g"]: (r["n"], float(r["total"])) for r in out.collect()}

    exp = {}
    for g, m in remaining:
        n, s = exp.get(g, (0, 0))
        exp[g] = (n + 1, s + m)  # exact integer tenths
    exp = {g: (n, s / 10.0) for g, (n, s) in exp.items() if n > 0}
    assert got == exp


# --- top-k IVM: random consistent CDC histories == full recompute --------

# a history: per step, (group, id, new_value_or_None). None = delete if
# present; a value = insert if absent / update (D/I pair) if present.
_topk_steps = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),        # group
        st.integers(min_value=0, max_value=14),       # id
        st.one_of(st.none(), st.integers(min_value=-50, max_value=50)),
    ),
    min_size=0,
    max_size=30,
)
_topk_base = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),
        st.integers(min_value=0, max_value=14),
        st.integers(min_value=-50, max_value=50),
    ),
    min_size=0,
    max_size=25,
    unique_by=lambda r: (r[0], r[1]),
)


def _topk_history(base, steps, n_epochs=3):
    """Turn random steps into a CONSISTENT changelog (insert only when
    absent, delete/update only when present; at most one event chain per
    id per epoch by dropping steps that would double-touch an id in its
    epoch). Epoch assignment must be MONOTONE in step order — contiguous
    chunks, not round-robin — or a later step's event lands in an
    earlier epoch and the changelog loses causality (an early hypothesis
    run falsified exactly that: a delete composed before its insert)."""
    state = {(g, i): float(v) for g, i, v in base}
    epochs = [[] for _ in range(n_epochs)]
    touched = [set() for _ in range(n_epochs)]
    for n, (g, i, v) in enumerate(steps):
        e = (n * n_epochs) // max(len(steps), 1)
        if (g, i) in touched[e]:
            continue
        touched[e].add((g, i))
        if v is None:
            if (g, i) in state:  # delete
                epochs[e].append(("D", g, i, state.pop((g, i))))
        elif (g, i) in state:    # update -> D/I pair in one epoch
            epochs[e].append(("D", g, i, state[(g, i)]))
            epochs[e].append(("I", g, i, float(v)))
            state[(g, i)] = float(v)
        else:                    # insert
            epochs[e].append(("I", g, i, float(v)))
            state[(g, i)] = float(v)
    return epochs, state


@given(base=_topk_base, steps=_topk_steps, k=st.integers(min_value=1, max_value=3))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@pytest.mark.heavy
def test_topk_ivm_random_history_matches_recompute(spark, base, steps, k):
    """apply_topk_delta over a random consistent multi-epoch CDC history —
    applied BOTH sequentially per epoch and via the stream sink's
    composed fold — equals the from-scratch top-k of the final state."""
    import os
    import shutil

    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import (
        apply_topk_delta,
        build_topk_buffer,
        topk_from_buffer,
    )
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        read_topk_delta_state,
        topk_delta_stream,
    )

    buffer_k = k + 2
    schema_r = "g int, id int, m double"
    schema_c = "op string, g int, id int, m double"
    epochs, final = _topk_history(base, steps)
    base_rows = [(g, i, float(v)) for g, i, v in base]
    final_rows = [(g, i, v) for (g, i), v in final.items()]
    bdf = spark.createDataFrame(base_rows, schema_r) if base_rows else \
        spark.createDataFrame([], schema_r)
    fdf = spark.createDataFrame(final_rows, schema_r) if final_rows else \
        spark.createDataFrame([], schema_r)
    exp = {
        (r["g"], r["rn"]): (r["id"], r["m"])
        for r in topk_from_buffer(
            build_topk_buffer(fdf, ["g"], "id", "m", buffer_k),
            ["g"], "id", "m", k,
        ).collect()
    }

    # sequential per-epoch application (each epoch respects the batch
    # contract: at most one I and one D per id)
    view = build_topk_buffer(bdf, ["g"], "id", "m", buffer_k)
    running = dict((k2, v) for k2, v in
                   {(g, i): float(v) for g, i, v in base}.items())
    for ev in epochs:
        for op, g, i, v in ev:
            if op == "I":
                running[(g, i)] = v
            else:
                running.pop((g, i), None)
        mid_rows = [(g, i, v) for (g, i), v in running.items()]
        mid = spark.createDataFrame(mid_rows, schema_r) if mid_rows else \
            spark.createDataFrame([], schema_r)
        ch = spark.createDataFrame(
            [(op, g, i, v) for op, g, i, v in ev], schema_c
        ) if ev else spark.createDataFrame([], schema_c)
        view = apply_topk_delta(
            view, ch, mid, ["g"], "id", "m", k=k, buffer_k=buffer_k
        )
        # materialize between epochs: a real pipeline stores the buffer
        view = spark.createDataFrame(view.collect(), view.schema)
    got_seq = {
        (r["g"], r["rn"]): (r["id"], r["m"])
        for r in topk_from_buffer(view, ["g"], "id", "m", k).collect()
    }
    assert got_seq == exp

    # stream-composed application (all epochs folded through the sink)
    tmp = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".tmp", "topk_prop_state",
    )
    shutil.rmtree(tmp, ignore_errors=True)
    sink = topk_delta_stream(tmp, ["g"], "id", "m")
    wrote = False
    for e, ev in enumerate(epochs):
        if ev:
            sink(spark.createDataFrame(ev, schema_c), e)
            wrote = True
    if wrote:
        net = read_topk_delta_state(spark, tmp, ["g"], "id", "m")
        view0 = build_topk_buffer(bdf, ["g"], "id", "m", buffer_k)
        out = apply_topk_delta(
            view0, net, fdf, ["g"], "id", "m", k=k, buffer_k=buffer_k
        )
        got_stream = {
            (r["g"], r["rn"]): (r["id"], r["m"])
            for r in topk_from_buffer(out, ["g"], "id", "m", k).collect()
        }
        assert got_stream == exp


@given(base=_topk_base, steps=_topk_steps)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@pytest.mark.heavy
def test_extrema_ivm_random_history_matches_recompute(spark, base, steps):
    """apply_extrema_delta over the same random consistent CDC histories
    — one-shot over the concatenated changelog AND through the stream
    sink's mergeable epoch fold — equals the from-scratch MIN/MAX of the
    final state."""
    import os
    import shutil

    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import apply_extrema_delta
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        extrema_delta_stream,
        read_extrema_delta_state,
    )

    schema_r = "g int, id int, m double"
    schema_c = "op string, g int, id int, m double"
    epochs, final = _topk_history(base, steps)
    base_rows = [(g, i, float(v)) for g, i, v in base]
    final_rows = [(g, i, v) for (g, i), v in final.items()]
    bdf = spark.createDataFrame(base_rows, schema_r) if base_rows else \
        spark.createDataFrame([], schema_r)
    fdf = spark.createDataFrame(final_rows, schema_r) if final_rows else \
        spark.createDataFrame([], schema_r)
    view = bdf.groupBy("g").agg(F.min("m").alias("mn"), F.max("m").alias("mx"))
    exp = {
        r["g"]: (r["mn"], r["mx"])
        for r in fdf.groupBy("g")
        .agg(F.min("m").alias("mn"), F.max("m").alias("mx"))
        .collect()
    }

    flat = [ev for es in epochs for ev in es]
    ch = spark.createDataFrame(flat, schema_c) if flat else \
        spark.createDataFrame([], schema_c)
    got = {
        r["g"]: (r["mn"], r["mx"])
        for r in apply_extrema_delta(view, ch.drop("id"), fdf, ["g"], "m").collect()
    }
    assert got == exp

    tmp = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".tmp", "extrema_prop_state",
    )
    shutil.rmtree(tmp, ignore_errors=True)
    sink = extrema_delta_stream(tmp, ["g"], "m")
    wrote = False
    for e, ev in enumerate(epochs):
        if ev:
            sink(spark.createDataFrame(ev, schema_c).drop("id"), e)
            wrote = True
    if wrote:
        folded = read_extrema_delta_state(spark, tmp, ["g"])
        got2 = {
            r["g"]: (r["mn"], r["mx"])
            for r in apply_extrema_delta(
                view, folded, fdf, ["g"], "m", collapsed=True
            ).collect()
        }
        assert got2 == exp


@given(base=_topk_base, steps=_topk_steps)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@pytest.mark.heavy
def test_distinct_ivm_random_history_matches_recompute(spark, base, steps):
    """apply_distinct_delta over the same random consistent CDC histories
    — chained per epoch AND via the stream sink's folded support deltas —
    equals the from-scratch COUNT(DISTINCT value) of the final state (row
    identity i carries value v; deleting a row retracts one occurrence of
    its value, so the per-group value multiset is exactly the live rows')."""
    import os
    import shutil

    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import (
        apply_distinct_delta,
        build_distinct_support,
        distinct_from_support,
    )
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        distinct_delta_stream,
        read_distinct_delta_state,
    )

    schema_r = "g int, id int, m double"
    schema_c = "op string, g int, id int, m double"
    epochs, final = _topk_history(base, steps)
    base_rows = [(g, i, float(v)) for g, i, v in base]
    bdf = spark.createDataFrame(base_rows, schema_r) if base_rows else \
        spark.createDataFrame([], schema_r)
    support = build_distinct_support(bdf, ["g"], "m")
    view = distinct_from_support(support, ["g"])
    exp = {}
    for (g, _i), v in final.items():
        exp.setdefault(g, set()).add(v)
    exp = {g: len(vs) for g, vs in exp.items()}

    # chained per-epoch application
    cv, cs = view, support
    for ev in epochs:
        if not ev:
            continue
        ch = spark.createDataFrame(ev, schema_c).drop("id")
        cv, cs = apply_distinct_delta(cv, cs, ch, ["g"], "m")
        cv = spark.createDataFrame(cv.collect(), cv.schema)
        cs = spark.createDataFrame(cs.collect(), cs.schema)
    assert {r["g"]: r["nd"] for r in cv.collect()} == exp
    # the support table stays consistent with the view
    assert {
        r["g"]: r["nd"] for r in distinct_from_support(cs, ["g"]).collect()
    } == exp

    # stream-composed application (all epochs folded through the sink)
    tmp = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".tmp", "distinct_prop_state",
    )
    shutil.rmtree(tmp, ignore_errors=True)
    sink = distinct_delta_stream(tmp, ["g"], "m")
    wrote = False
    for e, ev in enumerate(epochs):
        if ev:
            sink(spark.createDataFrame(ev, schema_c).drop("id"), e)
            wrote = True
    if wrote:
        folded = read_distinct_delta_state(spark, tmp, ["g"], "m")
        sv, _ = apply_distinct_delta(
            view, support, folded, ["g"], "m", collapsed=True
        )
        assert {r["g"]: r["nd"] for r in sv.collect()} == exp


@given(base=_topk_base, steps=_topk_steps)
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@pytest.mark.heavy
def test_joint_ivm_random_history_all_views_agree_per_epoch(spark, base, steps):
    """ONE random causally-consistent CDC history drives ALL FOUR delta
    rules simultaneously — sum/count (apply_agg_delta), extrema
    (apply_extrema_delta), top-k (apply_topk_delta), and distinct-count
    (apply_distinct_delta) — and every view is cross-checked against a
    full recompute AFTER EACH EPOCH, not just at the end. This catches
    changelog-semantics divergence BETWEEN the rules (e.g. one rule
    reading an update's D/I pair latest-wins while another reads it as a
    multiset) that the per-operator tests can't see."""
    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import (
        agg_delta,
        apply_agg_delta,
        apply_distinct_delta,
        apply_extrema_delta,
        apply_topk_delta,
        build_distinct_support,
        build_topk_buffer,
        distinct_from_support,
        topk_from_buffer,
    )

    k, buffer_k = 2, 4
    schema_r = "g int, id int, m double"
    schema_c = "op string, g int, id int, m double"
    epochs, _final = _topk_history(base, steps)
    if not any(epochs):
        return
    running = {(g, i): float(v) for g, i, v in base}
    bdf = spark.createDataFrame(
        [(g, i, v) for (g, i), v in running.items()], schema_r
    ) if running else spark.createDataFrame([], schema_r)

    agg_view = bdf.groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum(F.col("m").cast("decimal(28,10)")).alias("total"),
        # the moment triple rides the same rule (derived-aggregate IVM:
        # avg/var from (n, Σx, Σx²)) — carried through the joint history
        # so all SIX rules share one consistent changelog reading (join
        # has its own two-sided random-history test below)
        F.sum((F.col("m") * F.col("m")).cast("decimal(28,10)")).alias("ss"),
    )
    ext_view = bdf.groupBy("g").agg(F.min("m").alias("mn"), F.max("m").alias("mx"))
    topk_view = build_topk_buffer(bdf, ["g"], "id", "m", buffer_k)
    support = build_distinct_support(bdf, ["g"], "m")
    dist_view = distinct_from_support(support, ["g"])

    for ev in epochs:
        if not ev:
            continue
        for op, g, i, v in ev:
            if op == "I":
                running[(g, i)] = v
            else:
                running.pop((g, i), None)
        mid_rows = [(g, i, v) for (g, i), v in running.items()]
        mid = spark.createDataFrame(mid_rows, schema_r) if mid_rows else \
            spark.createDataFrame([], schema_r)
        ch = spark.createDataFrame(ev, schema_c)

        agg_view = apply_agg_delta(
            agg_view,
            agg_delta(
                ch, ["g"], F.col("m"),
                extra_measures={"ss": F.col("m") * F.col("m")},
            ),
            ["g"],
            extra_sum_cols=["ss"],
        )
        ext_view = apply_extrema_delta(ext_view, ch.drop("id"), mid, ["g"], "m")
        topk_view = apply_topk_delta(
            topk_view, ch, mid, ["g"], "id", "m", k=k, buffer_k=buffer_k
        )
        dist_view, support = apply_distinct_delta(
            dist_view, support, ch.drop("id"), ["g"], "m"
        )
        # materialize all five tables, as a real pipeline stores them
        agg_view = spark.createDataFrame(agg_view.collect(), agg_view.schema)
        ext_view = spark.createDataFrame(ext_view.collect(), ext_view.schema)
        topk_view = spark.createDataFrame(topk_view.collect(), topk_view.schema)
        dist_view = spark.createDataFrame(dist_view.collect(), dist_view.schema)
        support = spark.createDataFrame(support.collect(), support.schema)

        # --- full recompute of every view from the mid-epoch state
        exp_agg, exp_ext, exp_dist_sets = {}, {}, {}
        for (g, _i), v in running.items():
            n, s, ss = exp_agg.get(g, (0, 0.0, 0.0))
            exp_agg[g] = (n + 1, s + v, ss + v * v)
            mn, mx = exp_ext.get(g, (v, v))
            exp_ext[g] = (min(mn, v), max(mx, v))
            exp_dist_sets.setdefault(g, set()).add(v)
        got_agg = {
            r["g"]: (r["n"], float(r["total"]), float(r["ss"]))
            for r in agg_view.collect()
        }
        # measures are integral floats, so sums (and squared sums) compare
        # exactly
        assert got_agg == {
            g: (n, float(s), float(ss)) for g, (n, s, ss) in exp_agg.items()
        }
        got_ext = {r["g"]: (r["mn"], r["mx"]) for r in ext_view.collect()}
        assert got_ext == exp_ext
        got_dist = {r["g"]: r["nd"] for r in dist_view.collect()}
        assert got_dist == {g: len(vs) for g, vs in exp_dist_sets.items()}
        got_topk = {
            (r["g"], r["rn"]): (r["id"], r["m"])
            for r in topk_from_buffer(topk_view, ["g"], "id", "m", k).collect()
        }
        exp_topk = {}
        for g in exp_agg:
            rows = sorted(
                ((i, v) for (gg, i), v in running.items() if gg == g),
                key=lambda t: (-t[1], t[0]),
            )[:k]
            for rn, (i, v) in enumerate(rows, start=1):
                exp_topk[(g, rn)] = (i, v)
        assert got_topk == exp_topk


_jv_a_base = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=11),     # aid
        st.integers(min_value=0, max_value=4),      # join key
        st.integers(min_value=-20, max_value=20),   # value
    ),
    min_size=0, max_size=14, unique_by=lambda r: r[0],
)
_jv_b_base = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),      # join key
        st.integers(min_value=0, max_value=9),      # attr
    ),
    min_size=0, max_size=5, unique_by=lambda r: r[0],
)
_jv_a_steps = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=11),
        st.integers(min_value=0, max_value=4),
        st.one_of(st.none(), st.integers(min_value=-20, max_value=20)),
    ),
    min_size=0, max_size=16,
)
_jv_b_steps = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),
        st.one_of(st.none(), st.integers(min_value=0, max_value=9)),
    ),
    min_size=0, max_size=8,
)


@given(a_base=_jv_a_base, b_base=_jv_b_base, a_steps=_jv_a_steps, b_steps=_jv_b_steps)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@pytest.mark.heavy
def test_join_view_ivm_random_history_matches_rejoin(
    spark, a_base, b_base, a_steps, b_steps
):
    """join_view_delta + apply_join_delta over random consistent
    TWO-SIDED CDC histories — applied per epoch AND via the stream
    sink's one-shot composed fold — equals the from-scratch re-join
    after every epoch. A-side updates may MOVE a row to a different
    join key (D old row / I new row), so view rows migrate between B
    partners mid-history."""
    import os
    import shutil

    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import (
        apply_join_delta,
        join_view_delta,
    )
    from real_time_recommendation_system_with_feature_store_spark.streaming.pipeline import (
        join_delta_stream,
        read_join_delta_state,
    )

    n_epochs = 3
    sa = "aid int, k int, av double"
    sb = "k int, battr string"
    a_state = {aid: (k, float(v)) for aid, k, v in a_base}
    b_state = {k: f"b{attr}" for k, attr in b_base}

    def adf(state):
        rows = [(aid, k, v) for aid, (k, v) in state.items()]
        return spark.createDataFrame(rows, sa) if rows else \
            spark.createDataFrame([], sa)

    def bdf(state):
        rows = list(state.items())
        return spark.createDataFrame(rows, sb) if rows else \
            spark.createDataFrame([], sb)

    def rejoin(astate, bstate):
        return {
            (aid, k, v, bstate[k])
            for aid, (k, v) in astate.items()
            if k in bstate
        }

    from real_time_recommendation_system_with_feature_store_spark.operators.ivm import agg_delta, apply_agg_delta

    view = adf(a_state).join(bdf(b_state), ["k"], "inner")
    view0 = view
    # SPJA composition ride-along: a per-battr (n, sum av) rollup over the
    # join view maintained by feeding each epoch's dv into the agg delta
    # rule (Z-multiset linearity makes the composition exact)
    agg_view = view.groupBy("battr").agg(
        F.count("*").alias("n"),
        F.sum(F.col("av").cast("decimal(28,10)")).alias("total"),
    )
    tmp = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".tmp", "jv_prop_state",
    )
    shutil.rmtree(tmp, ignore_errors=True)
    sink = join_delta_stream(tmp)
    wrote = False

    for e in range(n_epochs):
        # monotone chunking, one touch per entity per epoch
        a_ev, b_ev = [], []
        touched_a, touched_b = set(), set()
        a_chunk = [s for i, s in enumerate(a_steps)
                   if (i * n_epochs) // max(len(a_steps), 1) == e]
        b_chunk = [s for i, s in enumerate(b_steps)
                   if (i * n_epochs) // max(len(b_steps), 1) == e]
        a_before = adf(a_state)
        for aid, k, v in a_chunk:
            if aid in touched_a:
                continue
            touched_a.add(aid)
            if v is None:
                if aid in a_state:
                    ok, ov = a_state.pop(aid)
                    a_ev.append(("D", aid, ok, ov))
            elif aid in a_state:
                ok, ov = a_state[aid]
                a_ev.append(("D", aid, ok, ov))
                a_ev.append(("I", aid, k, float(v)))
                a_state[aid] = (k, float(v))
            else:
                a_ev.append(("I", aid, k, float(v)))
                a_state[aid] = (k, float(v))
        for k, attr in b_chunk:
            if k in touched_b:
                continue
            touched_b.add(k)
            if attr is None:
                if k in b_state:
                    b_ev.append(("D", k, b_state.pop(k)))
            elif k in b_state:
                b_ev.append(("D", k, b_state[k]))
                b_ev.append(("I", k, f"b{attr}"))
                b_state[k] = f"b{attr}"
            else:
                b_ev.append(("I", k, f"b{attr}"))
                b_state[k] = f"b{attr}"
        if not a_ev and not b_ev:
            continue
        da = spark.createDataFrame(a_ev, f"op string, {sa}") if a_ev else \
            spark.createDataFrame([], f"op string, {sa}")
        db = spark.createDataFrame(b_ev, f"op string, {sb}") if b_ev else \
            spark.createDataFrame([], f"op string, {sb}")
        dv = join_view_delta(a_before, da, bdf(b_state), db, ["k"])
        dv = spark.createDataFrame(dv.collect(), dv.schema)
        sink(dv, e)
        wrote = True
        view = apply_join_delta(view, dv, ["aid"])
        view = spark.createDataFrame(view.collect(), view.schema)
        got = {(r["aid"], r["k"], r["av"], r["battr"]) for r in view.collect()}
        assert got == rejoin(a_state, b_state)
        agg_view = apply_agg_delta(
            agg_view, agg_delta(dv, ["battr"], F.col("av")), ["battr"]
        )
        agg_view = spark.createDataFrame(agg_view.collect(), agg_view.schema)
        exp_agg = {}
        for _aid, k2, v2, battr2 in rejoin(a_state, b_state):
            n0, s0 = exp_agg.get(battr2, (0, 0.0))
            exp_agg[battr2] = (n0 + 1, s0 + v2)
        assert {
            r["battr"]: (r["n"], float(r["total"])) for r in agg_view.collect()
        } == exp_agg

    if wrote:
        folded = read_join_delta_state(spark, tmp)
        out = apply_join_delta(view0, folded, ["aid"], collapsed=True)
        got = {(r["aid"], r["k"], r["av"], r["battr"]) for r in out.collect()}
        assert got == rejoin(a_state, b_state)


# (user, item, score-as-int/4, label) — item unique per user within a draw
auc_rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),
        st.integers(min_value=0, max_value=500),
        st.integers(min_value=-8, max_value=8),
        st.booleans(),
    ),
    min_size=1,
    max_size=50,
    unique_by=lambda r: (r[0], r[1]),
)


@given(rows=auc_rows_strategy)
@settings(**SETTINGS)
def test_ranking_auc_matches_pair_counting(spark, rows):
    """AUC's rank form vs its definition: the fraction of (positive,
    negative) pairs the score orders correctly, ties counting half —
    checked per user on random data with heavy score ties."""
    from real_time_recommendation_system_with_feature_store_spark.evaluation.metrics import ranking_auc

    df = spark.createDataFrame(
        [(u, i, s / 4.0, int(y)) for (u, i, s, y) in rows],
        "u int, i int, p double, y int",
    )
    got = {
        r["u"]: (r["n_pos"], r["n_neg"], r["auc"])
        for r in ranking_auc(df, user="u", pred="p", label="y").collect()
    }
    by_user: dict[int, list[tuple[float, int]]] = {}
    for u, _, s, y in rows:
        by_user.setdefault(u, []).append((s / 4.0, int(y)))
    for u, vals in by_user.items():
        pos = [s for s, y in vals if y]
        neg = [s for s, y in vals if not y]
        if not pos or not neg:
            assert u not in got
            continue
        wins = sum(
            1.0 if p > n else (0.5 if p == n else 0.0)
            for p in pos for n in neg
        )
        want = round(wins / (len(pos) * len(neg)), 6)
        assert got[u] == (len(pos), len(neg), want), (u, got[u], want)


# (group, win, value-as-int/2) rows
ks_rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),
        st.integers(min_value=0, max_value=1),
        st.integers(min_value=-6, max_value=6),
    ),
    min_size=2,
    max_size=60,
)


@given(rows=ks_rows_strategy)
@settings(**SETTINGS)
def test_drift_ks_matches_python_reference(spark, rows):
    """evaluation/drift.ks vs the textbook two-sample statistic computed
    in python: sup over pooled sample points of |F1 - F2|, with tied
    values collapsing to one evaluation point."""
    from real_time_recommendation_system_with_feature_store_spark.evaluation.drift import ks

    df = spark.createDataFrame(
        [(g, w, v / 2.0) for (g, w, v) in rows], "g int, win int, value double"
    )
    got = {
        r["g"]: (r["n_base"], r["n_current"], r["ks_stat"])
        for r in ks(df, "value", by=["g"]).collect()
    }
    by_g: dict[int, tuple[list[float], list[float]]] = {}
    for g, w, v in rows:
        by_g.setdefault(g, ([], []))[w].append(v / 2.0)
    for g, (a, b) in by_g.items():
        if not a or not b:
            assert g not in got
            continue
        points = sorted(set(a) | set(b))
        stat = max(
            abs(
                sum(1 for x in a if x <= p) / len(a)
                - sum(1 for x in b if x <= p) / len(b)
            )
            for p in points
        )
        assert got[g] == (len(a), len(b), round(stat, 6)), (g, got[g], stat)


@given(rows=ks_rows_strategy)
@settings(**SETTINGS)
@pytest.mark.heavy
def test_drift_chisq_and_psi_invariants(spark, rows):
    """chi_square vs python reference on the same draw; PSI's term-wise
    non-negativity ((x−y)·ln(x/y) ≥ 0 for every bin) means PSI ≥ 0
    always, 0 exactly when the smoothed histograms coincide."""
    from real_time_recommendation_system_with_feature_store_spark.evaluation.drift import chi_square, psi

    df = spark.createDataFrame(
        [(g, w, v / 2.0) for (g, w, v) in rows], "g int, win int, value double"
    )
    # chi-square on the group label as the category
    nb = {g: 0 for g, _, _ in rows}
    nc = dict(nb)
    for g, w, _ in rows:
        (nb if w == 0 else nc)[g] += 1
    tb, tc = sum(nb.values()), sum(nc.values())
    out = chi_square(df, "g").collect()
    if tb and tc:
        want = 0.0
        for g in nb:
            rt = nb[g] + nc[g]
            eb, ec = rt * tb / (tb + tc), rt * tc / (tb + tc)
            want += (nb[g] - eb) ** 2 / eb + (nc[g] - ec) ** 2 / ec
        (row,) = out
        assert (row["n_base"], row["n_current"], row["dof"]) == (tb, tc, len(nb) - 1)
        assert abs(row["chi_square"] - want) < 1e-3, (row["chi_square"], want)

    for r in psi(df, "value", by=["g"]).collect():
        assert r["psi"] >= 0.0, r

    # identical windows => PSI exactly 0 and chi-square exactly 0
    both = df.select("g", F.lit(0).alias("win"), "value").unionByName(
        df.select("g", F.lit(1).alias("win"), "value")
    )
    for r in psi(both, "value", by=["g"]).collect():
        assert r["psi"] == 0.0, r
    (row,) = chi_square(both, "g").collect()
    assert row["chi_square"] == 0.0


@given(
    counts=st.lists(st.integers(min_value=1, max_value=20), min_size=1, max_size=25)
)
@settings(**SETTINGS)
def test_gini_matches_python_reference(spark, counts):
    """The catalog Gini formula vs the classic sorted-cumulative-share
    definition, plus its bounds: 0 for uniform counts, < 1 always."""
    rows = [(i, c) for i, c in enumerate(counts)]
    df = spark.createDataFrame(rows, "item_id int, cnt int")

    from pyspark.sql import Window

    r = df.select(
        "cnt",
        F.row_number().over(Window.orderBy("cnt", "item_id")).alias("i"),
    )
    a = r.agg(
        F.count("*").alias("n"),
        F.sum("cnt").alias("s"),
        F.sum(F.col("i") * F.col("cnt")).alias("si"),
    ).collect()[0]
    got = (2 * a["si"]) / (a["n"] * a["s"]) - (a["n"] + 1) / a["n"]

    xs = sorted(counts)
    n, s = len(xs), sum(xs)
    want = sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(xs)) / (n * s)
    assert abs(got - want) < 1e-12
    assert 0.0 <= got < 1.0
    if len(set(counts)) == 1:
        assert abs(got) < 1e-12


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=5)),
            st.one_of(st.none(), st.integers(min_value=-30, max_value=30)),
        ),
        min_size=1,
        max_size=40,
    ),
    lo=st.integers(min_value=-10, max_value=0),
    hi=st.integers(min_value=1, max_value=10),
)
@settings(**SETTINGS)
@pytest.mark.heavy
def test_quality_report_matches_python_counting(spark, rows, lo, hi):
    from real_time_recommendation_system_with_feature_store_spark.operators.quality import (
        in_range,
        not_null,
        quality_report,
    )

    df = spark.createDataFrame(rows, "k int, v int")
    dim = spark.createDataFrame([(i,) for i in range(3)], "k int")
    got = {
        r["rule"]: (r["checked"], r["violations"])
        for r in quality_report(
            df,
            row_rules=[not_null("k"), in_range("v", lo, hi)],
            unique_keys=[["k"]],
            references=[("fk", ["k"], dim, ["k"])],
        ).collect()
    }
    n = len(rows)
    assert got["not_null(k)"] == (n, sum(1 for k, _ in rows if k is None))
    assert got[f"in_range(v,{lo},{hi})"] == (
        n,
        sum(1 for _, v in rows if v is not None and not (lo <= v <= hi)),
    )
    nn = [k for k, _ in rows if k is not None]
    from collections import Counter

    c = Counter(nn)
    assert got["unique(k)"] == (len(nn), sum(x - 1 for x in c.values()))
    assert got["fk"] == (len(nn), sum(1 for k in nn if k >= 3))
