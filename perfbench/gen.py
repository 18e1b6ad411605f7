"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's seed
and a target directory, and writes only there: the same seed gives
byte-identical inputs. Sizes are fixed per workload so two seeds differ in
values, not in the amount of work.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
# row counts of the sf0.01 test star schema: sub-second queries, so the
# catalog workload stays bound by per-job overhead
CATALOG_ROWS = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "event_users": 150,
    "documents": 500, "embeddings": 500,
}
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def _write(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return (lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n)).astype("datetime64[us]")


def catalog_tables(rng: np.random.Generator, out_dir: str) -> None:
    """The TPC-H-ish star schema plus events/documents/embeddings, with the
    column names and types the catalog queries and their oracles read."""
    os.makedirs(out_dir, exist_ok=True)
    R = CATALOG_ROWS
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    def sch(*cols):
        return pa.schema(list(cols))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": regions}),
           f"{out_dir}/region.parquet", sch(("r_regionkey", i32), ("r_name", s)))
    nk = np.arange(25, dtype=np.int32)
    _write(pd.DataFrame({"n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk],
                         "n_regionkey": (nk % 5).astype(np.int32)}),
           f"{out_dir}/nation.parquet", sch(("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)))

    n = R["customer"]
    _write(pd.DataFrame({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n),
    }), f"{out_dir}/customer.parquet",
        sch(("c_custkey", i64), ("c_name", s), ("c_nationkey", i32), ("c_acctbal", f64), ("c_mktsegment", s)))

    n = R["supplier"]
    _write(pd.DataFrame({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
    }), f"{out_dir}/supplier.parquet",
        sch(("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)))

    n = R["part"]
    adj = ["small", "red", "blue", "hot", "green", "large", "cold", "shiny"]
    noun = ["ring", "widget", "bolt", "gear", "nut", "spring", "valve", "pipe"]
    _write(pd.DataFrame({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2),
    }), f"{out_dir}/part.parquet",
        sch(("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s), ("p_size", i32),
            ("p_retailprice", f64)))

    n = R["orders"]
    _write(pd.DataFrame({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, R["customer"], n).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n),
    }), f"{out_dir}/orders.parquet",
        sch(("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s), ("o_totalprice", f64),
            ("o_orderdate", ts), ("o_orderpriority", s)))

    n = R["lineitem"]
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, R["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, R["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, R["supplier"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        # whole-unit prices: price * (1 - discount) then has two decimals, so
        # no revenue sum sits on a half-cent tie the engine and the oracle
        # may round apart
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n)),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
    }), f"{out_dir}/lineitem.parquet",
        sch(("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64), ("l_linenumber", i32),
            ("l_quantity", f64), ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
            ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)))

    n = R["events"]
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    events = pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, R["event_users"], n).astype(np.int64),
        # a funnel: views outnumber clicks, clicks outnumber purchases
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n,
                                 p=[0.15, 0.2, 0.05, 0.1, 0.5]),
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    _write(events, f"{out_dir}/events.parquet",
        sch(("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s), ("value", f64),
            ("props", s)))

    n = R["documents"]
    texts = [" ".join(rng.choice(_WORDS, int(k))) for k in rng.integers(10, 100, n)]
    # plant near-duplicates (a copy plus one marker token) for the dedup entries
    for i in rng.choice(np.arange(1, n), n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    _write(pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out_dir}/documents.parquet",
        sch(("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)))

    n = R["embeddings"]
    # dense unit vectors, as in the test tables
    m = rng.standard_normal((n, 64))
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
    _untie_two_stage(rng, m, events)
    _write(pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(m),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }), f"{out_dir}/embeddings.parquet",
        sch(("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)))


def _round6(x: np.ndarray) -> np.ndarray:
    """Half-up rounding to millionths, as integer millionths."""
    return np.floor(x * 1e6 + 0.5).astype(np.int64)


def _untie_two_stage(rng: np.random.Generator, m: np.ndarray, events: pd.DataFrame) -> None:
    """Redraw the query vectors (ids >= 490) of ``two_stage_recommendations``
    whose blended score would sit on a rounding tie.

    The entry rounds ``0.7 * score + 0.3 * min(ctr, 1)`` to 6 decimals, where
    the cosine ``score`` and ``ctr`` are themselves 6-decimal figures. When
    ``7 * score + 3 * ctr`` in millionths ends in 5 the exact blend is a
    half-millionth, which the engine and DuckDB round apart (about one
    candidate in ten). Only the queries with such a candidate among their
    top 20 (over items 0-99) are drawn again; everything else keeps its draw.
    """
    ev = events[events["ts"] <= np.datetime64("2024-01-31T00:00:00")]
    k = ev["props"].str.extract(r'"k": (\d+)')[0].astype(np.int64)
    clicks = (ev["event_type"] == "click").groupby(k).sum().reindex(range(100), fill_value=0)
    views = (ev["event_type"] == "view").groupby(k).sum().reindex(range(100), fill_value=0)
    ctr = np.minimum(_round6(clicks.to_numpy() / (views.to_numpy() + 1e-6)), 1_000_000)
    items = m[:100].astype(np.float64)
    items /= np.linalg.norm(items, axis=1, keepdims=True)
    for q in range(490, len(m)):
        while True:
            v = m[q].astype(np.float64)
            score = _round6(items @ (v / np.linalg.norm(v)))
            top = np.lexsort((np.arange(100), -score))[:20]
            if not ((7 * score[top] + 3 * ctr[top]) % 10 == 5).any():
                break
            v = rng.standard_normal(m.shape[1])
            m[q] = (v / np.linalg.norm(v)).astype(np.float32)


def ml1m_files(rng: np.random.Generator, out_dir: str, n_users: int, n_items: int,
               n_ratings: int, min_per_user: int = 20) -> int:
    """MovieLens-1M-shaped ``::`` files: every user rates at least
    ``min_per_user`` distinct items, item popularity is Zipf, timestamps span
    three years. Returns the number of ratings written."""
    os.makedirs(out_dir, exist_ok=True)
    # per-user activity: the floor plus a heavy-tailed share of the rest
    extra = rng.pareto(1.5, n_users)
    extra = np.floor(extra / extra.sum() * (n_ratings - min_per_user * n_users)).astype(int)
    per_user = np.minimum(min_per_user + extra, n_items // 2)
    pop = 1.0 / np.arange(1, n_items + 1) ** 0.9
    pop = pop[rng.permutation(n_items)]
    pop /= pop.sum()
    users, items = [], []
    for u, k in enumerate(per_user, start=1):
        # Gumbel top-k: k distinct items drawn by popularity without replacement
        keys = np.log(pop) - np.log(-np.log(rng.random(n_items)))
        users.append(np.full(k, u))
        items.append(np.argpartition(-keys, k)[:k] + 1)
    users, items = np.concatenate(users), np.concatenate(items)
    n = len(users)
    ratings = rng.choice([1, 2, 3, 4, 5], n, p=[0.06, 0.11, 0.26, 0.35, 0.22])
    stamps = 956_703_932 + rng.integers(0, 3 * 365 * 86400, n)
    with open(f"{out_dir}/ratings.dat", "w", encoding="latin-1") as f:
        f.write("\n".join(f"{u}::{i}::{r}::{t}" for u, i, r, t in zip(users, items, ratings, stamps)))
        f.write("\n")
    ages = rng.choice([1, 18, 25, 35, 45, 50, 56], n_users)
    with open(f"{out_dir}/users.dat", "w", encoding="latin-1") as f:
        f.write("".join(
            f"{u}::{g}::{a}::{o}::{z:05d}\n"
            for u, g, a, o, z in zip(range(1, n_users + 1), rng.choice(["F", "M"], n_users), ages,
                                     rng.integers(0, 21, n_users), rng.integers(0, 99999, n_users))
        ))
    from real_time_recommendation_system_with_feature_store_spark.pipelines import GENRES

    with open(f"{out_dir}/movies.dat", "w", encoding="latin-1") as f:
        for m in range(1, n_items + 1):
            genres = "|".join(rng.choice(GENRES, int(rng.integers(1, 4)), replace=False))
            f.write(f"{m}::Movie {m} ({int(rng.integers(1919, 2001))})::{genres}\n")
    return n


EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
])
EVENT_EPOCH = datetime(2024, 1, 1)


def event_struct():
    """Spark schema of the event files (``ts`` is a UTC instant)."""
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("event_id", T.LongType()), T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()), T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()), T.StructField("props", T.StringType()),
    ])


class EventFiles:
    """Event files for the streaming workload. File ``i`` holds events whose
    time falls in minute ``i`` after ``EVENT_EPOCH``, minus up to
    ``jitter_s`` seconds of out-of-order lateness (kept inside the stream's
    watermark so no event is dropped). Users and items are Zipf; the item id
    travels in ``props``. File contents depend only on (seed, index)."""

    def __init__(self, seed: int, events_per_file: int, n_users: int, n_items: int,
                 jitter_s: float = 180.0):
        self.seed, self.n = seed, events_per_file
        self.n_users, self.n_items, self.jitter_s = n_users, n_items, jitter_s

    def frame(self, i: int) -> pd.DataFrame:
        rng = np.random.default_rng([self.seed, i])
        n = self.n
        secs = 60.0 * i + rng.uniform(0.0, 60.0, n) - rng.uniform(0.0, self.jitter_s, n) * (rng.random(n) < 0.2)
        secs = np.maximum(secs, 0.0)
        return pd.DataFrame({
            "event_id": np.arange(i * n, (i + 1) * n, dtype=np.int64),
            "ts": np.datetime64(EVENT_EPOCH, "us") + (secs * 1e6).astype("timedelta64[us]"),
            "user_id": (rng.zipf(1.3, n) % self.n_users).astype(np.int64),
            "event_type": rng.choice(["click", "view", "purchase"], n, p=[0.3, 0.6, 0.1]),
            # dwell seconds at full precision: two-decimal values made some
            # window averages exact half-millionths, which the streaming and
            # the batch aggregation round apart
            "value": rng.exponential(30.0, n),
            "props": [f'{{"item_id": {k}}}' for k in rng.zipf(1.2, n) % self.n_items],
        })

    def land(self, i: int, stage_dir: str, dest_dir: str) -> str:
        """Write file ``i`` to ``stage_dir`` and move it into ``dest_dir`` in
        one rename, so the file source never sees a partial file."""
        name = f"events-{i:06d}.parquet"
        tmp = os.path.join(stage_dir, name)
        _write(self.frame(i), tmp, EVENT_SCHEMA)
        os.replace(tmp, os.path.join(dest_dir, name))
        return name

    @staticmethod
    def minute_end(i: int) -> str:
        """UTC wall-clock string for the end of file ``i``'s minute."""
        return (EVENT_EPOCH + timedelta(minutes=i + 1)).strftime("%Y-%m-%d %H:%M:%S")
