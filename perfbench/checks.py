"""Output checks. Each returns a list of failure descriptions; an empty list
means the output is correct. A check never skips: a result it cannot
verify is a failure."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd


def failure(where: str, e: Exception) -> str:
    """Name of an operation that raised, for the failure list."""
    return f"{where}: {type(e).__name__}: {str(e).strip()[:200]}"


def canon_digest(pdf: pd.DataFrame) -> str:
    """Digest of a result under the oracle-parity canonicalization
    (dtype-sensitive values, columns sorted by name, rows sorted)."""
    from tests.test_oracle_parity import canon_frame

    h = hashlib.sha256(repr(sorted(pdf.columns)).encode())
    for row in canon_frame(pdf):
        h.update(repr(row).encode())
    return h.hexdigest()


def split_boundaries(n: int, counts: dict[str, int], train_frac=0.8, val_frac=0.1) -> list[str]:
    """Split sizes must follow the reference's int(n*frac) row boundaries."""
    train_end, val_end = int(n * train_frac), int(n * (train_frac + val_frac))
    want = {"train": train_end, "val": val_end - train_end, "test": n - val_end}
    got = {k: counts.get(k, 0) for k in want}
    return [] if got == want else [f"split sizes {got} != {want} for n={n}"]


def ranking_metrics_numpy(recs: pd.DataFrame, truth: pd.DataFrame, ks, user="user_idx",
                          item="item_idx") -> dict[int, dict[str, float]]:
    """Recall/precision/hit-rate/NDCG/MRR/MAP at each k, recomputed from the
    collected recommendations (user, item, rank) and truth (user, item)."""
    truth_sets = truth.groupby(user)[item].apply(set).to_dict()
    ranked = recs.sort_values([user, "rank"]).groupby(user)
    rec_lists = {u: (g[item].to_numpy(), g["rank"].to_numpy()) for u, g in ranked}
    out = {}
    for k in ks:
        acc = {m: [] for m in ("recall", "precision", "hit_rate", "ndcg", "mrr", "map")}
        for u, tset in truth_sets.items():
            items, ranks = rec_lists.get(u, (np.array([]), np.array([])))
            keep = ranks <= k
            hit = np.array([i in tset for i in items[keep]], dtype=bool)
            hit_ranks = ranks[keep][hit].astype(float)
            n_hits, n_truth = len(hit_ranks), len(tset)
            ideal = min(n_truth, k)
            idcg = sum(1.0 / math.log2(i + 1) for i in range(1, ideal + 1))
            acc["recall"].append(n_hits / n_truth)
            acc["precision"].append(n_hits / k)
            acc["hit_rate"].append(1.0 if n_hits else 0.0)
            acc["ndcg"].append(float(np.sum(1.0 / np.log2(hit_ranks + 1))) / idcg)
            acc["mrr"].append(float(np.max(1.0 / hit_ranks)) if n_hits else 0.0)
            acc["map"].append(float(np.sum(np.arange(1, n_hits + 1) / hit_ranks)) / ideal)
        out[k] = {m: round(float(np.mean(v)), 6) for m, v in acc.items()}
    return out


def compare_metrics(spark_rows: dict[int, dict[str, float]], ref: dict[int, dict[str, float]],
                    tol: float = 2e-6) -> list[str]:
    fails = []
    for k, want in ref.items():
        got = spark_rows.get(k)
        if got is None:
            fails.append(f"metrics@{k} missing")
            continue
        for m, v in want.items():
            if abs(got[m] - v) > tol:
                fails.append(f"{m}@{k}: spark {got[m]} != numpy {v}")
    return fails


def decayed_counts_pandas(events: pd.DataFrame, key: str, at_ts: str, half_life_s: float,
                          anchor: str) -> pd.Series:
    """Exponentially-decayed event count per key as of ``at_ts``, summed
    event by event (no numeraire factoring)."""
    ts = events["ts"].to_numpy().astype("datetime64[us]").astype("int64") / 1e6
    at = pd.Timestamp(at_ts).value / 1e9
    w = pd.Series(np.power(2.0, -(at - ts) / half_life_s), index=events.index)
    return w.groupby(events[key]).sum()


def compare_decayed(got: pd.Series, want: pd.Series, rel: float = 1e-9) -> list[str]:
    if set(got.index) != set(want.index):
        return [f"decayed keys differ: {len(got)} vs {len(want)}"]
    g = got.reindex(want.index).to_numpy()
    w = want.to_numpy()
    bad = np.abs(g - w) > rel * np.abs(w)
    return [f"decayed counts differ on {int(bad.sum())} keys (first {want.index[bad][0]})"] if bad.any() else []


def compare_frames(got: pd.DataFrame, want: pd.DataFrame, keys: list[str], what: str) -> list[str]:
    """Row-set equality after sorting by ``keys`` on the shared columns."""
    cols = sorted(want.columns)
    if sorted(got.columns) != cols:
        return [f"{what}: columns {sorted(got.columns)} != {cols}"]
    g = got[cols].sort_values(keys).reset_index(drop=True)
    w = want[cols].sort_values(keys).reset_index(drop=True)
    if len(g) != len(w):
        return [f"{what}: {len(g)} rows != {len(w)}"]
    if not g.equals(w):
        diff = (g != w).any(axis=1)
        return [f"{what}: {int(diff.sum())} rows differ (first {g[diff].iloc[0].to_dict()})"]
    return []
