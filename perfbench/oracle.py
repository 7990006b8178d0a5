"""Correctness checks, run outside the timed window.

Query results are compared with the query's DuckDB twin on the same parquet
files, after the canonicalization the repository's own parity tools use:
columns sorted by name, rows sorted with floats last, dtype kinds equal,
floats equal to 1e-9 relative. Rows-only queries are held to the row count
their construction implies. Recsys metrics are recomputed in numpy from the
collected recommendations, truth lists and predictions.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    if len(df):
        nonfloat = [c for c in df.columns if df[c].dtype.kind != "f"]
        floats = [c for c in df.columns if df[c].dtype.kind == "f"]
        keyed = df.assign(**{f"_r_{c}": df[c].round(6) for c in floats})
        keyed = keyed.sort_values(nonfloat + [f"_r_{c}" for c in floats],
                                  kind="mergesort")
        df = keyed[list(df.columns)]
    return df.reset_index(drop=True)


def frame_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """``None`` when the canonical frames agree, else what differs."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        if a.dtype.kind != b.dtype.kind:
            return f"dtype[{c}] {a.dtype} != {b.dtype}"
        if a.dtype.kind == "f":
            af, bf = a.to_numpy(float), b.to_numpy(float)
            if not np.allclose(af, bf, rtol=1e-9, atol=1e-12, equal_nan=True):
                return f"values[{c}]"
        elif not a.astype(str).equals(b.astype(str)):
            return f"values[{c}]"
    return None


def ranking_metrics(recs: dict[int, list[int]], truth: dict[int, list[int]],
                    k: int) -> dict[str, float]:
    """MAP, precision@k and NDCG@k with ``mllib.RankingMetrics`` semantics
    over users that have a non-empty recommendation list; users without
    truth score 0."""
    aps, pks, ndcgs = [], [], []
    discount = 1.0 / np.log2(np.arange(2, max(k, 1) + 2))
    for user, preds in recs.items():
        if not preds:
            continue
        tset = set(truth.get(user, ()))
        hits = np.fromiter((p in tset for p in preds), bool, len(preds))
        if not tset:
            aps.append(0.0), pks.append(0.0), ndcgs.append(0.0)
            continue
        cum = np.cumsum(hits)
        ranks = np.arange(1, len(preds) + 1)
        aps.append(float(np.sum(cum[hits] / ranks[hits])) / len(tset))
        pks.append(float(hits[:k].sum()) / k)
        dcg = float(np.sum(discount[:min(k, len(preds))][hits[:k]]))
        idcg = float(np.sum(discount[:min(len(tset), k)]))
        ndcgs.append(dcg / idcg)
    n = len(aps)
    return {"map": float(np.mean(aps)) if n else 0.0,
            "precision_at_k": float(np.mean(pks)) if n else 0.0,
            "ndcg_at_k": float(np.mean(ndcgs)) if n else 0.0,
            "n_users": n}


def rmse(label: np.ndarray, pred: np.ndarray) -> float:
    err = pred.astype(np.float32) - label.astype(np.float32)
    return math.sqrt(float(np.mean(err.astype(np.float64) ** 2)))


def metrics_mismatch(engine: dict, ref: dict) -> str | None:
    """Engine metrics are rounded to 6 decimals; RMSE is float arithmetic."""
    for key in ("map", "precision_at_k", "ndcg_at_k"):
        if abs(engine[key] - ref[key]) > 1e-6:
            return f"{key} {engine[key]} != {ref[key]}"
    if engine["n_users"] != ref["n_users"]:
        return f"n_users {engine['n_users']} != {ref['n_users']}"
    if not math.isclose(engine["rmse"], ref["rmse"], rel_tol=1e-5):
        return f"rmse {engine['rmse']} != {ref['rmse']}"
    return None
