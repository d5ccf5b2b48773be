"""Output checks. Each raises ``CheckFailed`` on a wrong output and
returns a digest that must repeat across the ops of one run."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd


class CheckFailed(AssertionError):
    pass


def _require(ok: bool, msg: str) -> None:
    if not ok:
        raise CheckFailed(msg)


def _digest(*parts) -> str:
    return hashlib.sha256(repr(parts).encode()).hexdigest()[:16]


def check_leaderboard(board: pd.DataFrame, models: set[str]) -> None:
    """The expected model set, ranks a permutation of 1..k, and finite
    positive ``mean_rmse`` non-decreasing in rank."""
    _require(set(board["model"]) == models, f"models {sorted(board['model'])} != {sorted(models)}")
    ranks = sorted(int(r) for r in board["rank"])
    _require(ranks == list(range(1, len(board) + 1)), f"ranks {ranks} are not 1..{len(board)}")
    rmse = board.sort_values("rank")["mean_rmse"].to_numpy(dtype=float)
    _require(bool(np.isfinite(rmse).all() and (rmse > 0).all()), f"mean_rmse not finite positive: {rmse}")
    _require(bool((np.diff(rmse) >= 0).all()), f"mean_rmse decreases with rank: {rmse}")


def check_forecast(pred: pd.DataFrame, test_ts: dict[str, list[pd.Timestamp]]) -> None:
    """Exactly the test timestamps for every series, finite ``yhat``,
    and ``yhat_lower <= yhat <= yhat_upper`` where intervals exist."""
    got = {
        str(sid): sorted(pd.Timestamp(t) for t in g["ts"]) for sid, g in pred.groupby("series_id")
    }
    _require(set(got) == set(test_ts), f"series {sorted(got)[:5]} != expected {len(test_ts)} series")
    for sid, want in test_ts.items():
        _require(got[sid] == sorted(want), f"series {sid}: forecast rows {got[sid]} != test rows {want}")
    yhat = pred["yhat"].to_numpy(dtype=float)
    _require(bool(np.isfinite(yhat).all()), "non-finite yhat")
    if "yhat_lower" in pred.columns:
        lo = pred["yhat_lower"].to_numpy(dtype=float)
        hi = pred["yhat_upper"].to_numpy(dtype=float)
        _require(bool(np.isfinite(lo).all() and np.isfinite(hi).all()), "non-finite interval")
        _require(bool(((lo <= yhat) & (yhat <= hi)).all()), "yhat outside [yhat_lower, yhat_upper]")


def autots_digest(board: pd.DataFrame, pred: pd.DataFrame) -> str:
    ranked = board.sort_values("rank")
    ordered = pred.sort_values(["series_id", "ts"])
    return _digest(
        list(ranked["model"]),
        np.round(ranked["mean_rmse"].to_numpy(dtype=float), 6).tolist(),
        np.round(ordered["yhat"].to_numpy(dtype=float), 6).tolist(),
    )


def check_curated(out: pd.DataFrame, n_input_docs: int) -> str:
    """Non-empty; each (``doc_id``, copy number) unique; every
    ``doc_id`` one of the input's. Mixture up-sampling emits numbered
    copies of a document, so the copy number is part of the key."""
    _require(len(out) > 0, "curated output is empty")
    copy = out["copy_n"] if "copy_n" in out.columns else pd.Series(1, index=out.index)
    keys = pd.DataFrame({"doc_id": out["doc_id"].astype("int64"), "copy": copy.astype("int64")})
    _require(not keys.duplicated().any(), "duplicate (doc_id, copy) rows")
    ids = keys["doc_id"]
    _require(bool(((ids >= 0) & (ids < n_input_docs)).all()), "doc_id not in the input")
    ordered = keys.sort_values(["doc_id", "copy"])
    return _digest(len(keys), ordered.to_numpy().tobytes())
