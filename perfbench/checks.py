"""Correctness checks, kept apart from Spark so that each can be shown
to reject a wrong output at toy size (see ``tests/test_checks.py``).

Each check returns a list of problems; an empty list means it passed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

X_DAYS = 365
Y_DAYS = 92


def _arr(v) -> np.ndarray:
    return np.asarray(v, dtype=np.float64)


# -- cashflow_forecast -----------------------------------------------------
def series_match(got: dict, want: dict) -> list[str]:
    """Generated series equal their independent replay, value for value:
    ``{id: (signal_type, values)}`` on both sides."""
    if set(got) != set(want):
        return [f"series ids differ: {sorted(set(got) ^ set(want))[:5]}"]
    bad = [
        i for i in got
        if got[i][0] != want[i][0]
        or len(got[i][1]) != len(want[i][1])
        or not np.array_equal(
            np.asarray(got[i][1], np.float32), np.asarray(want[i][1], np.float32)
        )
    ]
    return [f"generated series differ from the replay: ids {bad[:5]}"] if bad else []


def preprocessed_shape(df: pd.DataFrame) -> list[str]:
    """X has 365 values, y has 92, and X||y is the tail of the scaled series."""
    problems = []
    for row in df.itertuples():
        x, y = _arr(row.X), _arr(row.y)
        scaled = _arr(row.balance_detrend_1MW_scaled)
        if len(x) != X_DAYS or len(y) != Y_DAYS:
            problems.append(f"series {row.primaryaccountholder}: |X|={len(x)}, |y|={len(y)}")
        elif not np.allclose(
            np.concatenate([x, y]), scaled[-(X_DAYS + Y_DAYS):], rtol=0, atol=1e-6,
            equal_nan=True,
        ):
            problems.append(f"series {row.primaryaccountholder}: X||y is not the scaled tail")
        if len(problems) >= 5:
            break
    return problems


def scaled_moments(df: pd.DataFrame, tol: float = 0.01) -> list[str]:
    """The scaled series has mean ~0 and std ~1 wherever std > 0."""
    problems = []
    for row in df.itertuples():
        if not row.std > 0:
            continue
        s = _arr(row.balance_detrend_1MW_scaled)
        if abs(s.mean()) > tol or abs(s.std() - 1.0) > tol:
            problems.append(
                f"series {row.primaryaccountholder}: scaled mean {s.mean():.4f}, "
                f"std {s.std():.4f}"
            )
        if len(problems) >= 5:
            break
    return problems


def constant_step(trends) -> list[str]:
    """Each extrapolated trend is an arithmetic sequence."""
    problems = []
    for i, t in enumerate(trends):
        t = _arr(t)
        step = np.diff(t)
        scale = max(1.0, float(np.abs(t).max()))
        if np.abs(step - step.mean()).max() > 1e-5 * scale:
            problems.append(f"trend {i}: step varies by {np.ptp(step):.3g}")
        if len(problems) >= 5:
            break
    return problems


def predictions_match(got: np.ndarray, want: np.ndarray) -> list[str]:
    """Scored predictions equal the saved model's own predictions."""
    if got.shape != want.shape:
        return [f"prediction shape {got.shape} != {want.shape}"]
    if not np.allclose(got, want, rtol=1e-5, atol=1e-5):
        return [f"predictions differ from the model by {np.abs(got - want).max():.3g}"]
    return []


def _r2_ppm(truth: np.ndarray, pred: np.ndarray) -> float | None:
    mean_t = truth.sum() / len(truth)
    sst = float(((truth - mean_t) ** 2).sum())
    if sst == 0.0:
        return None
    sse = float(((truth - pred) ** 2).sum())
    return float(np.floor((1.0 - sse / sst) * 1e6 + 0.5))


def r2_reference(df: pd.DataFrame) -> dict:
    """NumPy R² at 3 months and 1 month, quantized per series to parts
    per million as ``r2_metrics`` documents."""
    out = {"n_series": len(df)}
    for key, days in (("r2_3month", Y_DAYS), ("r2_1month", 31)):
        ppm = []
        for truth, pred in zip(df["balance"], df["y_pred_rescaled_retrended"]):
            t = _arr(truth)[-Y_DAYS:][:days]
            p = _arr(pred)[:days]
            v = _r2_ppm(t, p)
            if v is not None:
                ppm.append(v)
        out[key] = sum(ppm) / (len(ppm) * 1e6) if ppm else None
    return out


def r2_matches(got: dict, scored: pd.DataFrame) -> list[str]:
    """``r2_metrics`` equals a NumPy recomputation over the scored frame.
    Per-series ppm may round the other way in the last bit, so the mean
    may move by one ppm."""
    want = r2_reference(scored)
    problems = []
    if got["n_series"] != want["n_series"]:
        problems.append(f"n_series {got['n_series']} != {want['n_series']}")
    for key in ("r2_3month", "r2_1month"):
        if got[key] is None or want[key] is None:
            if got[key] != want[key]:
                problems.append(f"{key}: {got[key]} != {want[key]}")
        elif abs(got[key] - want[key]) > 1.5e-6:
            problems.append(f"{key}: {got[key]} != {want[key]}")
    return problems


def loss_falls(losses: list[float]) -> list[str]:
    if len(losses) < 2 or not losses[-1] < losses[0]:
        return [f"training loss does not fall: {losses}"]
    return []


# -- ledger_commits --------------------------------------------------------
KEY_MOD = 2_147_483_647


def ledger_summary(rows: pd.DataFrame) -> tuple[int, int, int]:
    """(count, sum of balance in cents, key hash) of a ledger frame with
    columns account, day, balance; the same three figures the Spark
    readers compute."""
    if len(rows) == 0:
        return 0, 0, 0
    cents = np.round(rows["balance"].to_numpy(np.float64) * 100).astype(np.int64)
    keys = (
        rows["account"].to_numpy(np.int64) * 1_000_003
        + rows["day"].to_numpy(np.int64)
    ) % KEY_MOD
    return len(rows), int(cents.sum()), int(keys.sum())


def summary_matches(label: str, got, want) -> list[str]:
    got = tuple(int(v or 0) for v in got)
    want = tuple(int(v) for v in want)
    if got != want:
        return [f"{label}: (count, cents, key hash) {got} != model {want}"]
    return []


def feed_matches(label: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Change rows equal the model's diff, as a multiset of
    (account, day, cents, change type)."""

    def bag(df: pd.DataFrame) -> list[tuple]:
        cents = np.round(df["balance"].to_numpy(np.float64) * 100).astype(np.int64)
        return sorted(
            zip(
                df["account"].astype(int), df["day"].astype(int),
                cents.tolist(), df["_change_type"].astype(str),
            )
        )

    g, w = bag(got), bag(want)
    if g != w:
        extra = sorted(set(g) ^ set(w))[:3]
        return [f"{label}: {len(g)} change rows != model's {len(w)}; e.g. {extra}"]
    return []


def net_changes(feed: pd.DataFrame) -> pd.DataFrame:
    """Fold a change feed to its net inserts and deletes. An update's
    pre-image counts as a delete and its post-image as an insert, so
    feeds that spell an update either way compare equal."""
    sign = feed["_change_type"].map(
        {"insert": 1, "update_postimage": 1, "delete": -1, "update_preimage": -1}
    )
    cents = np.round(feed["balance"].to_numpy(np.float64) * 100).astype(np.int64)
    net = (
        pd.DataFrame({
            "account": feed["account"].astype(np.int64),
            "day": feed["day"].astype(np.int64),
            "cents": cents, "n": sign,
        })
        .groupby(["account", "day", "cents"], as_index=False)["n"].sum()
    )
    net = net[net["n"] != 0]
    rows = net.loc[net.index.repeat(net["n"].abs())]
    return pd.DataFrame({
        "account": rows["account"].to_numpy(),
        "day": rows["day"].to_numpy(),
        "balance": rows["cents"].to_numpy() / 100.0,
        "_change_type": np.where(rows["n"].to_numpy() > 0, "insert", "delete"),
    })


# -- query_mix -------------------------------------------------------------
def frames_match(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Order-insensitive comparison after sorting columns by name: the
    rule of the repository's oracle harness (``tests/oracle_harness.py``)."""
    from tests.oracle_harness import _normalize

    got, want = _normalize(got), _normalize(want)
    if got.shape != want.shape:
        return [f"{name}: shape {got.shape} != oracle {want.shape}"]
    if list(got.columns) != list(want.columns):
        return [f"{name}: columns {list(got.columns)} != oracle {list(want.columns)}"]
    for c in got.columns:
        g, w = got[c].to_numpy(), want[c].to_numpy()
        both_na = pd.isna(g) & pd.isna(w)
        if np.issubdtype(g.dtype, np.floating):
            eq = np.isclose(g, w, rtol=0, atol=1e-9) | both_na
        else:
            eq = (g == w) | both_na
        if not np.all(eq):
            bad = np.where(~eq)[0][:3].tolist()
            return [f"{name}: column {c!r} differs at rows {bad}"]
    return []
