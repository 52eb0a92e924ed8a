"""Every correctness check of the benchmark rejects a deliberately wrong
output at toy size, so that none of them passes vacuously.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE.parent.parent)]

import checks  # noqa: E402


# -- cashflow_forecast -----------------------------------------------------
def _series(n=4, days=487, seed=0):
    rng = np.random.default_rng(seed)
    return {i: (1 + i % 4, rng.normal(0, 100, days).round(2).astype(np.float32)) for i in range(n)}


def test_series_match_rejects_a_changed_value_and_a_missing_series():
    want = _series()
    got = {i: (s, v.copy()) for i, (s, v) in want.items()}
    assert checks.series_match(got, want) == []
    got[2][1][100] += 0.01
    assert checks.series_match(got, want)
    del got[2]
    assert checks.series_match(got, want)


def _prepared(n=3, days=487, seed=1):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        raw = rng.normal(0, 1, days)
        scaled = ((raw - raw.mean()) / raw.std()).round(3).astype(np.float32)
        x = scaled[-(365 + 92):-92]
        y = scaled[-92:]
        trend = (10.0 + 0.5 * np.arange(92)).astype(np.float32)
        rows.append({
            "primaryaccountholder": i,
            "balance_detrend_1MW_scaled": scaled,
            "std": 1.0,
            "X": x.copy(),
            "y": y.copy(),
            "trend_next_3months_1MW": trend,
        })
    return pd.DataFrame(rows)


def test_preprocessed_shape_rejects_a_dropped_value_and_a_wrong_label():
    df = _prepared()
    assert checks.preprocessed_shape(df) == []
    short = df.copy()
    short.at[0, "X"] = df.at[0, "X"][1:]
    assert checks.preprocessed_shape(short)
    shifted = df.copy()
    shifted.at[1, "y"] = df.at[1, "y"] + 0.01
    assert checks.preprocessed_shape(shifted)


def test_scaled_moments_reject_an_unscaled_series():
    df = _prepared()
    assert checks.scaled_moments(df) == []
    bad = df.copy()
    bad.at[2, "balance_detrend_1MW_scaled"] = df.at[2, "balance_detrend_1MW_scaled"] * 1.1
    assert checks.scaled_moments(bad)
    # a degenerate series (std = 0) is not held to the moments
    flat = df.copy()
    flat.at[0, "std"] = 0.0
    flat.at[0, "balance_detrend_1MW_scaled"] = np.zeros(487, np.float32)
    assert checks.scaled_moments(flat) == []


def test_constant_step_rejects_a_bent_trend():
    trends = list(_prepared()["trend_next_3months_1MW"])
    assert checks.constant_step(trends) == []
    trends[1] = trends[1].copy()
    trends[1][50] += 0.5
    assert checks.constant_step(trends)


def test_predictions_match_rejects_a_perturbed_prediction():
    rng = np.random.default_rng(2)
    want = rng.normal(size=(5, 92)).astype(np.float32)
    assert checks.predictions_match(want.copy(), want) == []
    got = want.copy()
    got[3, 7] += 1e-3
    assert checks.predictions_match(got, want)
    assert checks.predictions_match(want[:4], want)


def _scored(n=6, seed=3):
    rng = np.random.default_rng(seed)
    balance = [rng.normal(0, 100, 487) for _ in range(n)]
    pred = [b[-92:] + rng.normal(0, 30, 92) for b in balance]
    return pd.DataFrame({"balance": balance, "y_pred_rescaled_retrended": pred})


def test_r2_matches_rejects_a_wrong_r2_and_a_dropped_series():
    scored = _scored()
    good = checks.r2_reference(scored)
    assert checks.r2_matches(dict(good), scored) == []
    assert checks.r2_matches({**good, "r2_3month": good["r2_3month"] + 1e-4}, scored)
    assert checks.r2_matches({**good, "n_series": good["n_series"] - 1}, scored)


def test_r2_reference_is_mean_of_per_series_r2():
    scored = _scored()
    r2 = []
    for b, p in zip(scored["balance"], scored["y_pred_rescaled_retrended"]):
        t = b[-92:]
        r2.append(1 - ((t - p) ** 2).sum() / ((t - t.mean()) ** 2).sum())
    assert checks.r2_reference(scored)["r2_3month"] == pytest.approx(np.mean(r2), abs=1e-6)


def test_loss_falls_rejects_a_rising_loss():
    assert checks.loss_falls([0.9, 0.8]) == []
    assert checks.loss_falls([0.8, 0.9])
    assert checks.loss_falls([0.8])


# -- ledger_commits --------------------------------------------------------
def _ledger():
    return pd.DataFrame({
        "account": np.repeat(np.arange(5, dtype=np.int64), 3),
        "day": np.tile(np.arange(3, dtype=np.int32), 5),
        "balance": np.round(np.linspace(-50, 50, 15), 2),
    })


def test_summary_rejects_a_dropped_row_and_a_wrong_sum():
    rows = _ledger()
    want = checks.ledger_summary(rows)
    assert checks.summary_matches("t", want, want) == []
    assert checks.summary_matches("t", checks.ledger_summary(rows.iloc[1:]), want)
    moved = rows.copy()
    moved.loc[4, "balance"] += 0.01
    assert checks.summary_matches("t", checks.ledger_summary(moved), want)
    # same count and sum, another key
    rekeyed = rows.copy()
    rekeyed.loc[0, "day"] = 9
    assert checks.summary_matches("t", checks.ledger_summary(rekeyed), want)


def test_feed_matches_rejects_a_dropped_change_and_a_wrong_type():
    feed = _ledger().assign(_change_type="insert")
    assert checks.feed_matches("f", feed.sample(frac=1, random_state=0), feed) == []
    assert checks.feed_matches("f", feed.iloc[1:], feed)
    typed = feed.copy()
    typed.loc[2, "_change_type"] = "delete"
    assert checks.feed_matches("f", typed, feed)


def test_net_changes_folds_an_update_either_way():
    old = pd.DataFrame({"account": [1], "day": [0], "balance": [5.0]})
    new = old.assign(balance=7.5)
    as_update = pd.concat([
        old.assign(_change_type="update_preimage"),
        new.assign(_change_type="update_postimage"),
    ])
    as_pair = pd.concat([
        old.assign(_change_type="delete"), new.assign(_change_type="insert"),
    ])
    assert checks.feed_matches(
        "n", checks.net_changes(as_update), checks.net_changes(as_pair)
    ) == []
    only_insert = new.assign(_change_type="insert")
    assert checks.feed_matches(
        "n", checks.net_changes(only_insert), checks.net_changes(as_pair)
    )


# -- query_mix -------------------------------------------------------------
def test_frames_match_is_order_insensitive_and_rejects_wrong_rows():
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5], "s": ["a", "b", "c"]})
    got = want.iloc[::-1][["v", "s", "k"]].reset_index(drop=True)
    assert checks.frames_match("q", got, want) == []
    assert checks.frames_match("q", got.iloc[1:], want)
    wrong = got.copy()
    wrong.loc[0, "v"] = 9.0
    assert checks.frames_match("q", wrong, want)
