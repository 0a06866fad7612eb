"""Driver-side pandas references for the benchmark's output checks."""

from __future__ import annotations

import pandas as pd


def pipeline_flags(ev: pd.DataFrame, lags, zscore_window: int, threshold: float = 3.0):
    """``anomaly_pipeline``'s contract in pandas (the semantics
    ``tests/test_pandas_diff.py`` pins operator by operator):

    keep the first arrival per (series, ts); forward-fill, then zero-fill,
    the value in (ts, arrival) order; drop each series' first
    ``max(lags)`` rows, where a lag or a rolling feature is undefined; flag
    ``|z| > threshold`` against the past ``zscore_window`` rows (current
    row excluded, sample std, undefined or zero std -> no flag).

    Returns (row count, set of flagged (user_id, event_id)).
    """
    ev = ev.sort_values("event_id").drop_duplicates(["user_id", "ts"], keep="first")
    ev = ev.sort_values(["user_id", "ts", "event_id"]).reset_index(drop=True)
    ev["value"] = ev.groupby("user_id")["value"].ffill().fillna(0.0)
    pos = ev.groupby("user_id").cumcount()
    # lag n is undefined on the first n rows, a rolling sample std on
    # the first 2
    kept = ev[pos >= max(*lags, 2)].reset_index(drop=True)
    past = kept.groupby("user_id")["value"].shift(1)
    roll = past.groupby(kept["user_id"]).rolling(zscore_window, min_periods=1)
    mean = roll.mean().reset_index(level=0, drop=True).sort_index()
    std = roll.std(ddof=1).reset_index(level=0, drop=True).sort_index()
    z = (kept["value"] - mean) / std.where(std != 0)
    hit = (z.abs() > threshold).fillna(False).to_numpy()
    flagged = set(zip(kept["user_id"][hit].tolist(), kept["event_id"][hit].tolist()))
    return len(kept), flagged
