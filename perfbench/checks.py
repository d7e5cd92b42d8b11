"""Output checks: compare what Spark returned with the pure-Python model.

Each function returns a list of readable problems; an empty list means the
output is correct.
"""

from __future__ import annotations

import datetime as dt
import math

import pandas as pd

MAX_REPORT = 5  # problems listed per check


def _cell(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None)
    if hasattr(v, "item") and type(v).__module__ == "numpy":
        return _cell(v.item())
    return v


def _date(v) -> dt.date | None:
    v = _cell(v)
    return v.date() if isinstance(v, dt.datetime) else v


def compare_l2(pdf: pd.DataFrame, expected: dict[tuple, tuple]) -> list[str]:
    """Compare an L2-shaped frame (the nine weather columns) with the
    model's PK -> (date, hour, timezone, temperature_c, load_ds) map."""
    problems: list[str] = []
    got: dict[tuple, tuple] = {}
    cols = ["ts", "latitude", "longitude", "source", "date", "hour", "timezone", "temperature_c", "load_ds"]
    for ts, lat, lon, src, date, hour, tz, temp, load_ds in pdf[cols].itertuples(index=False, name=None):
        key = (_cell(ts), _cell(lat), _cell(lon), _cell(src))
        if key in got:
            problems.append(f"duplicate key {key}")
        got[key] = (_date(date), _cell(hour), _cell(tz), _cell(temp), _date(load_ds))
    if len(got) != len(expected):
        problems.append(f"row count: got {len(got)} keys, expected {len(expected)}")
    for key, want in expected.items():
        have = got.get(key)
        if have != want:
            problems.append(f"key {key}: got {have}, expected {want}")
            if len(problems) >= MAX_REPORT:
                return problems
    for key in got.keys() - expected.keys():
        problems.append(f"unexpected key {key}")
        if len(problems) >= MAX_REPORT:
            break
    return problems


def compare_daily_means(pdf: pd.DataFrame, expected: dict[tuple, tuple]) -> list[str]:
    """Compare (latitude, longitude, date, mean_c, n) rows with the model's
    (latitude, longitude, date) -> (mean or None, count) map. Means agree
    to a relative 1e-9: Spark sums in a different order."""
    problems: list[str] = []
    got = {
        (_cell(lat), _cell(lon), _date(date)): (_cell(mean), _cell(n))
        for lat, lon, date, mean, n in pdf[["latitude", "longitude", "date", "mean_c", "n"]].itertuples(
            index=False, name=None
        )
    }
    if len(got) != len(expected):
        problems.append(f"group count: got {len(got)}, expected {len(expected)}")
    for key, (mean, n) in expected.items():
        have = got.get(key)
        ok = (
            have is not None
            and have[1] == n
            and (have[0] is None) == (mean is None)
            and (mean is None or math.isclose(have[0], mean, rel_tol=1e-9, abs_tol=1e-9))
        )
        if not ok:
            problems.append(f"group {key}: got {have}, expected {(mean, n)}")
            if len(problems) >= MAX_REPORT:
                break
    return problems

