"""Pure-Python references the program's outputs are checked against.

- ``utc_micros``: FlightTime from (date, IATA, HHmm) through `zoneinfo`.
- ``daily_expected`` / ``compare_pairs``: what the partitioned table must
  hold after a sequence of `run_daily` loads. Each day's final rows were
  windowed together with the neighbouring day that was loaded with them
  (the pipeline re-windows yesterday + today), so the reference windows
  exactly those two days.
- ``compare_query``: a query's rows against its DuckDB oracle rows.

Rows tied on (Origin, FlightTime) may come out in any order, so
FlightTime_next / diff_next are compared as multisets, and
Reporting_Airline_next only where the successor's time is unique in its
origin.
"""

from __future__ import annotations

import datetime as dt
import zoneinfo
from collections.abc import Sequence

import numpy as np
import pandas as pd

from perfbench.gen import FlightRows

NULL = np.iinfo(np.int64).min
_EPOCH = dt.datetime(1970, 1, 1)
_offsets: dict[tuple[str, dt.date], int] = {}


def _offset_us(tz: str, date: dt.date) -> int:
    key = (tz, date)
    if key not in _offsets:
        z = zoneinfo.ZoneInfo(tz)
        a = dt.datetime(date.year, date.month, date.day, 0, 0, tzinfo=z).utcoffset()
        b = dt.datetime(date.year, date.month, date.day, 23, 59, tzinfo=z).utcoffset()
        if a != b:
            raise ValueError(f"{tz} changes offset on {date}; the generator must avoid it")
        _offsets[key] = int(a.total_seconds()) * 1_000_000
    return _offsets[key]


def utc_micros(rows: FlightRows, tz: dict[str, str]) -> np.ndarray:
    """Epoch micros of each row's UTC FlightTime, NULL where the airport is
    unknown or HHmm is NULL / not a wall-clock time (2400)."""
    day_us = int((dt.datetime.combine(rows.date, dt.time()) - _EPOCH).total_seconds()) * 1_000_000
    h, m = rows.hhmm // 100, rows.hhmm % 100
    valid = (rows.hhmm >= 0) & (h < 24) & (m < 60)
    offs = np.array(
        [_offset_us(tz[o], rows.date) if o in tz else NULL for o in rows.origin.tolist()],
        dtype=np.int64,
    )
    valid &= offs != NULL
    local = day_us + (h * 3600 + m * 60) * 1_000_000
    return np.where(valid, local - np.where(valid, offs, 0), NULL)


def _lead(
    origin: np.ndarray, t: np.ndarray, airline: np.ndarray, keep: np.ndarray | None = None
) -> pd.DataFrame:
    """Per-origin lead over rows ordered by time (NULLs first); returns the
    rows selected by `keep` (all rows by default)."""
    codes, oid = np.unique(origin.astype(str), return_inverse=True)
    order = np.lexsort((t, oid))
    oid, t, airline = oid[order], t[order], airline[order]
    keep = np.ones(len(t), dtype=bool) if keep is None else keep[order]
    same = np.zeros(len(t), dtype=bool)
    same[:-1] = oid[:-1] == oid[1:]
    tn = np.full(len(t), NULL, dtype=np.int64)
    tn[:-1] = np.where(same[:-1], t[1:], NULL)
    an = np.full(len(t), None, dtype=object)
    an[:-1] = np.where(same[:-1], airline[1:], None)
    both = (t != NULL) & (tn != NULL)
    diff = np.where(both, tn // 1_000_000 - np.where(both, t, 0) // 1_000_000, NULL)
    # successor unique: no other row of the origin shares the successor time
    counts = pd.Series(1, index=pd.MultiIndex.from_arrays([oid, t])).groupby(level=[0, 1]).size()
    succ_n = np.ones(len(t), dtype=np.int64)
    has_next = tn != NULL
    if has_next.any():
        succ_n[has_next] = counts.reindex(
            pd.MultiIndex.from_arrays([oid[has_next], tn[has_next]])
        ).to_numpy()
    out = pd.DataFrame(
        {
            "Origin": codes[oid],
            "t": t,
            "tn": tn,
            "diff": diff,
            "airline_next": an,
            "succ_unique": has_next & (tn > t) & (t != NULL) & (succ_n == 1),
        }
    )
    return out[keep].reset_index(drop=True)


def daily_expected(loads: Sequence[tuple[FlightRows, np.ndarray]]) -> dict[dt.date, pd.DataFrame]:
    """Final rows per partition after loading `loads` in order; each entry
    is (rows, utc micros) of one day file."""
    by_date = {rows.date: (rows, t) for rows, t in loads}
    order = [rows.date for rows, _ in loads]
    out = {}
    for i, d in enumerate(order):
        nxt = d + dt.timedelta(days=1)
        if nxt in by_date and order.index(nxt) > i:
            window = [d, nxt]  # re-windowed when the next day was loaded
        else:
            prev = d - dt.timedelta(days=1)
            window = [prev, d] if prev in by_date and order.index(prev) < i else [d]
        origin = np.concatenate([by_date[w][0].origin for w in window])
        t = np.concatenate([by_date[w][1] for w in window])
        airline = np.concatenate([by_date[w][0].airline for w in window])
        is_d = np.concatenate([np.full(len(by_date[w][1]), w == d) for w in window])
        out[d] = _lead(origin, t, airline, keep=is_d)
    return out


def _sorted(df: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    return df[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)


def compare_pairs(expected: pd.DataFrame, actual: pd.DataFrame) -> int:
    """Number of wrong rows: multiset difference on (Origin, t, tn, diff),
    plus airline_next mismatches where the successor is unique."""
    cols = ["Origin", "t", "tn", "diff"]
    e, a = _sorted(expected, cols), _sorted(actual, cols)
    if len(e) != len(a):
        return max(len(e), len(a))
    bad = int((e.to_numpy() != a.to_numpy()).any(axis=1).sum())
    ek = expected[expected["succ_unique"]].set_index(["Origin", "t"])["airline_next"]
    adv = actual[(actual["tn"] != NULL) & (actual["t"] != NULL) & (actual["tn"] > actual["t"])]
    ak = adv.set_index(["Origin", "t"])["airline_next"]
    ak = ak[~ak.index.duplicated(keep=False)]
    joined = ak.reindex(ek.index)
    return bad + int((joined.to_numpy() != ek.to_numpy()).sum())


# -- query_mix ---------------------------------------------------------------


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Columns by name; times as epoch micros; rows in a canonical order."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        col = df[c]
        if col.dtype.kind == "M":
            df[c] = col.dt.tz_localize(None) if col.dt.tz is not None else col
            df[c] = df[c].astype("datetime64[us]").astype("int64").where(col.notna(), None)
        elif col.dtype == object:
            first = col.dropna()
            if len(first) and isinstance(first.iloc[0], (dt.date, dt.datetime)):
                conv = pd.to_datetime(col).astype("datetime64[us]")
                df[c] = conv.astype("int64").where(col.notna(), None)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare_query(actual: pd.DataFrame, oracle: pd.DataFrame) -> str | None:
    """None when equal (floats to 1e-9 relative), else what differs."""
    if sorted(actual.columns) != sorted(oracle.columns):
        return f"columns {sorted(actual.columns)} vs {sorted(oracle.columns)}"
    if len(actual) != len(oracle):
        return f"{len(actual)} rows vs {len(oracle)}"
    a, o = _normalize(actual), _normalize(oracle)
    for c in a.columns:
        if a[c].astype(str).equals(o[c].astype(str)):
            continue
        try:
            fa = pd.to_numeric(a[c], errors="raise").astype(float)
            fo = pd.to_numeric(o[c], errors="raise").astype(float)
        except (ValueError, TypeError):
            return f"column {c} differs"
        if not np.allclose(fa, fo, rtol=1e-9, atol=1e-12, equal_nan=True):
            return f"column {c} differs numerically"
    return None
