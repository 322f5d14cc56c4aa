"""Correctness rule and sample statistics shared by every workload.

``mismatch`` is the oracle-parity rule of the repository's test suite:
same column names, same row count, rows compared after sorting by all
columns, floats equal within 1e-9 absolute plus 1e-9 relative, every
other type exactly equal.
"""

from __future__ import annotations

import math

import pandas as pd

TAIL_MIN_BEYOND = 10


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` matches ``want`` under the parity rule, else a
    one-line description of the first difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} vs {len(want)}"
    got, want = _normalize(got), _normalize(want)
    for c in got.columns:
        a, b = got[c], want[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            a, b = a.astype("float64"), b.astype("float64")
            ok = (a.isna() & b.isna()) | ((a - b).abs() <= 1e-9 + 1e-9 * b.abs())
        else:
            ok = (a == b) | (a.isna() & b.isna())
        if not ok.all():
            i = int((~ok).values.argmax())
            return f"{c}: {int((~ok).sum())} values differ, first {a.iloc[i]!r} vs {b.iloc[i]!r}"
    return None


def gmean(values: list[float]) -> float:
    """Geometric mean of positive values."""
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(values: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile p whose nearest-rank value still has
    at least ``TAIL_MIN_BEYOND`` samples above it: returns (p, value),
    or None when there are too few samples for any percentile."""
    s = sorted(values)
    n = len(s)
    if n <= TAIL_MIN_BEYOND:
        return None
    for p in range(99, 0, -1):
        rank = math.ceil(p * n / 100)
        if rank <= n - TAIL_MIN_BEYOND:
            return p, s[rank - 1]
    return None
