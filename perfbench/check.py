"""Order-insensitive comparison of a collected result with its reference.

Columns are matched by name.  Numbers compare as float64 within
``REL_TOL`` relative or ``ABS_TOL`` absolute difference, so an integer
column equals a float column holding the same values; missing values
(None, NaN, NaT) equal only each other.  Other values compare by their
string form after timestamps are brought to microseconds.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

REL_TOL = 1e-9
ABS_TOL = 1e-9


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_bool_dtype(s) or pd.api.types.is_numeric_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype("int64").astype("float64")
            df.loc[s.isna(), c] = np.nan
        else:
            df[c] = [None if v is None or (isinstance(v, float) and math.isnan(v))
                     else str(v) for v in s]
    return df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)


def compare_frames(got: pd.DataFrame, expected: pd.DataFrame,
                   name: str = "") -> list[str]:
    """Return mismatch descriptions; an empty list means equal."""
    if sorted(got.columns) != sorted(expected.columns):
        return [f"{name}: columns {sorted(got.columns)} vs "
                f"{sorted(expected.columns)}"]
    if len(got) != len(expected):
        return [f"{name}: {len(got)} rows vs {len(expected)}"]
    g, e = _normalize(got), _normalize(expected)
    errors = []
    for c in g.columns:
        a, b = g[c], e[c]
        if a.dtype == "float64" and b.dtype == "float64":
            av, bv = a.to_numpy(), b.to_numpy()
            both_nan = np.isnan(av) & np.isnan(bv)
            close = np.abs(av - bv) <= np.maximum(ABS_TOL, REL_TOL * np.abs(bv))
            ok = both_nan | close
        else:
            ok = np.array([x == y for x, y in zip(a, b)])
        if not ok.all():
            i = int(np.argmin(ok))
            errors.append(f"{name}: column {c!r} differs in {int((~ok).sum())}"
                          f" rows, first {a.iloc[i]!r} vs {b.iloc[i]!r}")
    return errors
