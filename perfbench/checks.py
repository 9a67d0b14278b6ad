"""Output checks, on pandas frames, run outside every timed region.

Two kinds:

- stream sink vs batch: each streaming sink's final memory table against
  the batch ``build_topology`` node over the same generated lines, as the
  equivalence suite compares them (sentinel rows dropped, count windows
  restricted to complete buckets);
- registry query vs DuckDB oracle: the order-insensitive comparison of
  ``tests/conftest.py`` (dtype family, column set, row count, exact
  values after a full-row sort).

Each function returns ``None`` on a match or a one-line reason.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

SENTINEL_CHANNEL = "__sentinel__"
SENTINEL_USER = "-1"

# sink -> (columns compared, sentinel column or None, batch-side filter
# on n, float tolerance or None for exact)
SINKS: dict[str, tuple[tuple[str, ...] | None, str | None, int | None, float | None]] = {
    "sentimentStream": (None, None, None, None),
    "parsedStream": (("window_start_s", "channel", "user", "text"), "channel", None, None),
    "entityStream": (None, None, None, None),
    "topicStream": (("window_start_s", "key", "count"), "key", None, None),
    "entityOpinionStream": (("window_start_s", "key", "value", "moodType"), "key", None, None),
    "channelMoodStream": (("window_start_s", "key", "value", "moodType"), "key", None, None),
    "toxicUserStream": (("key", "bucket", "value", "n"), "key", 10, 1e-9),
    "toxicUserStreamIntent": (("key", "bucket", "value", "n"), "key", 10, 1e-9),
}


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sorted columns, numeric dtypes widened, rows sorted by every column
    (the conftest normalization)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        dt = df[c].dtype
        if pd.api.types.is_integer_dtype(dt):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(dt):
            df[c] = df[c].astype("float64")
        elif dt == object:
            try:
                df[c] = pd.to_numeric(df[c])
                if pd.api.types.is_integer_dtype(df[c].dtype):
                    df[c] = df[c].astype("int64")
                else:
                    df[c] = df[c].astype("float64")
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def _dtype_family(dt) -> str:
    if pd.api.types.is_bool_dtype(dt):
        return "bool"
    if pd.api.types.is_integer_dtype(dt):
        return "int"
    if pd.api.types.is_float_dtype(dt):
        return "float"
    return "other"


def frame_mismatch(got: pd.DataFrame, want: pd.DataFrame, rtol: float | None = None) -> str | None:
    """Order-insensitive equality of two frames with the same columns."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns differ: got={sorted(got.columns)} want={sorted(want.columns)}"
    if len(got) != len(want):
        return f"row count differs: got={len(got)} want={len(want)}"
    a, b = normalize(got), normalize(want)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if np.issubdtype(av.dtype, np.floating) and np.issubdtype(bv.dtype, np.floating):
            same = np.isclose(av, bv, rtol=rtol, atol=0.0) if rtol else av == bv
            mism = ~(same | (np.isnan(av) & np.isnan(bv)))
        else:
            mism = av != bv
        if mism.any():
            i = int(np.argmax(mism))
            return (f"column {c!r}: {int(mism.sum())}/{len(av)} rows differ, "
                    f"first got={av[i]!r} want={bv[i]!r}")
    return None


def sink_mismatch(sink: str, got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Compare one streaming sink's output with its batch node."""
    cols, sentinel_col, full_n, rtol = SINKS[sink]
    if full_n is not None:
        want = want[want["n"] == full_n]
    if sentinel_col is not None:
        bad = {SENTINEL_CHANNEL, SENTINEL_USER}
        got = got[~got[sentinel_col].astype(str).isin(bad)]
        want = want[~want[sentinel_col].astype(str).isin(bad)]
    cols = list(cols) if cols is not None else list(want.columns)
    missing = [c for c in cols if c not in got.columns]
    if missing:
        return f"stream output lacks columns {missing}"
    return frame_mismatch(got[cols], want[cols], rtol)


def oracle_mismatch(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """The registry's oracle comparison: raw dtype families agree, then
    the same column set, row count and exact values."""
    for c in sorted(set(spark_pdf.columns) & set(oracle_pdf.columns)):
        fa, fb = _dtype_family(spark_pdf[c].dtype), _dtype_family(oracle_pdf[c].dtype)
        if fa != fb:
            return f"dtype family differs in {c!r}: spark={fa} oracle={fb}"
    return frame_mismatch(spark_pdf, oracle_pdf)
