"""Correctness checks, run outside the timed region.

* Registry ops with a DuckDB twin in ``ORACLES``: same row count, same
  column names, and the same rows order-insensitively, with numbers
  equal within a relative tolerance (float sums are reordered by the
  shuffle, more so on amplified inputs).
* Registry ops without a twin: the expected columns and a non-empty
  result. This is a weaker check; the run record says which ops got it.
* Pipeline state: row counts and last-wins titles from the input
  generator's model, the 15-member cast cap, and (for the rerun of a
  batch) equality with the state it started from, ignoring
  ``created_at`` (which is ``current_timestamp()``).
"""

from __future__ import annotations

import decimal
import math
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench.gen import TOP_N_CAST

RTOL = 1e-6


def duckdb_views(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')"
        )
    return con


def _column(s: pd.Series) -> pd.Series:
    if isinstance(s.dtype, pd.DatetimeTZDtype):
        return s.dt.tz_convert("UTC").dt.tz_localize(None)
    first = s.dropna().head(1).tolist()
    if first and isinstance(first[0], decimal.Decimal):
        return s.map(lambda v: None if v is None else float(v)).astype("float64")
    return s


def _render(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "None"
    if isinstance(v, (float, np.floating)):
        return f"{float(v):.6g}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_render(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_render(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def _text(s: pd.Series) -> pd.Series:
    """Comparable text of a non-numeric column (nested values rendered
    element by element, floats inside them to 6 significant digits)."""
    first = s.dropna().head(1).tolist()
    if first and isinstance(first[0], (list, tuple, np.ndarray, dict)):
        return s.map(_render)
    return s.astype(object).where(s.notna(), "None").astype(str)


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = pd.DataFrame({c: _column(df[c]) for c in df.columns})
    key = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            key[c] = s.round(6)
        elif pd.api.types.is_numeric_dtype(s) or pd.api.types.is_datetime64_any_dtype(s):
            key[c] = s
        else:
            key[c] = _text(s)
    order = pd.DataFrame(key).sort_values(list(key), kind="stable").index
    return df.loc[order].reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a one-line reason."""
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    g, w = _canonical(got), _canonical(want)
    for c in g.columns:
        a, b = g[c], w[c]
        if pd.api.types.is_numeric_dtype(a) and pd.api.types.is_numeric_dtype(b):
            x, y = a.to_numpy(dtype="float64"), b.to_numpy(dtype="float64")
            close = np.isclose(x, y, rtol=RTOL, atol=1e-9, equal_nan=True)
        else:
            x, y = _text(a).to_numpy(), _text(b).to_numpy()
            close = x == y
        if not close.all():
            bad = int(np.argmax(~close))
            return f"column {c} row {bad}: {x[bad]!r} != {y[bad]!r}"
    return None


def check_schema(got: pd.DataFrame, columns: tuple[str, ...]) -> str | None:
    if list(got.columns) != list(columns):
        return f"columns {list(got.columns)} != {list(columns)}"
    if got.empty:
        return "empty result"
    return None


# ---------------------------------------------------------------------------
# pipeline state
# ---------------------------------------------------------------------------

STATE_TABLES = ("movies", "genres", "movie_genre", "actors", "movie_actor")


def read_state(path: str) -> dict[str, pd.DataFrame]:
    return {t: pq.read_table(os.path.join(path, t)).to_pandas() for t in STATE_TABLES}


def check_state(state: dict[str, pd.DataFrame], expect: dict) -> str | None:
    for t in STATE_TABLES:
        if len(state[t]) != expect[t]:
            return f"{t}: {len(state[t])} rows, expected {expect[t]}"
    titles = dict(zip(state["movies"]["tmdb_movie_id"], state["movies"]["title"]))
    if titles != expect["titles"]:
        wrong = next(k for k, v in expect["titles"].items() if titles.get(k) != v)
        return f"movie {wrong}: title {titles.get(wrong)!r}, expected {expect['titles'][wrong]!r}"
    per_movie = state["movie_actor"].groupby("tmdb_movie_id").size()
    if per_movie.max() > TOP_N_CAST:
        return f"cast cap broken: {int(per_movie.max())} members"
    return None


def check_fixed_point(before: dict[str, pd.DataFrame], after: dict[str, pd.DataFrame]) -> str | None:
    for t in STATE_TABLES:
        a = before[t].drop(columns=["created_at"], errors="ignore")
        b = after[t].drop(columns=["created_at"], errors="ignore")
        reason = compare(b, a)
        if reason:
            return f"rerun changed {t}: {reason}"
    return None
