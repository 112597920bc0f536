"""Output checks: compare the program's rows against the registered DuckDB
oracle twins (``oracle_sql()``) over the same generated parquet tables."""

from __future__ import annotations

import datetime as dt
import decimal
import math

import duckdb
import pandas as pd

from inputs import TABLE_NAMES


def duck(tables_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{tables_dir}/{name}.parquet')"
        )
    return con


def _cell(v):
    """Engine-neutral scalar: timestamps as epoch milliseconds, numbers as
    float, missing as None."""
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return None
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return (v - dt.datetime(1970, 1, 1)) // dt.timedelta(milliseconds=1)
    if isinstance(v, (int, float, decimal.Decimal)) and not isinstance(v, bool):
        return float(v)
    if hasattr(v, "item"):  # numpy scalar
        return _cell(v.item())
    if hasattr(v, "tolist"):  # numpy array cell
        return tuple(_cell(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def _rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_cell(v) for v in r) for r in df[cols].itertuples(index=False, name=None)]

    def key(r):
        return tuple((x is None, f"{x:.9g}" if isinstance(x, float) else str(x)) for x in r)

    return sorted(rows, key=key)


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        # abs 1e-6: several oracles cut interpolated values to 6 dp
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows (order-insensitive, floats
    to 1e-9 relative or 1e-6 absolute); else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    g, w = _rows(got), _rows(want)
    if len(g) != len(w):
        return f"{len(g)} rows != {len(w)}"
    for i, (a, b) in enumerate(zip(g, w)):
        if not _close(a, b):
            return f"row {i}: {a} != {b}"
    return None


def response_frame(body: dict) -> pd.DataFrame:
    """Rows of a one-statement ``/query`` response, tags folded back in as
    columns (the server splits GROUP BY tags into one series each)."""
    rows = []
    for series in body["results"][0].get("series", []):
        tags = series.get("tags", {})
        for values in series["values"]:
            rows.append({**tags, **dict(zip(series["columns"], values))})
    return pd.DataFrame(rows)
