"""DuckDB differential-oracle core (SURVEY §5.1 — the sqllogictest
equivalent): run a registered operator's Spark query and its DuckDB oracle
over the same parquet tables, compare row count + column set + an
order-insensitive canonicalized value frame.

Shared by tools/parity.py (CLI) and tests/test_parity.py (pytest gate).
:func:`compare_at_scale` is the tiled ladders' rule (``tools/bench_ladder.py``).
"""

from __future__ import annotations

import math
from numbers import Real

import duckdb
import numpy as np
import pandas as pd

from aced_etl_pod_spark.tables import TABLES


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize cell values, sort rows — mirrors an
    order-insensitive value hash."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            s = s.round(6)
        elif pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]").astype(str)
        out[c] = s
    df = pd.DataFrame(out)
    df = df.astype(object).where(pd.notnull(df), None)
    rows = sorted(
        (tuple(repr(v) for v in row) for row in df.itertuples(index=False)),
    )
    return pd.DataFrame(rows, columns=df.columns) if rows else df


def compare(spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    """Return a list of mismatch descriptions (empty = match)."""
    errs = []
    if len(spark_df) != len(duck_df):
        errs.append(f"rowcount spark={len(spark_df)} duck={len(duck_df)}")
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        errs.append(f"columns spark={sc} duck={dc}")
        return errs
    a, b = canon(spark_df), canon(duck_df)
    if len(a) == len(b) and len(a):
        neq = a.values != b.values
        if neq.any():
            for r, c in list(zip(*neq.nonzero()))[:5]:
                errs.append(
                    f"cell[{r}][{a.columns[c]}] spark={a.iloc[r, c]!r} duck={b.iloc[r, c]!r}"
                )
    return errs


def _py(v):
    """A frame cell as a plain Python value: numpy scalars unwrapped,
    arrays and lists as tuples, NaN/NaT/None as None."""
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_py(x) for x in v)
    if isinstance(v, np.generic):
        v = v.item()
    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return None
    return v


def _rows(df: pd.DataFrame, cols: list[str]) -> list[tuple]:
    out = {}
    for c in cols:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]")
        out[c] = s.astype(object)
    return [tuple(_py(v) for v in r) for r in pd.DataFrame(out).itertuples(index=False)]


def _sort_key(v):
    if v is None:
        return (1, 0)
    return (0, tuple(_sort_key(x) for x in v) if isinstance(v, tuple) else v)


def _close(x, y, rel: float) -> bool:
    if isinstance(x, tuple) and isinstance(y, tuple):
        return len(x) == len(y) and all(_close(a, b, rel) for a, b in zip(x, y))
    if x == y:
        return True
    return (
        rel > 0
        and isinstance(x, Real)
        and isinstance(y, Real)
        and abs(x - y) <= rel * max(abs(y), 1.0)
    )


def compare_at_scale(spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    """:func:`compare` for tiled inputs: keys and counts must match
    exactly, and a float cell within 1e-12 of the oracle's value
    (relative, floored at 1.0). At x40 a money sum reaches ~1e11, where
    two engines' fold orders legitimately differ in the last digits
    (PLANS.md round-11), and ``compare``'s 6-decimal rounding would
    flag that. A null/NaN pair is equal. Returns mismatch descriptions
    (empty = match)."""
    errs = []
    if len(spark_df) != len(duck_df):
        errs.append(f"rowcount spark={len(spark_df)} duck={len(duck_df)}")
    cols = sorted(duck_df.columns)
    if sorted(spark_df.columns) != cols:
        errs.append(f"columns spark={sorted(spark_df.columns)} duck={cols}")
    if errs:
        return errs
    floats = {
        i
        for i, c in enumerate(cols)
        if pd.api.types.is_float_dtype(spark_df[c])
        or pd.api.types.is_float_dtype(duck_df[c])
    }
    # rows align on their exact cells first; float cells only break ties
    order = [i for i in range(len(cols)) if i not in floats] + sorted(floats)

    def key(row):
        return [_sort_key(row[i]) for i in order]

    a = sorted(_rows(spark_df, cols), key=key)
    b = sorted(_rows(duck_df, cols), key=key)
    for r, (ra, rb) in enumerate(zip(a, b)):
        for i, c in enumerate(cols):
            if not _close(ra[i], rb[i], 1e-12 if i in floats else 0.0):
                errs.append(f"row[{r}][{c}] spark={ra[i]!r} duck={rb[i]!r}")
                if len(errs) == 5:
                    return errs
    return errs
