"""DuckDB-oracle comparison harness (mirrors the driver's t2 gate and
the reference's QueryTest.checkAnswer semantics: order-insensitive
row-set equality — reference sql/core/src/test/.../QueryTest.scala).

Columns are sorted by name, rows by all columns, values normalized
(floats rounded at comparison to absorb last-ulp engine differences
that the queries' own rounding already guards against).
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

import duckdb
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A connection with one view per table under ``sf_dir``. The views
    read the parquet files at query time, so a connection shared by many
    queries (the ``oracle_con`` session fixture) assumes that nothing
    rewrites those files while it is open; a test that rewrites data
    builds its own connection."""
    con = duckdb.connect()
    import os

    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            # directory-valued table (multi-file layout): glob the
            # data files — read_parquet('dir') alone is an error
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{path}/*.parquet'"
            )
        elif os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if hasattr(v, "tolist"):  # numpy scalars/arrays
        return _norm_cell(v.tolist())
    return v


def normalize(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append(tuple(_norm_cell(v) for v in row))
    return sorted(out, key=lambda r: tuple(str(x) for x in r))


def _dtype_token(dt) -> str:
    """Canonical dtype label mirroring the driver's hash sensitivity:
    exact numeric width matters (int32 vs int64 broke q12 in r01 via
    DuckDB HUGEINT->object), datetime resolution (ns vs us) does not."""
    s = str(dt)
    if s.startswith("datetime64"):
        return "datetime64"
    return s


def compare(spark_df, oracle_df: pd.DataFrame, name: str = "") -> None:
    sp = spark_df.toPandas()
    assert sorted(sp.columns) == sorted(oracle_df.columns), (
        f"{name}: column mismatch {sorted(sp.columns)} vs {sorted(oracle_df.columns)}"
    )
    dtype_diff = {
        c: (_dtype_token(sp[c].dtype), _dtype_token(oracle_df[c].dtype))
        for c in sp.columns
        if _dtype_token(sp[c].dtype) != _dtype_token(oracle_df[c].dtype)
    }
    assert not dtype_diff, (
        f"{name}: dtype mismatch (spark, oracle): {dtype_diff} — the driver's "
        "value hash is dtype-sensitive; cast the oracle (or the query) so both "
        "engines agree exactly"
    )
    a, b = normalize(sp), normalize(oracle_df)
    assert len(a) == len(b), f"{name}: row count {len(a)} vs {len(b)}"
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{name}: {len(mismatches)} row mismatches, first: {mismatches[:3]}"
