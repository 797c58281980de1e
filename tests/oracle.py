"""Local replica of the driver's DuckDB-oracle comparison.

The driver compares row-count + schema + order-insensitive value
hash at sf0.01 (__spark_entry__.py docstring).  This harness is
deliberately stricter: it canonicalizes every cell (floats rounded
to 6 decimals, timestamps → ISO strings, numpy scalars unboxed),
sorts columns by name and rows lexicographically, and asserts full
equality — if this passes, the driver's hash comparison passes.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
from decimal import Decimal

import duckdb
import pandas as pd

from big_data_fknn_spark.tables import TABLES


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def canon_cell(v, conflate_nan: bool = True):
    if v is None or v is pd.NaT:
        return "∅"
    if isinstance(v, (list, tuple)):
        # inside float arrays the transport is lossy on the SPARK side
        # too (Arrow renders a NULL element of array<double> as NaN in
        # the numpy float64 array), so elements always conflate
        return tuple(canon_cell(x) for x in v)
    if hasattr(v, "item") and not isinstance(v, (pd.Timestamp,)):  # numpy scalar/array
        try:
            v = v.item()
        except (ValueError, AttributeError):
            return tuple(canon_cell(x) for x in v.tolist())
    if isinstance(v, float):
        if math.isnan(v):
            # In float-dtype columns pandas is the transport for BOTH
            # engines and renders SQL NULL as NaN, so NULL-vs-NaN is
            # not observable there and the two conflate to one token
            # (distinct tokens only created false mismatches between a
            # Spark None and an oracle NaN that both mean NULL).  In
            # OBJECT-dtype columns the distinction survives transport
            # (round-6 advisor), so df_canon passes conflate_nan=False
            # and a genuine NaN keeps its own token — except for
            # bool-bearing object columns, where DuckDB renders SQL
            # NULL as float NaN (transport artifact, measured).
            return "∅" if conflate_nan else "NaN"
        r = round(v, 6)
        return f"{r + 0.0:.6f}"  # +0.0 normalizes -0.0
    if isinstance(v, Decimal):
        return canon_cell(float(v))
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def _col_conflates_nan(s: pd.Series) -> bool:
    """True when NULL-vs-NaN is NOT observable for this column after
    pandas transport: float dtypes (both engines render SQL NULL as
    NaN) and object columns carrying booleans (DuckDB renders a NULL
    boolean as float NaN).  An object column whose non-None values
    are ALL float NaN is the fully-NULL edge of the same transport
    artifact (a 100%-NULL boolean column has no bool left to probe —
    round-7 advisor) and must conflate too."""
    if s.dtype.kind in "fc":
        return True
    if s.dtype == object:
        non_null = [v for v in s if v is not None]
        if any(isinstance(v, bool) for v in non_null):
            return True
        return bool(non_null) and all(
            isinstance(v, float) and math.isnan(v) for v in non_null
        )
    return False


def df_canon(pdf: pd.DataFrame):
    cols = sorted(pdf.columns)
    conflate = [_col_conflates_nan(pdf[c]) for c in cols]
    rows = sorted(
        tuple(canon_cell(v, conflate_nan=cf) for v, cf in zip(row, conflate))
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    return cols, rows


def raw_hash(pdf: pd.DataFrame) -> tuple[str, int]:
    """(md5, row count) over every cell's raw ``str(v)``, columns
    sorted by name and rows sorted: the driver's strict hash, with no
    rounding or NULL/NaN conflation (stricter than ``df_canon``)."""
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(str(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    return hashlib.md5(repr(rows).encode()).hexdigest(), len(rows)


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str, key: str = "?"):
    scols, srows = df_canon(spark_df.toPandas())
    ocols, orows = df_canon(con.sql(sql).df())
    assert scols == ocols, f"{key}: column mismatch spark={scols} oracle={ocols}"
    assert len(srows) == len(orows), (
        f"{key}: row count spark={len(srows)} oracle={len(orows)}"
    )
    if srows != orows:
        diffs = [
            (i, a, b) for i, (a, b) in enumerate(zip(srows, orows)) if a != b
        ][:5]
        raise AssertionError(f"{key}: value mismatch, first diffs: {diffs}")
