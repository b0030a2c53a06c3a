"""Value-level output check against each query's DuckDB oracle.

Same comparison shape as the repository's oracle suite: columns matched
by sorted name, rows compared order-insensitively after an
engine-neutral normalisation (floats to 6 places, timestamps to ISO
strings, bytes to hex, arrays to tuples).
"""

from __future__ import annotations

import math

import duckdb


def connect(sf_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in tables:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "tolist") and not isinstance(v, (int, str)):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _rows(pdf, cols: list[str]) -> list[tuple]:
    return sorted(
        (tuple(_norm(v) for v in r) for r in pdf[cols].itertuples(index=False)),
        key=repr,
    )


def mismatch(spark_pdf, con: duckdb.DuckDBPyConnection, sql: str) -> str | None:
    """None when ``spark_pdf`` equals the oracle's result, else why not."""
    odf = con.sql(sql).df()
    s_cols, o_cols = sorted(spark_pdf.columns), sorted(odf.columns)
    if s_cols != o_cols:
        return f"columns {s_cols} != oracle {o_cols}"
    s_rows, o_rows = _rows(spark_pdf, s_cols), _rows(odf, o_cols)
    if len(s_rows) != len(o_rows):
        return f"rows {len(s_rows)} != oracle {len(o_rows)}"
    bad = sum(a != b for a, b in zip(s_rows, o_rows))
    return f"{bad} rows differ from oracle" if bad else None
