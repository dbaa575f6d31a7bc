"""DuckDB oracle runner + canonical result comparator (SURVEY.md §5.2.2).

Replicates the driver's t2 check locally so mismatches are caught in
pytest before a round ends: run the Spark query and the DuckDB SQL on the
same parquet tables, then compare (row count, schema arity, order-
insensitive canonical value hash) with columns sorted by name.

Canonicalization: every cell becomes a string via :func:`canon_cell`
(NULL marker, float repr, ISO dates); rows are sorted; the hash is
sha256 over the sorted row strings. Exact — no tolerance — which is why
query specs must round floats (registry.py docstring).
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import math
from dataclasses import dataclass

import duckdb
import pandas as pd

from cdc_publisher_spark.tables import TABLE_NAMES, table_path

NULL = "\x00NULL"


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Fresh in-memory DuckDB with the ten tables registered as views,
    mirroring the driver's pre-registration."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{table_path(sf_dir, name)}')"
        )
    return con


def canon_cell(v: object) -> str:
    if v is None:
        return NULL
    if isinstance(v, float):
        if math.isnan(v):
            return NULL
        if v == 0.0:  # collapse -0.0 / 0.0
            v = 0.0
        return repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, _dt.datetime):
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    tolist = getattr(v, "tolist", None)
    if tolist is not None and getattr(v, "ndim", 0):  # numpy array (list-typed cell)
        return canon_cell(tolist())
    # numpy scalars and anything else stringifiable
    try:
        if pd.isna(v):  # numpy nan / NaT
            return NULL
    except (TypeError, ValueError):
        pass
    item = getattr(v, "item", None)
    if item is not None:
        return canon_cell(item())
    return str(v)


def canon_rows(df: pd.DataFrame) -> list[str]:
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append("\x01".join(canon_cell(v) for v in row))
    out.sort()
    return out


def result_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for r in canon_rows(df):
        h.update(r.encode("utf-8", "surrogatepass"))
        h.update(b"\x02")
    return h.hexdigest()


@dataclass
class CompareResult:
    name: str
    match: bool
    spark_rows: int
    oracle_rows: int
    detail: str = ""


def compare_frames(
    name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, shape_only: bool = False
) -> CompareResult:
    """Row count, then column names, then (unless ``shape_only``) the
    canonical row values."""
    if len(spark_pdf) != len(oracle_pdf):
        return CompareResult(name, False, len(spark_pdf), len(oracle_pdf), "row count mismatch")
    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        return CompareResult(
            name, False, len(spark_pdf), len(oracle_pdf),
            f"column mismatch: spark={s_cols} oracle={o_cols}",
        )
    if shape_only:
        return CompareResult(name, True, len(spark_pdf), len(oracle_pdf), "shape only")
    s_rows, o_rows = canon_rows(spark_pdf), canon_rows(oracle_pdf)
    if s_rows != o_rows:
        diff = next(
            (f"first diff row {i}:\n  spark : {a!r}\n  oracle: {b!r}"
             for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b),
            "rows differ",
        )
        return CompareResult(name, False, len(spark_pdf), len(oracle_pdf), diff)
    return CompareResult(name, True, len(spark_pdf), len(oracle_pdf))


def run_compare(spark, sf_dir: str, name: str, shape_only: bool = False) -> CompareResult:
    """Run one registered query on Spark and DuckDB, compare canonically
    (``shape_only``: row count and columns, not values)."""
    from cdc_publisher_spark.registry import all_specs

    spec = all_specs()[name]
    sdf = spec.spark(spark, sf_dir).toPandas()
    if spec.oracle is None:
        return CompareResult(name, True, len(sdf), -1, "rows-only (no oracle)")
    con = duckdb_connect(sf_dir)
    try:
        odf = con.execute(spec.oracle).fetchdf()
    finally:
        con.close()
    return compare_frames(name, sdf, odf, shape_only)
