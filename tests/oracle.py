"""Local replica of the driver's oracle comparison (BASELINE.md t2 gate).

Runs a Spark DataFrame and a DuckDB oracle SQL over the same parquet
tables, then compares row count, sorted column names, and order-insensitive
values. Floats compare exactly by default (the engine's rounding
discipline should make them bit-equal); mismatch reporting shows the
first differing rows to debug drift.
"""

from __future__ import annotations

import functools
import math

import duckdb
import pandas as pd

from bigdatacw1_spark.sources.catalog import TABLES


@functools.cache
def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """One connection per scale factor, with a view per table."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            # unify None/NaN representation for strings
            df[c] = df[c].where(df[c].notna(), None)
    # order-insensitive: sort rows by all columns
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


def _values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    try:
        if pd.isna(a) and pd.isna(b):  # covers NaT (null timestamps) and NaN
            return True
    except (TypeError, ValueError):
        pass  # pd.isna on list-valued cells returns an array; fall through
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


def _dtype_family(dtype) -> str:
    """Collapse a pandas dtype to the family the driver's value hash is
    sensitive to. int vs float MUST mismatch (the wh_rfm_segments r8
    incident: DuckDB HUGEINT -> float64 vs Spark int64 hashed differently
    even though every value compared == locally); width within a family
    (int32 vs int64, signed vs unsigned) hashes identically."""
    kind = dtype.kind if hasattr(dtype, "kind") else "O"
    if kind in ("i", "u"):
        return "int"
    if kind == "f":
        return "float"
    if kind == "b":
        return "bool"
    if kind == "M":
        return "datetime"
    return "object"


def oracle_relation(oracle_query: str, sf_dir: str) -> duckdb.DuckDBPyRelation:
    """Bind the oracle (lazily, no execution) and assert no output column
    is HUGEINT/UHUGEINT: `.df()` turns those into float64 while the Spark
    side stays int64, so the driver's value hash fails even when every
    value compares equal (the wh_rfm_segments r8 red)."""
    rel = duck_con(sf_dir).sql(oracle_query)
    bad = [
        f"{c}: {t}"
        for c, t in zip(rel.columns, rel.types)
        if str(t).upper() in ("HUGEINT", "UHUGEINT")
    ]
    assert not bad, f"oracle output column(s) bind to HUGEINT: {bad} — add CAST(... AS BIGINT)"
    return rel


def compare(spark_df, oracle_query: str, sf_dir: str) -> None:
    exp = _normalize(oracle_relation(oracle_query, sf_dir).df())
    got = _normalize(spark_df.toPandas())
    assert list(got.columns) == list(exp.columns), (
        f"schema mismatch: spark={list(got.columns)} oracle={list(exp.columns)}"
    )
    # Driver-strictness: the driver hashes materialized values, so an int
    # column on one side and a float column on the other fail its hash even
    # when every value compares numerically equal. Enforce dtype-family
    # equality per column so a local sweep can never pass what the driver
    # would fail (r8 lesson: tests/oracle.py was laxer than the driver).
    dtype_bad = [
        (c, str(got[c].dtype), str(exp[c].dtype))
        for c in got.columns
        if _dtype_family(got[c].dtype) != _dtype_family(exp[c].dtype)
    ]
    assert not dtype_bad, (
        f"dtype-family mismatch (spark vs oracle would hash-differ): {dtype_bad}"
    )
    assert len(got) == len(exp), f"row count mismatch: spark={len(got)} oracle={len(exp)}"
    for c in got.columns:
        gv, ev = got[c].tolist(), exp[c].tolist()
        bad = [
            (i, g, e)
            for i, (g, e) in enumerate(zip(gv, ev))
            if not _values_equal(g, e)
        ]
        assert not bad, f"value mismatch in column {c!r} (first 5 of {len(bad)}): {bad[:5]}"
