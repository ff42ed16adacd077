"""Local mimic of the driver's correctness gate: run each registered
query through Spark AND its DuckDB oracle, compare row count, schema
width, and order-insensitive values."""

from __future__ import annotations

import math

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            s = pd.to_datetime(df[c])
            if getattr(s.dt, "tz", None) is not None:
                # Spark toArrow() yields tz-aware (session-tz) stamps;
                # the naive oracle values are the same UTC instants
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
        elif pd.api.types.is_integer_dtype(df[c]) or pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("float64") if df[c].isna().any() else df[c].astype("int64") if pd.api.types.is_integer_dtype(df[c]) else df[c]
    cols = sorted(df.columns)
    df = df[cols]
    return df.sort_values(by=cols, na_position="last").reset_index(drop=True)


def compare(spark_df: pd.DataFrame, oracle_df: pd.DataFrame,
            float_tol: float = 1e-6) -> list[str]:
    """Return list of mismatch descriptions (empty = pass)."""
    issues: list[str] = []
    if len(spark_df) != len(oracle_df):
        issues.append(f"row count: spark={len(spark_df)} oracle={len(oracle_df)}")
    s_cols, o_cols = sorted(spark_df.columns), sorted(oracle_df.columns)
    if s_cols != o_cols:
        issues.append(f"columns: spark={s_cols} oracle={o_cols}")
        return issues
    if issues:
        return issues
    s = _normalize(spark_df)
    o = _normalize(oracle_df)
    for c in s.columns:
        sv, ov = s[c], o[c]
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(ov):
            sv = pd.to_numeric(sv, errors="coerce").astype("float64")
            ov = pd.to_numeric(ov, errors="coerce").astype("float64")
            both_nan = sv.isna() & ov.isna()
            close = (sv - ov).abs() <= float_tol
            bad = ~(both_nan | close.fillna(False))
            if bad.any():
                i = bad.idxmax()
                issues.append(
                    f"col {c!r}: {int(bad.sum())} float mismatches, "
                    f"first at row {i}: spark={sv[i]!r} oracle={ov[i]!r}")
        else:
            eq = (sv == ov) | (sv.isna() & ov.isna())
            if not eq.all():
                i = (~eq).idxmax()
                issues.append(
                    f"col {c!r}: {int((~eq).sum())} mismatches, "
                    f"first at row {i}: spark={sv[i]!r} oracle={ov[i]!r} "
                    f"(dtypes {sv.dtype}/{ov.dtype})")
    return issues


def run_one(spark, con, name: str, sf_dir: str, plans=None):
    """Run registry entry ``name`` and its DuckDB oracle and compare
    them.  With a ``plans`` dict, the simple-mode physical plan of the
    built frame (before it runs) is stored in it under ``name``."""
    from legate_dataframe_spark.plans.registry import ORACLES, QUERIES

    df = QUERIES[name](spark, sf_dir)
    if plans is not None:
        from tests.test_plan_quality import plan_of

        plans[name] = plan_of(df, "simple")
    sdf = df.toPandas()
    odf = con.execute(ORACLES[name]).fetchdf()
    return compare(sdf, odf), sdf, odf
