"""DuckDB-oracle parity harness — mirrors the driver's correctness gate.

Runs a Spark DataFrame and the matching oracle SQL over the same parquet
tables, then compares row count, column names, and values order-insensitively
(columns sorted by name, rows sorted by all columns, floats with tolerance).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from prod_data_pipeline_spark.sources.readers import TABLES


def oracle_df(sql: str, sf_dir: str) -> pd.DataFrame:
    import os

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = f"{sf_dir}/{t}.parquet"
            if os.path.isdir(path):
                # Spark-written table: a DIRECTORY of part files (the
                # bench's inflated dataset) rather than the driver
                # testdata's single file
                path = f"{path}/*.parquet"
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif s.dtype == object:
            non_null = s.dropna()
            if len(non_null) and all(hasattr(v, "isoformat") for v in non_null.head(5)):
                df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s) or s.dtype.name.startswith("uint"):
            df[c] = s.astype("float64") if s.isna().any() else s.astype("int64")
    sort_cols = list(df.columns)
    if sort_cols:
        df = df.sort_values(sort_cols, na_position="last", kind="mergesort")
    return df.reset_index(drop=True)


def assert_frames_match(mine: pd.DataFrame, oracle: pd.DataFrame, name: str, rtol=1e-9, atol=1e-9):
    assert sorted(mine.columns) == sorted(oracle.columns), (
        f"{name}: column mismatch {sorted(mine.columns)} vs {sorted(oracle.columns)}"
    )
    assert len(mine) == len(oracle), f"{name}: row count {len(mine)} vs {len(oracle)}"
    a, b = _normalize(mine), _normalize(oracle)
    for c in a.columns:
        va, vb = a[c], b[c]
        # The driver's correctness gate hashes EXACT values, so an oracle
        # column that surfaces as float64 where Spark emits int64 (e.g. a
        # DuckDB SUM(BIGINT) -> HUGEINT -> float64 leak) hash-mismatches
        # even when every value is numerically identical.  Fail fast here
        # rather than letting the tolerance compare below hide it.
        fa, fb = pd.api.types.is_float_dtype(va), pd.api.types.is_float_dtype(vb)
        assert fa == fb, (
            f"{name}: column {c} dtype kind mismatch after normalize "
            f"({va.dtype} vs {vb.dtype}) — the driver's exact value-hash "
            f"would differ; CAST the oracle (or Spark) side"
        )
        if pd.api.types.is_float_dtype(va) or pd.api.types.is_float_dtype(vb):
            va = va.astype("float64").to_numpy()
            vb = vb.astype("float64").to_numpy()
            ok = np.isclose(va, vb, rtol=rtol, atol=atol) | (np.isnan(va) & np.isnan(vb))
            assert ok.all(), f"{name}: column {c} differs at rows {np.where(~ok)[0][:5]}: " \
                f"{va[~ok][:5]} vs {vb[~ok][:5]}"
        else:
            eq = (va == vb) | (va.isna() & vb.isna())
            assert eq.all(), (
                f"{name}: column {c} differs at rows {np.where(~eq)[0][:5]}: "
                f"{va[~eq.to_numpy()].head().tolist()} vs {vb[~eq.to_numpy()].head().tolist()}"
            )


def check_query(spark, name: str, sf_dir: str):
    from prod_data_pipeline_spark.plans.queries import QUERIES

    spec = QUERIES[name]
    mine = spec.fn(spark, sf_dir).toPandas()
    oracle = oracle_df(spec.oracle, sf_dir)
    assert_frames_match(mine, oracle, name)
    return mine
