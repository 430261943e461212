"""Mirror of the driver's DuckDB-oracle comparison: run a registered
Spark query and its oracle SQL on the same parquet tables, sort columns
by name, sort rows, compare values. Catching a mismatch here at
sf0.001 is much cheaper than failing the driver's sf0.01 gate."""

from __future__ import annotations

import math

import duckdb
import numpy as np

from big_ann_spark.catalog import TABLES


def ks_two_sample_numpy(x0, x1) -> float:
    """Two-sample KS statistic sup_x |ECDF_0(x) − ECDF_1(x)| over the
    merged sample, with ``searchsorted(side="right")`` counts so tied
    values count together (the statistic of scipy's ``ks_2samp``)."""
    a, b = np.sort(np.asarray(x0, dtype=np.float64)), np.sort(np.asarray(x1, dtype=np.float64))
    x = np.concatenate([a, b])
    ecdf0 = np.searchsorted(a, x, side="right") / len(a)
    ecdf1 = np.searchsorted(b, x, side="right") / len(b)
    return float(np.max(np.abs(ecdf0 - ecdf1)))


def run_oracle(sql: str, sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con.execute(sql).fetchdf()


def _normalize(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, tuple)) or hasattr(v, "tolist") and not isinstance(v, str) else v
            )
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _values_equal(a, b) -> bool:
    import pandas as pd

    if not isinstance(a, (tuple, list)) and not isinstance(b, (tuple, list)):
        a_na, b_na = pd.isna(a), pd.isna(b)
        if a_na or b_na:
            return bool(a_na) and bool(b_na)
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        # strict: the driver hash-matches values, so near-misses are failures
        return a == b
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_values_equal(x, y) for x, y in zip(a, b))
    return a == b


def compare_query(spark, name, fn, sql, sf_dir) -> list[str]:
    """Returns a list of mismatch descriptions (empty = pass)."""
    problems: list[str] = []
    sdf = fn(spark, sf_dir)
    spdf = sdf.toPandas()
    opdf = run_oracle(sql, sf_dir)
    if sorted(spdf.columns) != sorted(opdf.columns):
        return [f"{name}: column mismatch spark={sorted(spdf.columns)} oracle={sorted(opdf.columns)}"]
    if len(spdf) != len(opdf):
        problems.append(f"{name}: row count spark={len(spdf)} oracle={len(opdf)}")
        return problems
    s, o = _normalize(spdf), _normalize(opdf)
    for col in s.columns:
        sv, ov = s[col].tolist(), o[col].tolist()
        bad = [
            (i, a, b)
            for i, (a, b) in enumerate(zip(sv, ov))
            if not _values_equal(a, b)
        ]
        if bad:
            i, a, b = bad[0]
            problems.append(
                f"{name}.{col}: {len(bad)}/{len(sv)} values differ; first at row {i}: spark={a!r} oracle={b!r}"
            )
    return problems
