"""Local replica of the driver's correctness gate: run a Spark query and
its DuckDB oracle side-by-side, compare row count, column names, and
order-insensitive values (exact, including float bits — the driver hashes
values, so "close" is not enough)."""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import duckdb
import pandas as pd

from .catalog import TABLES


@dataclass
class ParityResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    detail: str = ""
    mismatches: list[str] = field(default_factory=list)


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonical cell representation: exact for ints/strings; repr for floats
    # (bit-exact); timestamps to ISO strings
    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<null>"
        if pd.isna(v) if not isinstance(v, (list, tuple, dict, bytes)) else False:
            return "<null>"
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
        if isinstance(v, bytes):
            return v.hex()
        return str(v)

    out = df.apply(lambda col: col.map(cell))
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(
        drop=True
    )


def compare_frames(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> ParityResult:
    res = ParityResult(name=name, ok=True, spark_rows=len(sdf), oracle_rows=len(odf))
    s_cols, o_cols = sorted(sdf.columns), sorted(odf.columns)
    if s_cols != o_cols:
        res.ok = False
        res.detail = f"column mismatch: spark={s_cols} oracle={o_cols}"
        return res
    if len(sdf) != len(odf):
        res.ok = False
        res.detail = f"row count: spark={len(sdf)} oracle={len(odf)}"
        return res
    cs, co = _canon(sdf), _canon(odf)
    neq = (cs != co)
    if neq.any().any():
        res.ok = False
        for col in cs.columns:
            bad = neq[col]
            if bad.any():
                i = bad.idxmax()
                res.mismatches.append(
                    f"col {col}: {int(bad.sum())} diffs, first at row {i}: "
                    f"spark={cs[col][i]!r} oracle={co[col][i]!r}"
                )
        res.detail = "; ".join(res.mismatches[:5])
    return res


def jobs_in_group(spark, group: str, fn):
    """`fn()`'s result and the number of Spark jobs it started, counted
    under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def check_query(spark, sf_dir: str, name: str, qfn, sql: str | None) -> ParityResult:
    from .plans.inspect import assert_no_global_window

    df = qfn(spark, sf_dir)
    # Suite-wide scale gate: no query may plan a Window with an empty
    # partition spec over an unbounded input (single-task at 100×).
    assert_no_global_window(df)
    sdf = df.toPandas()
    if sql is None:
        ok = len(sdf) >= 0
        return ParityResult(name, ok, len(sdf), -1, detail="rows-only check")
    con = duck_connection(sf_dir)
    try:
        odf = con.execute(sql).df()
    finally:
        con.close()
    return compare_frames(name, sdf, odf)
