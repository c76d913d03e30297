"""Local emulation of the driver's DuckDB-oracle correctness gate.

Runs each ``__spark_entry__.queries()[name]`` on Spark and the matching
``oracle_sql()[name]`` on DuckDB over the same parquet tables, then
compares row count, column names/types, and cell values (order-
insensitive). Used by tests/test_oracle_parity.py and runnable directly:

    python tests/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

import duckdb
import pandas as pd

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            df[c] = pd.to_datetime(col).dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif col.dtype == object:
            df[c] = col.map(lambda v: None if v is None else str(v))
        elif pd.api.types.is_integer_dtype(col):
            df[c] = col.astype("Int64")
        elif pd.api.types.is_bool_dtype(col):
            df[c] = col.astype("Int64")
    sort_cols = list(df.columns)
    df = df.sort_values(sort_cols, na_position="first").reset_index(drop=True)
    return df


def _values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    try:
        if isinstance(a, float) or isinstance(b, float):
            fa, fb = float(a), float(b)
            if math.isnan(fa) and math.isnan(fb):
                return True
            return fa == fb or abs(fa - fb) < 1e-9
    except (TypeError, ValueError):
        pass
    return a == b


def compare(name: str, spark_df, oracle_pdf: pd.DataFrame) -> list[str]:
    """Return list of mismatch descriptions (empty = pass)."""
    problems: list[str] = []
    spdf = spark_df.toPandas()
    if sorted(spdf.columns) != sorted(oracle_pdf.columns):
        problems.append(
            f"columns differ: spark={sorted(spdf.columns)} oracle={sorted(oracle_pdf.columns)}")
        return problems
    if len(spdf) != len(oracle_pdf):
        problems.append(f"row count differs: spark={len(spdf)} oracle={len(oracle_pdf)}")
    a, b = _canon(spdf), _canon(oracle_pdf)
    if len(a) == len(b):
        neq_rows = 0
        first = None
        for i in range(len(a)):
            for c in a.columns:
                va, vb = a.at[i, c], b.at[i, c]
                if (va is pd.NA or (isinstance(va, float) and math.isnan(va))) and \
                   (vb is pd.NA or (isinstance(vb, float) and math.isnan(vb))):
                    continue
                if va is pd.NA or vb is pd.NA or not _values_equal(va, vb):
                    neq_rows += 1
                    if first is None:
                        first = (i, c, va, vb)
                    break
        if neq_rows:
            problems.append(
                f"{neq_rows}/{len(a)} rows differ; first at row {first[0]} col {first[1]!r}: "
                f"spark={first[2]!r} oracle={first[3]!r}")
    return problems


def run_check(spark, sf_dir: str, only: list[str] | None = None) -> dict[str, list[str]]:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    con = duckdb_conn(sf_dir)
    results: dict[str, list[str]] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            # driver records a weaker rows-only check for these; here just
            # prove the query runs
            try:
                fn(spark, sf_dir).count()
                results[name] = []
            except Exception as exc:  # noqa: BLE001
                results[name] = [f"rows-only query failed: {exc}"]
            continue
        try:
            oracle_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as exc:  # noqa: BLE001
            results[name] = [f"oracle SQL failed: {exc}"]
            continue
        try:
            results[name] = compare(name, fn(spark, sf_dir), oracle_pdf)
        except Exception as exc:  # noqa: BLE001
            results[name] = [f"spark query failed: {exc}"]
    return results


if __name__ == "__main__":
    import os
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from w_userflow_featurestore_spark import get_spark

    # --json=PATH also writes the per-query verdicts, stamped with the
    # checkout they were recorded on
    json_path = None
    argv = []
    for a in sys.argv[1:]:
        if a.startswith("--json="):
            json_path = a.split("=", 1)[1]
        else:
            argv.append(a)
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = argv[1:] or None
    spark = get_spark()
    res = run_check(spark, sf_dir, only)
    failed = False
    for name, problems in res.items():
        status = "OK" if not problems else "FAIL"
        if problems:
            failed = True
        print(f"{status:4s} {name}" + ("" if not problems else f"  -> {problems}"))
    if json_path:
        import json as _json

        from bench import git_provenance
        with open(json_path, "w") as fh:
            _json.dump({"sf_dir": sf_dir, "n_queries": len(res),
                        **git_provenance(),
                        "results": {n: {"pass": not p, "problems": p}
                                    for n, p in res.items()}}, fh, indent=1)
    sys.exit(1 if failed else 0)
