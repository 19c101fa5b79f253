#!/usr/bin/env python
"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry on Spark and the matching ``oracle_sql()``
on DuckDB against the same parquet tables, then compares row count, column
names, and order-insensitive values (exact compare — stricter than the
driver's hash).

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def duck_frame(sf_dir: str, sql: str):
    """Run an oracle SQL; return (pandas frame, [(col, duckdb_type_str)])."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    rel = con.sql(sql)
    types = list(zip(rel.columns, (str(t) for t in rel.types)))
    return rel.df(), types


def lint_oracle_types(name, duck_types, spdf=None, ddf=None):
    """Result-type lint (VERDICT r4 item 2): the driver hashes pandas
    values, and DuckDB HUGEINT/UHUGEINT columns round-trip through pandas
    as float64 ("99111.0" vs Spark's "99111") — a hash mismatch with
    identical values. Catch the class before the rotation does:

    - any HUGEINT/UHUGEINT oracle column is an error (CAST it AS BIGINT);
    - a float64 oracle column whose Spark twin is integral is an error
      (same rendering split, different route in);
    - any non-scalar (LIST/STRUCT/MAP/ARRAY) oracle result column is an
      error, and so is a Spark object column holding lists/dicts/tuples:
      the driver canonicalizer ``pandas.sort_values`` dies on unhashable
      cells (VERDICT r5 item 2 — render with array_join/string_agg).

    Returns a list of problem strings (empty = clean).
    """
    problems = []
    for col, ty in duck_types:
        tyu = ty.upper()
        if "HUGEINT" in tyu:
            problems.append(f"oracle col {col!r} is {ty} (CAST to BIGINT)")
        if any(k in tyu for k in ("[]", "LIST", "STRUCT", "MAP(", "ARRAY")):
            problems.append(
                f"oracle col {col!r} is non-scalar {ty} "
                f"(string_agg/array_to_string it — driver canon crashes on lists)"
            )
    if spdf is not None and ddf is not None:
        for col in spdf.columns:
            if str(spdf[col].dtype) == "object":
                cell = next((v for v in spdf[col] if v is not None), None)
                if isinstance(cell, (list, dict, tuple)) or (
                    cell is not None and type(cell).__module__ == "numpy"
                    and getattr(cell, "ndim", 0)
                ):
                    problems.append(
                        f"spark col {col!r} holds {type(cell).__name__} cells "
                        f"(array_join it — driver canon crashes on lists)"
                    )
            if col not in ddf.columns:
                continue
            sd, dd = str(spdf[col].dtype), str(ddf[col].dtype)
            if dd.startswith("float") and (sd.startswith("int") or sd.startswith("uint")):
                problems.append(
                    f"oracle col {col!r} is {dd} but Spark returns {sd}"
                )
    return problems


def lint_all(sf_dir: str) -> int:
    """DuckDB-only fast pass: type-lint every registered oracle (no Spark).

    Exit 1 on any HUGEINT/UHUGEINT result column or SQL error.
    """
    from pyspark_playground_spark import queries as Q

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    oracles = Q.oracle_sql()
    bad = 0
    for name, sql in oracles.items():
        try:
            rel = con.sql(sql)
            types = list(zip(rel.columns, (str(t) for t in rel.types)))
        except Exception as e:  # noqa: BLE001
            bad += 1
            print(f"LINT-FAIL {name}: oracle SQL error: {e}")
            continue
        problems = lint_oracle_types(name, types)
        if problems:
            bad += 1
            print(f"LINT-FAIL {name}: " + "; ".join(problems))
    print(f"type lint: {len(oracles) - bad}/{len(oracles)} oracles clean")
    return 1 if bad else 0


def normalize(df):
    """Sort columns by name, then rows by all values → comparable frame."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype) == "object":
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def values_equal(a, b, float_tol=0.0):
    if a.shape != b.shape:
        return False, f"shape {a.shape} vs {b.shape}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if str(av.dtype).startswith("float") or str(bv.dtype).startswith("float"):
            for x, y in zip(av, bv):
                xn, yn = (
                    (x is None or (isinstance(x, float) and math.isnan(x))),
                    (y is None or (isinstance(y, float) and math.isnan(y))),
                )
                if xn and yn:
                    continue
                if xn != yn or x != y:
                    if float_tol and abs(x - y) <= float_tol * max(1.0, abs(x)):
                        continue
                    return False, f"col {c}: {x!r} != {y!r}"
        else:
            neq = av.astype(str) != bv.astype(str)
            if neq.any():
                i = neq.idxmax()
                return False, f"col {c} row {i}: {av[i]!r} != {bv[i]!r}"
    return True, ""


def main():
    argv = [a for a in sys.argv[1:] if a != "--lint-types"]
    if "--lint-types" in sys.argv[1:]:
        return lint_all(argv[0] if argv else "/root/testdata/sf0.001")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    from pyspark_playground_spark import queries as Q
    from pyspark_playground_spark.session import get_spark

    spark = get_spark(app_name="oracle-check")
    qs, oracles = Q.queries(), Q.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(spdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            ddf, duck_types = duck_frame(sf_dir, oracles[name])
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        lint = lint_oracle_types(name, duck_types, spdf=spdf, ddf=ddf)
        if lint:
            failures.append(name)
            print(f"FAIL  {name}: type lint: " + "; ".join(lint))
            continue
        if len(spdf) != len(ddf):
            failures.append(name)
            print(f"FAIL  {name}: rows {len(spdf)} vs {len(ddf)}")
            continue
        if sorted(spdf.columns) != sorted(ddf.columns):
            failures.append(name)
            print(f"FAIL  {name}: cols {sorted(spdf.columns)} vs {sorted(ddf.columns)}")
            continue
        ok, why = values_equal(normalize(spdf), normalize(ddf))
        if ok:
            print(f"OK    {name}: {len(spdf)} rows [{time.time()-t0:.1f}s]")
        else:
            failures.append(name)
            print(f"FAIL  {name}: {why}")
    ran = len([n for n in qs if not only or n in only])
    print(f"\n{ran - len(failures)}/{ran} queries match"
          + ("" if not only else f" (of {len(qs)} registered)"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
