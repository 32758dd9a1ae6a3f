"""Local simulation of the driver's correctness gate: run every queries()
entry on Spark AND its oracle_sql() on DuckDB at sf0.01, compare row count,
column names, and order-insensitive values (columns sorted by name).

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
Named queries are read from the driver registry, so only their oracles are
built; with no names every query runs, in queries() order.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: list(v) if isinstance(v, (list, tuple)) else v)
    df = df.map(lambda v: None if (isinstance(v, float) and math.isnan(v)) else v)

    def key(row):
        return tuple(str(v) for v in row)

    df["_k"] = [key(r) for r in df.itertuples(index=False)]
    df = df.sort_values("_k").drop(columns="_k").reset_index(drop=True)
    return df


def dtype_class(s: pd.Series) -> str:
    """Coarse dtype class matching the driver's TYPED value hash: an int
    column vs a str column hash-mismatches even when str(values) agree (the
    repetition_stats r02 failure), and int vs float does too (DuckDB HUGEINT
    → float). Object columns are classified by their first non-null value."""
    k = s.dtype.kind
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k == "M":
        return "datetime"
    nn = s.dropna()
    if len(nn) == 0:
        return "empty"
    v = nn.iloc[0]
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, str):
        return "str"
    if isinstance(v, (list, tuple)):
        return "list"
    return type(v).__name__


def cells_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return abs(a - b) < 1e-9
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return str(a) == str(b)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from driver import REGISTRY
    from sparkstract.session import get_spark

    unknown = sorted(only - set(REGISTRY))
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2
    if only:
        names = [n for n in entry_mod.RUN_ORDER if n in only]
        qs = {n: REGISTRY[n].build for n in names}
        oracles = {n: REGISTRY[n].oracle() for n in names}
    else:
        qs = entry_mod.queries()
        oracles = entry_mod.oracle_sql()

    spark = get_spark("local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    failures = []
    for name, fn in qs.items():
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        try:
            want = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            print(f"FAIL  {name}: columns {list(g.columns)} != {list(w.columns)}")
            failures.append(name)
            continue
        if len(g) != len(w):
            print(f"FAIL  {name}: rows {len(g)} != {len(w)}")
            failures.append(name)
            continue
        bad_types = [
            (c, dtype_class(g[c]), dtype_class(w[c]))
            for c in g.columns
            if "empty" not in (dtype_class(g[c]), dtype_class(w[c]))
            and dtype_class(g[c]) != dtype_class(w[c])
        ]
        if bad_types:
            print(f"FAIL  {name}: dtype mismatch {bad_types}")
            failures.append(name)
            continue
        bad = 0
        for i in range(len(g)):
            for c in g.columns:
                if not cells_equal(g.iloc[i][c], w.iloc[i][c]):
                    if bad < 3:
                        print(f"      {name} row {i} col {c}: {g.iloc[i][c]!r} != {w.iloc[i][c]!r}")
                    bad += 1
        if bad:
            print(f"FAIL  {name}: {bad} cell mismatches of {len(g)} rows")
            failures.append(name)
        else:
            print(f"OK    {name}: {len(g)} rows")
    spark.stop()
    print("\n" + ("ALL OK" if not failures else f"FAILURES: {failures}"))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
