"""Local replica of the driver's correctness harness: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at sf0.01,
compare row count, column names, and order-insensitive values.

Usage: python scripts/check_oracle.py [name ...]

With no names (the --all / CI form) it additionally asserts the contract
invariants: registered count <= DRIVER_QUERY_CAP (the driver executes
only the first 50 entries -- anything past that is silently skipped),
every oracle key has a query, and every run query produced > 0 rows.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object and df[c].map(lambda v: isinstance(v, (list, tuple)), na_action="ignore").any():
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, tuple)) else v)
        try:
            import numpy as np
            if df[c].map(lambda v: isinstance(v, np.ndarray), na_action="ignore").any():
                df[c] = df[c].map(lambda v: tuple(v.tolist()) if hasattr(v, "tolist") else v)
        except Exception:
            pass
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def as_comparable(df: pd.DataFrame) -> list[tuple]:
    out = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append(round(v, 6))
            elif hasattr(v, "isoformat"):
                vals.append(v.isoformat())
            else:
                vals.append(v)
        out.append(tuple(str(x) for x in vals))
    return sorted(out)


def main() -> int:
    import __spark_entry__ as m
    from azure_based_pii_redactor_spark.engine.session import build_session

    from azure_based_pii_redactor_spark.engine.operators import (
        DRIVER_QUERY_CAP,
    )

    only = set(a for a in sys.argv[1:] if a != "--all")
    spark = build_session(app_name="check_oracle", master="local[8]",
                          shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs = m.queries()
    oracles = m.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {exc}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(got)} rows ({time.time()-t0:.1f}s) [rows-only]")
            if len(got) == 0:
                print(f"FAIL  {name}: 0 rows for rows-only query")
                failures.append(name)
            continue
        try:
            want = con.execute(oracles[name]).fetchdf()
        except Exception as exc:
            print(f"FAIL  {name}: duckdb error: {exc}")
            failures.append(name)
            continue
        g, w = normalize(got), normalize(want)
        if list(g.columns) != list(w.columns):
            print(f"FAIL  {name}: columns {list(g.columns)} != {list(w.columns)}")
            failures.append(name)
            continue
        if len(g) != len(w):
            print(f"FAIL  {name}: rows {len(g)} != {len(w)}")
            failures.append(name)
            continue
        cg, cw = as_comparable(g), as_comparable(w)
        if cg != cw:
            bad = [i for i, (x, y) in enumerate(zip(cg, cw)) if x != y][:3]
            print(f"FAIL  {name}: value mismatch at sorted rows {bad}")
            for i in bad:
                print(f"      spark:  {cg[i]}")
                print(f"      duckdb: {cw[i]}")
            failures.append(name)
            continue
        print(f"OK    {name}: {len(g)} rows ({time.time()-t0:.1f}s)")
    spark.stop()
    if not only:  # full sweep: assert the driver-contract invariants
        if len(qs) > DRIVER_QUERY_CAP:
            print(f"FAIL  contract: {len(qs)} queries registered > "
                  f"cap {DRIVER_QUERY_CAP} (driver would skip the tail)")
            failures.append("__query_cap__")
        extra = set(oracles) - set(qs)
        if extra:
            print(f"FAIL  contract: oracles without queries: {extra}")
            failures.append("__orphan_oracles__")
        print(f"contract: {len(qs)} registered (cap {DRIVER_QUERY_CAP}), "
              f"{len(oracles)} oracle-checked, "
              f"{len(qs) - len(oracles)} rows-only")
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        return 1
    print("\nall queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
