"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at
the same scale factor, compare row count, column names, and an
order-insensitive value multiset. Use while iterating:

    python tools/crosscheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize value rendering: floats to 9 sig decimals, NaN→None
    out = df.copy()
    for c in out.columns:
        if out[c].dtype == "float64" or out[c].dtype == "float32":
            out[c] = out[c].round(9)
    rows = sorted(out.astype(str).itertuples(index=False, name=None))
    return rows


def main() -> int:
    import __spark_entry__ as entrymod
    from movie_data_etl_pipeline_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if "/" not in a]
    spark = get_spark("crosscheck")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    n_ok = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(sdf)} rows, cols={list(sdf.columns)})")
            n_rows_only += 1
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: oracle error: {e}")
            continue
        if len(sdf) != len(odf):
            failures.append(name)
            print(f"FAIL {name}: rowcount spark={len(sdf)} oracle={len(odf)}")
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            failures.append(name)
            print(f"FAIL {name}: cols spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
            continue
        s_rows, o_rows = normalize(sdf), normalize(odf)
        if s_rows != o_rows:
            failures.append(name)
            diff = [(a, b) for a, b in zip(s_rows, o_rows) if a != b][:3]
            print(f"FAIL {name}: value mismatch; first diffs: {diff}")
            continue
        print(f"OK   {name} ({len(sdf)} rows)")
        n_ok += 1
    # machine-countable summary: Spark progress bars interleave \r
    # fragments with stdout, so per-line OK counts under-read in raw
    # captures (r10 saw 330 of 335 until CR-normalizing) — this line
    # is the count of record
    print(
        f"\nsummary: ok={n_ok} rows_only={n_rows_only} fail={len(failures)}"
    )
    print(f"{len(failures)} failures: {failures}" if failures else "all green")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
