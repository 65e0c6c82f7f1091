#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/compare.py <sfdir> <verify_out_dir>
       python3 tools/compare.py --against <base_out_dir> <verify_out_dir>

Reads each <name>/ parquet result written by graft.Verify plus
oracle_sql.json, runs the oracle in DuckDB against the same parquet tables,
sorts columns by name and rows by all columns, and diffs values exactly.

With --against, diffs every <name>/ result of two graft.Verify dumps (say,
of a parent commit and of a change) the same way, row for row, the gates
without an oracle included; column types must match too.
"""
import json, math, os, sys
import duckdb
import numpy as np
import pyarrow.parquet as pq
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonical row order: sort by all columns (stringified for mixed types)
    key = df.astype(str)
    order = key.sort_values(by=list(df.columns)).index
    return df.loc[order].reset_index(drop=True)


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    # driver hashes values, so int64 60025 vs float64 60025.0 is a mismatch
    if isinstance(a, float) != isinstance(b, float):
        return False
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if bool(pd.isna(a)) != bool(pd.isna(b)):
            return False
    except (TypeError, ValueError):
        pass
    return a == b


def nested_equal(a, b) -> bool:
    """values_equal, recursing into list, array and struct values."""
    a = a.tolist() if isinstance(a, np.ndarray) else a
    b = b.tolist() if isinstance(b, np.ndarray) else b
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(map(nested_equal, a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(nested_equal(a[k], b[k]) for k in a)
    if isinstance(a, (list, tuple, dict)) or isinstance(b, (list, tuple, dict)):
        return False
    return values_equal(a, b)


def mismatch(s: pd.DataFrame, d: pd.DataFrame, eq=values_equal):
    """The first difference of two normalized frames, or None."""
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} vs {list(d.columns)}"
    if len(s) != len(d):
        return f"rows {len(s)} vs {len(d)}"
    for col in s.columns:
        for i, (a, b) in enumerate(zip(s[col].tolist(), d[col].tolist())):
            if not eq(a, b):
                return f"value mismatch col={col} row={i}: {a!r} vs {b!r}"
    return None


def against(basedir: str, outdir: str) -> int:
    def outputs(d):
        return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}
    names = sorted(outputs(basedir) | outputs(outdir))
    failures = 0
    for name in names:
        try:
            a = pq.read_table(f"{basedir}/{name}")
            b = pq.read_table(f"{outdir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: missing on one side ({e})")
            failures += 1
            continue
        types = [sorted((f.name, str(f.type)) for f in t.schema) for t in (a, b)]
        bad = (f"types {types[0]} vs {types[1]}" if types[0] != types[1] else
               mismatch(normalize(a.to_pandas()), normalize(b.to_pandas()),
                        nested_equal))
        if bad:
            print(f"FAIL {name}: {bad}")
            failures += 1
        else:
            print(f"OK   {name} ({a.num_rows} rows)")
    print(f"\n{len(names) - failures}/{len(names)} outputs equal")
    return 1 if failures else 0


def main(sfdir: str, outdir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    oracles = json.load(open(f"{outdir}/oracle_sql.json"))
    failures = 0
    for name, sql in sorted(oracles.items()):
        try:
            spark_df = pq.read_table(f"{outdir}/{name}").to_pandas()
        except Exception as e:
            print(f"FAIL {name}: no spark result ({e})")
            failures += 1
            continue
        try:
            duck_df = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            failures += 1
            continue
        bad = mismatch(normalize(spark_df), normalize(duck_df))
        if bad:
            print(f"FAIL {name}: {bad} (spark vs duck)")
            failures += 1
        else:
            print(f"OK   {name} ({len(spark_df)} rows)")
    print(f"\n{len(oracles) - failures}/{len(oracles)} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    if sys.argv[1] == "--against":
        sys.exit(against(sys.argv[2], sys.argv[3]))
    sys.exit(main(sys.argv[1], sys.argv[2]))
