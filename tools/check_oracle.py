#!/usr/bin/env python3
"""Local mirror of the driver's t2 correctness gate: run graft.Verify's
parquet dumps against the DuckDB oracle SQL and compare exactly.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

SPARK_GRAFT_ONLY (comma-separated query-name prefixes, as graft.Verify
reads it) restricts the check to the matching queries; unset, every
query in oracle_sql.json is checked. A filtered run says so in its
summary line, and fails when a prefix matches no query.
"""
import json
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort",
                        ignore_index=True)
    return df


def main() -> int:
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_all = len(oracle)
    only = os.environ.get("SPARK_GRAFT_ONLY")
    unmatched = []
    if only is not None:
        prefixes = [p for p in only.split(",") if p]
        unmatched = [p for p in prefixes
                     if not any(k.startswith(p) for k in oracle)]
        oracle = {k: v for k, v in oracle.items()
                  if k.startswith(tuple(prefixes))}
    n_bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            got = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: no spark output ({e})")
            n_bad += 1
            continue
        try:
            want = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_bad += 1
            continue
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            print(f"FAIL {name}: columns {list(g.columns)} != {list(w.columns)}")
            n_bad += 1
            continue
        if len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} != {len(w)}")
            n_bad += 1
            continue
        bad_cols = []
        for c in g.columns:
            a, b = g[c], w[c]
            if a.dtype != b.dtype:
                # The driver hashes serialized values, so int64-vs-float64
                # (e.g. DuckDB HUGEINT from SUM(BIGINT) → float64) FAILS
                # there even when values compare equal; mirror that.
                bad_cols.append(f"{c} (DTYPE mismatch {a.dtype} vs {b.dtype})")
                continue
            try:
                eq = (a.values == b.values) | (a.isna().values & b.isna().values)
                ok = bool(eq.all())
            except Exception:
                ok = a.astype(str).equals(b.astype(str))
            if not ok:
                # show first diff
                import numpy as np
                idx = int(np.argmin(eq))
                bad_cols.append(f"{c} (dtype {a.dtype} vs {b.dtype}; "
                                f"row {idx}: {a.iloc[idx]!r} vs {b.iloc[idx]!r})")
        if bad_cols:
            print(f"FAIL {name}: value mismatch in {bad_cols}")
            n_bad += 1
        else:
            print(f"PASS {name} ({len(g)} rows)")
    for p in unmatched:
        print(f"FAIL SPARK_GRAFT_ONLY prefix {p!r} matches no query")
    scope = ("" if only is None else
             f" (filtered by SPARK_GRAFT_ONLY: {len(oracle)} of {n_all})")
    print(f"\n{len(oracle) - n_bad}/{len(oracle)} queries match{scope}")
    return 1 if n_bad or unmatched or not oracle else 0


if __name__ == "__main__":
    sys.exit(main())
