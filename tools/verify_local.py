#!/usr/bin/env python3
"""Local pre-validation of the driver's correctness gate.

Runs after `sbt "runMain graft.Verify <sfDir> <outDir>"`:
loads each <outDir>/<name> parquet (the Spark result), runs the
matching oracle SQL from oracle_sql.json in DuckDB over the same
scale-factor tables, and compares rows / column names / values
cell-by-cell (exact; floats compared bit-for-bit after float64 cast,
mirroring the driver's sorted-column value hash). Also reports dtype
mismatches (the r10 HUGEINT->float lesson).

Usage: python3 tools/verify_local.py <sfDir> <verifyOutDir> [name[,name...]]

The optional third argument checks only the named rows (the same
comma-separated list graft.Verify takes); an unknown name exits 2.
"""
import json
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main(sf_dir: str, out_dir: str, only=None) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = []
    no_oracle = []
    names = sorted(oracle)
    if only is not None:
        # a rows-only query has a result dir but no oracle entry
        dumped = {d for d in os.listdir(out_dir)
                  if os.path.isdir(os.path.join(out_dir, d))}
        unknown = [n for n in only if n not in oracle and n not in dumped]
        if unknown or not only:
            print(f"unknown name(s) {unknown} (known: {', '.join(names)})",
                  file=sys.stderr)
            return 2
        names = only
    for name in names:
        sql = oracle.get(name)
        try:
            spark_df = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            failures.append((name, f"spark result unreadable: {e}"))
            continue
        if sql is None:
            no_oracle.append(name)
            continue
        try:
            ora_df = con.execute(sql).fetchdf()
        except Exception as e:
            failures.append((name, f"oracle sql failed: {e}"))
            continue
        msgs = []
        if len(spark_df) != len(ora_df):
            msgs.append(f"rows {len(spark_df)} vs {len(ora_df)}")
        s_cols, o_cols = sorted(spark_df.columns), sorted(ora_df.columns)
        if s_cols != o_cols:
            msgs.append(f"columns {s_cols} vs {o_cols}")
        if not msgs:
            s = spark_df[s_cols].reset_index(drop=True)
            o = ora_df[s_cols].reset_index(drop=True)
            for c in s_cols:
                sv, ov = s[c], o[c]
                if str(sv.dtype) != str(ov.dtype):
                    # the r10 trap: value-equal but dtype-divergent columns
                    # hash differently in the driver
                    try:
                        sv64 = sv.astype("float64")
                        ov64 = ov.astype("float64")
                        if not sv64.equals(ov64):
                            msgs.append(f"col {c}: dtype {sv.dtype} vs "
                                        f"{ov.dtype} AND values differ")
                        else:
                            msgs.append(f"col {c}: dtype-only mismatch "
                                        f"{sv.dtype} vs {ov.dtype} (values equal)")
                    except Exception:
                        msgs.append(f"col {c}: dtype {sv.dtype} vs {ov.dtype}")
                    continue
                if not sv.equals(ov):
                    neq = (sv != ov) & ~(sv.isna() & ov.isna())
                    idx = list(neq[neq].index[:3])
                    msgs.append(
                        f"col {c}: {int(neq.sum())} cells differ, e.g. at "
                        f"{[(i, sv[i], ov[i]) for i in idx]}")
        if msgs:
            failures.append((name, "; ".join(msgs)))
        else:
            print(f"  ok  {name} ({len(spark_df)} rows)")
    for name in no_oracle:
        print(f"  --  {name} (rows-only, no oracle)")
    if failures:
        print(f"\n{len(failures)} FAILURES:")
        for name, msg in failures:
            print(f"  FAIL {name}: {msg}")
        return 1
    print(f"\nall {len(names) - len(no_oracle)} oracle queries match "
          f"({len(no_oracle)} rows-only)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  [n.strip() for n in sys.argv[3].split(",") if n.strip()]
                  if len(sys.argv) > 3 else None))
