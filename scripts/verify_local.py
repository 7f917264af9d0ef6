#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Usage: python3 scripts/verify_local.py [sfDir] [outDir] [names]

Assumes `sbt "runMain graft.Verify <sfDir> <outDir> [names]"` already
ran (or run with --run to invoke it). For each query name in
oracle_sql.json, reads the Spark parquet result under outDir and the
DuckDB result of oracle_sql.json[name] over the same sfDir tables,
sorts columns by name, sorts rows, and compares values exactly
(strictest plausible interpretation of the driver's row/schema/hash
check).

`names` is the comma list graft.Verify takes: only those names are
checked, a name oracle_sql.json lacks is a failure, and so is a
selected name whose result directory is missing. With no names (or
only empty ones) every name in oracle_sql.json is checked.
"""
import json, subprocess, sys
from pathlib import Path

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize cell values to strings with full precision
    def cell(v):
        if v is None or v is pd.NaT or (isinstance(v, float) and pd.isna(v)):
            return "<null>"
        if isinstance(v, float):
            return repr(v)  # 17 sig digits round-trip
        return repr(v)
    out = df.apply(lambda col: col.map(cell))
    out = out.sort_values(by=list(out.columns)).reset_index(drop=True)
    return out


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    out_dir = Path(args[1] if len(args) > 1 else "/tmp/verify_out")
    names = {n.strip() for n in (args[2] if len(args) > 2 else "").split(",") if n.strip()}
    if "--run" in sys.argv:
        r = subprocess.run(
            ["sbt", "-batch", f'runMain graft.Verify {sf_dir} {out_dir} {",".join(sorted(names))}'.rstrip()],
            cwd="/root/repo", capture_output=True, text=True)
        sys.stdout.write(r.stdout[-3000:])
        if r.returncode != 0:
            sys.stderr.write(r.stderr[-3000:]); sys.exit(1)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())

    n_pass = n_fail = 0
    for name in sorted(names - oracle.keys()):
        print(f"FAIL {name}: not in oracle_sql.json")
        n_fail += 1
    for name, sql in sorted(oracle.items()):
        if names and name not in names:
            continue
        qdir = out_dir / name
        try:
            spark_df = con.sql(f"SELECT * FROM '{qdir}/*.parquet'").df()
            duck_df = con.sql(sql).df()
            a, b = norm(spark_df), norm(duck_df)
            if list(a.columns) != list(b.columns):
                print(f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}")
                n_fail += 1
            elif len(a) != len(b):
                print(f"FAIL {name}: rows {len(a)} vs {len(b)}")
                n_fail += 1
            elif not a.equals(b):
                neq = (a != b).any(axis=1)
                idx = a.index[neq][:3]
                print(f"FAIL {name}: {int(neq.sum())}/{len(a)} rows differ; first diffs:")
                for i in idx:
                    for c in a.columns:
                        if a.at[i, c] != b.at[i, c]:
                            print(f"  row {i} col {c}: spark={a.at[i, c]} duck={b.at[i, c]}")
                n_fail += 1
            else:
                print(f"PASS {name} ({len(a)} rows, {len(a.columns)} cols)")
                n_pass += 1
        except Exception as e:
            print(f"ERROR {name}: {type(e).__name__}: {e}")
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
