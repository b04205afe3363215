#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: compare graft.Verify
parquet dumps against the DuckDB oracle SQL, column-name-sorted,
row-sorted, exact-match (with a tiny float tolerance fallback report)."""
import json, math, sys
from pathlib import Path

import duckdb

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v

def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = Path(sys.argv[2] if len(sys.argv) > 2 else "/root/repo/target/verify_out")
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.loads((out_dir / "oracle_sql.json").read_text())
    n_pass = n_fail = 0
    # every DECLARED query is checked: a query whose dump is missing or
    # unreadable (it crashed in graft.Verify) is a failure, not a skip
    for name in sorted(oracles):
        qdir = out_dir / name
        if not qdir.is_dir():
            print(f"  {name:24s} FAIL missing: no output directory")
            n_fail += 1
            continue
        try:
            got_rel = con.sql(f"SELECT * FROM '{qdir}/*.parquet'")
            got_cols = sorted(got_rel.columns)
            got = con.execute(
                f"SELECT {', '.join(got_cols)} FROM got_rel ORDER BY ALL"
            ).fetchall()
        except duckdb.Error as e:
            print(f"  {name:24s} FAIL unreadable: {str(e).splitlines()[0]}")
            n_fail += 1
            continue
        exp_rel = con.sql(oracles[name])
        exp_cols = sorted(exp_rel.columns)
        if exp_cols != got_cols:
            print(f"  {name:24s} FAIL schema: got={got_cols} exp={exp_cols}")
            n_fail += 1
            continue
        exp = con.execute(
            f"SELECT {', '.join(exp_cols)} FROM exp_rel ORDER BY ALL"
        ).fetchall()
        if len(got) != len(exp):
            print(f"  {name:24s} FAIL rows: got={len(got)} exp={len(exp)}")
            n_fail += 1
            continue
        mism = 0
        first = None
        for g, e in zip(got, exp):
            if tuple(map(norm, g)) != tuple(map(norm, e)):
                mism += 1
                if first is None:
                    first = (g, e)
        if mism:
            print(f"  {name:24s} FAIL values: {mism}/{len(got)} rows differ; first {first}")
            n_fail += 1
        else:
            print(f"  {name:24s} OK rows={len(got)}")
            n_pass += 1
    for name in sorted(p.name for p in out_dir.iterdir()
                       if p.is_dir() and p.name not in oracles):
        print(f"  {name:24s} NO-ORACLE (not declared)")
    print(f"== {n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
