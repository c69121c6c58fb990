#!/usr/bin/env python3
"""Writes the frozen digests under perfbench/digests that every
benchmark run checks its outputs against. Run once; re-run only when a
change to the program is meant to change its outputs.

    python3 perfbench/freeze.py kernels
    python3 perfbench/freeze.py crawl 0 63      # RefSim digests, seeds 0..63 and 42
    python3 perfbench/freeze.py sweep

`sweep` runs graft.Verify over perfbench/data/sf0.01, compares every
oracle-backed query with its DuckDB oracle (row count, column names and
types, sorted values), and keeps the digests only if all of them match.
"""
import hashlib
import json
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402

TABLES = ["lineitem", "orders", "customer", "nation", "region", "part", "supplier",
          "events", "documents", "embeddings"]


def jvm(args, limit_s):
    code, _ = run.run_jvm(args, limit_s=limit_s)
    if code != 0:
        sys.exit(f"freeze: JVM exited with code {code}")


def oracle_check(sf, out):
    """Compares Verify's output with each DuckDB oracle: row count,
    column names and types, and the sorted values."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    oracle = json.loads((Path(out) / "oracle_sql.json").read_text())
    fails = []
    for name, sql in sorted(oracle.items()):
        try:
            o = con.sql(sql).df()
            s = duckdb.sql(f"SELECT * FROM '{out}/{name}/*.parquet'").df()
            o = o.reindex(sorted(o.columns), axis=1)
            s = s.reindex(sorted(s.columns), axis=1)
            same_schema = [(c, str(o[c].dtype)) for c in o.columns] == \
                [(c, str(s[c].dtype)) for c in s.columns]
            o = o.sort_values(by=list(o.columns)).reset_index(drop=True)
            s = s.sort_values(by=list(s.columns)).reset_index(drop=True)

            def h(df):
                return hashlib.md5(df.to_csv(index=False).encode()).hexdigest()
            if not (len(o) == len(s) and same_schema and h(o) == h(s)):
                fails.append(name)
        except Exception as e:  # an oracle that cannot run is a failure too
            fails.append(f"{name} ({e})")
    return len(oracle), fails


def main():
    what = sys.argv[1]
    build.ensure_built()
    if what == "kernels":
        jvm(["--freeze", "kernels"], 300)
    elif what == "crawl":
        lo, hi = int(sys.argv[2]), int(sys.argv[3])
        seeds = sorted(set(range(lo, hi + 1)) | {42})
        jvm(["--freeze", "crawl", "--seeds", ",".join(map(str, seeds))], 3600)
    elif what == "sweep":
        jvm(["--freeze", "sweep"], 3600)
        sf = build.ROOT / "perfbench" / "data" / "sf0.01"
        n, fails = oracle_check(sf, build.OUT / "verify")
        if fails:
            (build.ROOT / "perfbench" / "digests" / "sweep.json").unlink()
            sys.exit(f"freeze: {len(fails)} of {n} oracle queries differ from DuckDB: {fails}")
        print(f"freeze: all {n} oracle queries match DuckDB; sweep digests kept")
    else:
        sys.exit(f"freeze: unknown target {what}")


if __name__ == "__main__":
    main()
