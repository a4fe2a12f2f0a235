#!/usr/bin/env python3
"""Re-pin the analytics_mix result fingerprints.

Usage (from the root of a checkout, after a run kept its work dir with
PERFBENCH_KEEP=1):

    python3 perfbench/pin.py <run dir>/results .perfbench/data/analytics-sf<sf>

Every warm-pass result is compared with its DuckDB oracle, however long
the oracle takes; only when all of them match are the fingerprints of
the queries outside LIVE_ORACLE written to perfbench/pins.json. Queries
in LIVE_ORACLE are checked against DuckDB on every run instead.
"""
import json
import os
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

# oracles that finish in well under a second on the benchmark's data
LIVE_ORACLE = ["q1_agg", "q5_sort", "q8_window_rank", "q83_weighted_median",
               "q90_pagerank"]


def main():
    results, data = sys.argv[1], sys.argv[2]
    import duckdb
    oracle = json.load(open(f"{results}/oracle_sql.json"))
    con = duckdb.connect()
    for t in sorted(os.listdir(data)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{data}/{t}')")
    pinned = {}
    for q in sorted(oracle):
        t0 = time.time()
        got = run.read_result(f"{results}/{q}")
        ok = run.same_table(got, con.execute(oracle[q]).df())
        print(f"{q}: oracle {'MATCH' if ok else 'DIFF'} in {time.time() - t0:.1f}s", flush=True)
        if not ok:
            sys.exit(f"{q} does not match its oracle; nothing pinned")
        if q not in LIVE_ORACLE:
            pinned[q] = run.table_hash(got)
    path = os.path.join(run.BENCH, "pins.json")
    with open(path, "w") as f:
        json.dump({"live_oracle": LIVE_ORACLE, "pinned": pinned}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
