#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run DuckDB oracle SQL over
the testdata parquet and compare against the Verify.scala parquet dumps.
Usage: check_oracle.py <sfDir> <verifyOutDir>

DuckDB gets a memory limit (half of MemTotal) and one thread per CPU, and
each query a time bound (QUERY_TIMEOUT_S): a query past it prints
`FAIL <name>: timeout` and the script goes on to the next one.
"""
import json
import os
import sys
import threading

import duckdb
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
MEMORY_SHARE = 0.5
QUERY_TIMEOUT_S = 600.0


def mem_total_bytes():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def normalize(rows, cols):
    # Exact compare (no float rounding): stricter than the driver's hash.
    out = []
    for row in rows:
        out.append("|".join(repr(row[c]) for c in sorted(cols)))
    return sorted(out)


def run_bounded(con, sql, timeout_s):
    """The query's Arrow table, or None when it ran past `timeout_s`."""
    timer = threading.Timer(timeout_s, con.interrupt)
    timer.start()
    try:
        return con.execute(sql).fetch_arrow_table()
    except duckdb.InterruptException:
        return None
    finally:
        timer.cancel()


def main(sf_dir, out_dir):
    con = duckdb.connect()
    con.execute(f"SET memory_limit = '{int(mem_total_bytes() * MEMORY_SHARE) // 2**20}MB'")
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    ok = fail = 0
    for name, sql in sorted(oracle.items()):
        try:
            # one oracle run and one parquet read per query: rows and
            # dtypes both come from these two Arrow tables
            want_t = run_bounded(con, sql, QUERY_TIMEOUT_S)
            if want_t is None:
                print(f"FAIL {name}: timeout")
                fail += 1
                continue
            got_t = pq.read_table(f"{out_dir}/{name}")
            want, got = want_t.to_pylist(), got_t.to_pylist()
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            fail += 1
            continue
        wcols = set(want[0].keys()) if want else set()
        gcols = set(got[0].keys()) if got else set()
        if want and got and wcols != gcols:
            print(f"FAIL {name}: column mismatch oracle={sorted(wcols)} spark={sorted(gcols)}")
            fail += 1
            continue
        wtypes = {f.name: str(f.type) for f in want_t.schema}
        gtypes = {f.name: str(f.type) for f in got_t.schema}
        tdiffs = {c: (wtypes[c], gtypes.get(c)) for c in wtypes if wtypes.get(c) != gtypes.get(c)}
        if tdiffs:
            print(f"FAIL {name}: dtype mismatch {tdiffs}")
            fail += 1
            continue
        w, g = normalize(want, wcols or gcols), normalize(got, wcols or gcols)
        if w == g:
            print(f"ok   {name} ({len(g)} rows)")
            ok += 1
        else:
            print(f"FAIL {name}: rows oracle={len(w)} spark={len(g)}")
            for i, (a, b) in enumerate(zip(w, g)):
                if a != b:
                    print(f"  first diff at {i}:\n   oracle: {a}\n   spark : {b}")
                    break
            if len(w) != len(g) and min(len(w), len(g)) > 0:
                print(f"   oracle[0]: {w[0]}\n   spark [0]: {g[0]}")
            fail += 1
    print(f"\n{ok} ok, {fail} failed")
    return 1 if fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
