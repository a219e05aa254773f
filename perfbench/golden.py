#!/usr/bin/env python3
"""Regenerate perfbench/golden.json, the digests batch_families checks
every query execution against.

    python3 perfbench/golden.py [scale]        # default scale 0.01

Runs each batch_families query once through the engine, runs the
query's OracleSql through DuckDB over the same fixture tables, and
compares the two results row by row (sorted, exact; NaN equal to NaN).
Only when every query matches does it record the engine's digests
(row count and order-independent row-hash sum) under `sf<scale>`.
"""
import json
import math
import os
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = (lambda v: "NaN" if isinstance(v, float) and math.isnan(v) else v)
    out = sorted((tuple(norm(r[i]) for i in order) for r in cur.fetchall()),
                 key=lambda t: tuple(str(x) for x in t))
    return [cols[i] for i in order], out


def main():
    scale = sys.argv[1] if len(sys.argv) > 1 else "0.01"
    sf_dir = run.fixture_dir(scale)
    classpath = build.build()
    jvm_out = os.path.abspath(os.path.join(run.STATE, "golden"))
    cmd = run.java_cmd(classpath, jvm_out) + [
        "--workload", "batch_oracle", "--seed", "0", "--seconds", "0", "--out", jvm_out,
        "--cores", str(run.cores()), "--sf-dir", sf_dir]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
    oracle = json.load(open(os.path.join(jvm_out, "oracle.json")))

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    bad = []
    for q, e in oracle.items():
        got_cols, got = rows(con, f"SELECT * FROM read_parquet('{jvm_out}/golden/{q}/*.parquet')")
        want_cols, want = rows(con, e["sql"])
        ok = got_cols == want_cols and got == want
        print(f"{q:<28} rows={len(got):<7} {'ok' if ok else 'MISMATCH'}")
        if not ok:
            bad.append(q)
    if bad:
        sys.exit(f"oracle mismatch on {bad}; golden.json left unchanged")
    path = os.path.join(run.HERE, "golden.json")
    golden = json.load(open(path)) if os.path.exists(path) else {}
    golden[f"sf{scale}"] = {q: e["digest"] for q, e in oracle.items()}
    with open(path, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
