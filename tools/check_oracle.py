#!/usr/bin/env python3
"""Dev-only oracle parity checker (emulates the driver's correctness gate).

Runs graft.Verify via sbt to dump each query to parquet, then executes the
corresponding oracle SQL in DuckDB over the same testdata tables and compares
row counts, sorted-column schemas and value multisets. NOT part of the
shipped library — python/duckdb are driver-side tools only.
"""
import json
import subprocess
import sys
import time
from pathlib import Path

import duckdb

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT_DIR = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
SKIP_SPARK = "--skip-spark" in sys.argv
# --only=a,b,c restricts both the Spark dump and the compare to a subset
ONLY = set()
for a in sys.argv:
    if a.startswith("--only="):
        ONLY = {x.strip() for x in a[len("--only="):].split(",") if x.strip()}

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
# the checkout this script lives in: Verify runs from here, not a fixed path
REPO_ROOT = Path(__file__).resolve().parent.parent


def run_verify():
    only = (" " + ",".join(sorted(ONLY))) if ONLY else ""
    subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF_DIR} {OUT_DIR}{only}'],
        check=True, cwd=REPO_ROOT,
    )


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = f"{v!r}"
            vals.append(str(v))
        out.append("\x01".join(vals))
    return sorted(out), [cols[i] for i in order]


def main():
    if not SKIP_SPARK:
        run_verify()
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    oracle = json.loads(Path(f"{OUT_DIR}/oracle_sql.json").read_text())
    failures = []
    walls = {}  # name -> seconds to read its parquet, run its oracle SQL and normalize both
    for name, sql in sorted(oracle.items()):
        if ONLY and name not in ONLY:
            continue
        pq = Path(f"{OUT_DIR}/{name}")
        if not pq.exists():
            failures.append((name, "spark output missing"))
            continue
        t0 = time.monotonic()
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{pq}/*.parquet')").fetchall()
            got_cols = [d[0] for d in con.description]
            want = con.execute(sql).fetchall()
            want_cols = [d[0] for d in con.description]
        except Exception as e:
            walls[name] = time.monotonic() - t0
            failures.append((name, f"error: {e}"))
            continue
        g, gc = normalize(got, got_cols)
        w, wc = normalize(want, want_cols)
        walls[name] = time.monotonic() - t0
        if gc != wc:
            failures.append((name, f"schema mismatch: spark={gc} oracle={wc}"))
        elif g != w:
            diff_g = [x for x in g if x not in set(w)][:3]
            diff_w = [x for x in w if x not in set(g)][:3]
            failures.append((name, f"value mismatch rows spark={len(g)} oracle={len(w)} "
                                   f"spark-only={diff_g} oracle-only={diff_w}"))
        else:
            print(f"OK   {name}  ({len(g)} rows, {walls[name]:.2f}s)")
    for name, msg in failures:
        wall = f" ({walls[name]:.2f}s)" if name in walls else ""
        print(f"FAIL {name}{wall}: {msg}")
    print("\nslowest compares:")
    for name, wall in sorted(walls.items(), key=lambda kv: -kv[1])[:5]:
        print(f"  {wall:8.2f}s  {name}")
    n = len(ONLY & set(oracle)) if ONLY else len(oracle)
    print(f"\n{n - len(failures)}/{n} oracle queries match")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
