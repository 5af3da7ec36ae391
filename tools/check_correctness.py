#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate.

Runs graft.Verify against a scale-factor dir, then executes every
oracle_sql.json entry in DuckDB over the same parquet tables and compares
(column names sorted, rows sorted, exact value equality) — the same shape
of check the driver applies. Exit 0 iff every query matches.

Usage: python3 tools/check_correctness.py [sfdir] [--skip-verify]
           [--only=name1,name2]   # restrict to specific queries (fast gate)
"""
import json, math, os, subprocess, sys

SFDIR = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") \
    else "/root/testdata/sf0.01"
ONLY = None
for _a in sys.argv[1:]:
    if _a.startswith("--only="):
        ONLY = {s.strip() for s in _a[len("--only="):].split(",") if s.strip()}
OUT = "/tmp/verify_out_" + os.path.basename(SFDIR.rstrip("/"))  # per-SF dir: concurrent gates must not clobber each other
# The checkout this script lives in (tools/..): Verify runs that tree's code.
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def run_verify():
    env = dict(os.environ)
    if ONLY:
        env["GRAFT_VERIFY_ONLY"] = ",".join(sorted(ONLY))
    r = subprocess.run(
        ["sbt", "-batch", f"runMain graft.Verify {SFDIR} {OUT}"],
        capture_output=True, text=True, cwd=REPO, env=env)
    if r.returncode != 0:
        print(r.stdout[-4000:], r.stderr[-2000:])
        sys.exit(f"Verify main failed rc={r.returncode}")
    for line in r.stdout.splitlines():
        if "[verify]" in line:
            print(line)


def canon(v):
    if isinstance(v, float):
        return ("f", repr(v))
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    if isinstance(v, bytes):
        return ("b", v.hex())
    if isinstance(v, list):
        return ("l", tuple(canon(x) for x in v))
    try:  # Decimal and ints compare numerically
        if not isinstance(v, (str, bool)) and v is not None:
            f = float(v)
            if f == int(f):
                return ("i", int(f))
            return ("f", repr(f))
    except (TypeError, ValueError, OverflowError):
        pass
    return ("s", str(v)) if v is not None else ("n",)


def table_rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(canon(r[i]) for i in order) for r in cur.fetchall()]
    return [cols[i] for i in order], rows


def main():
    import duckdb
    if "--skip-verify" not in sys.argv:
        run_verify()
    with open(f"{OUT}/oracle_sql.json") as f:
        oracle = json.load(f)
    # Round 8: Verify writes each entry under BOTH the bare name and the
    # <name>.parquet filename (driver-key hypothesis). Normalize back to
    # bare names so each query is checked once.
    oracle = {k[:-len(".parquet")] if k.endswith(".parquet") else k: v
              for k, v in oracle.items()}
    if ONLY:
        oracle = {k: v for k, v in oracle.items() if k in ONLY}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SFDIR}/{t}.parquet')")
    failures = []
    for name, sql in sorted(oracle.items()):
        try:
            ocols, orows = table_rows(con, sql)
        except Exception as e:
            failures.append((name, f"oracle SQL error: {e}"))
            continue
        try:
            # Verify writes a Spark-native directory <name>.parquet/ with one
            # part file (round 5+); older runs left a plain file. Accept both.
            p = f"{OUT}/{name}.parquet"
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            scols, srows = table_rows(
                con, f"SELECT * FROM read_parquet('{src}')")
        except Exception as e:
            failures.append((name, f"spark result unreadable: {e}"))
            continue
        if scols != ocols:
            failures.append((name, f"schema mismatch: spark={scols} oracle={ocols}"))
            continue
        if len(srows) != len(orows):
            failures.append((name, f"row count: spark={len(srows)} oracle={len(orows)}"))
            continue
        # order-sensitive first; fall back to sorted compare with a note
        if srows == orows:
            print(f"  OK   {name} ({len(srows)} rows)")
        elif sorted(srows) == sorted(orows):
            print(f"  OK*  {name} ({len(srows)} rows, row order differs)")
        else:
            diffs = [i for i, (a, b) in enumerate(zip(sorted(srows), sorted(orows)))
                     if a != b][:3]
            detail = "; ".join(
                f"row{i}: spark={sorted(srows)[i]} oracle={sorted(orows)[i]}"
                for i in diffs)
            failures.append((name, f"value mismatch: {detail}"))
    rowsonly = [] # queries with no oracle: weaker rows>0 check
    for name, err in failures:
        print(f"  FAIL {name}: {err[:600]}")
    print(f"{len(oracle) - len(failures)}/{len(oracle)} queries match")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
