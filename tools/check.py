#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run Verify (sbt) at a
given SF, then compare each query's parquet output against its DuckDB
oracle, column-name-sorted, value-exact (floats reported with max |diff|).

Usage: python3 tools/check.py [sfdir] [outdir] [--skip-verify]
"""
import json, math, sys, subprocess, glob, os

ARGS = [a for a in sys.argv[1:] if not a.startswith("--")]
JSON_OUT = None
if "--json" in sys.argv:
    i = sys.argv.index("--json") + 1
    if i >= len(sys.argv) or sys.argv[i].startswith("--"):
        sys.exit("--json requires an output path")
    JSON_OUT = sys.argv[i]
    if JSON_OUT in ARGS:
        ARGS.remove(JSON_OUT)
SF = ARGS[0] if len(ARGS) > 0 else "/root/testdata/sf0.001"
OUT = ARGS[1] if len(ARGS) > 1 else "/tmp/graft_verify"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

if "--skip-verify" not in sys.argv:
    r = subprocess.run(
        ["sbt", f'runMain graft.Verify {SF} {OUT}'],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True, text=True)
    tail = "\n".join((r.stdout + r.stderr).splitlines()[-15:])
    if r.returncode != 0:
        print(tail); sys.exit(1)
    print("[verify ran]")

import duckdb
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))
fails = 0
report = {}
for name in sorted(oracle):
    sql = oracle[name]
    pdir = f"{OUT}/{name}"
    files = glob.glob(f"{pdir}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output"); fails += 1
        report[name] = {"rows_match": False, "schema_match": False, "hash_match": False,
                        "spark_rows": 0, "oracle_rows": None, "err": "no spark output"}
        continue
    try:
        got = con.execute(f"SELECT * FROM read_parquet('{pdir}/*.parquet')").fetchdf()
        want = con.execute(sql).fetchdf()
    except Exception as e:
        print(f"FAIL {name}: {e}"); fails += 1
        report[name] = {"rows_match": False, "schema_match": False, "hash_match": False,
                        "spark_rows": None, "oracle_rows": None, "err": str(e)[:300]}
        continue
    got = got[sorted(got.columns)]
    want = want[sorted(want.columns)]
    if list(got.columns) != list(want.columns):
        print(f"FAIL {name}: columns {list(got.columns)} vs {list(want.columns)}"); fails += 1
        report[name] = {"rows_match": None, "schema_match": False, "hash_match": False,
                        "spark_rows": len(got), "oracle_rows": len(want), "err": "column mismatch"}
        continue
    if len(got) != len(want):
        print(f"FAIL {name}: rows {len(got)} vs {len(want)}"); fails += 1
        report[name] = {"rows_match": False, "schema_match": True, "hash_match": False,
                        "spark_rows": len(got), "oracle_rows": len(want), "err": None}
        continue
    bad = []
    for c in got.columns:
        a, b = got[c].tolist(), want[c].tolist()
        if got[c].dtype.kind == 'f':
            mx = 0.0
            for x, y in zip(a, b):
                xm = x is None or (isinstance(x, float) and math.isnan(x))
                ym = y is None or (isinstance(y, float) and math.isnan(y))
                if xm or ym:
                    # null/NaN on either side must be null/NaN on both —
                    # abs(num - nan) is nan and max() would silently keep
                    # the old value, hiding a one-sided NaN.
                    if not (xm and ym):
                        bad.append((c, "null-mismatch")); break
                    continue
                mx = max(mx, abs(x - y))
            if mx > 0:
                bad.append((c, f"maxdiff={mx:g}"))
        else:
            for i, (x, y) in enumerate(zip(a, b)):
                eq = (x == y) or (x is None and y is None) or (str(x) == str(y))
                try:
                    if not eq and isinstance(x, float) and math.isnan(x) and math.isnan(y):
                        eq = True
                except Exception:
                    pass
                if not eq:
                    bad.append((c, f"row {i}: {x!r} != {y!r}")); break
    # dtype drift check (int64 vs int32 etc.)
    st = con.execute(f"DESCRIBE SELECT * FROM read_parquet('{pdir}/*.parquet')").fetchall()
    wt = con.execute(f"DESCRIBE {sql}").fetchall()
    stypes = {r[0]: r[1] for r in st}
    wtypes = {r[0]: r[1] for r in wt}
    tdrift = {c: (stypes[c], wtypes[c]) for c in stypes if c in wtypes and stypes[c] != wtypes[c]}
    ok = not bad
    report[name] = {"rows_match": True, "schema_match": not tdrift, "hash_match": ok,
                    "spark_rows": len(got), "oracle_rows": len(want),
                    "err": (str(bad[:3])[:300] if bad else None)}
    if bad:
        print(f"FAIL {name}: {bad[:3]}" + (f" typedrift={tdrift}" if tdrift else "")); fails += 1
    elif tdrift:
        print(f"WARN {name}: values ok, type drift {tdrift}")
    else:
        print(f"OK   {name} ({len(got)} rows)")
if JSON_OUT:
    meta = {"sf_dir": SF, "n_queries": len(oracle), "n_fail": fails}
    json.dump({"_meta": meta, **{k: report[k] for k in sorted(report)}},
              open(JSON_OUT, "w"), indent=1)
    print(f"[wrote {JSON_OUT}]")
print(("ALL OK" if fails == 0 else f"{fails} FAILURES"))
sys.exit(1 if fails else 0)
