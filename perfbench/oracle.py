"""DuckDB oracle check of query outputs, compared the way tools/check.py
compares them: columns sorted by name, the same row count, every value
equal in order (floats exactly, a null or NaN only against a null or NaN).
"""
import glob
import json
import math
import os

TABLES = ("events", "documents", "embeddings")


def _missing(x):
    return x is None or (isinstance(x, float) and math.isnan(x))


def _column_ok(got, want, is_float):
    for x, y in zip(got, want):
        if _missing(x) or _missing(y):
            if not (_missing(x) and _missing(y)):
                return False
        elif is_float:
            if x != y:
                return False
        elif str(x) != str(y):
            try:
                if not bool(x == y):
                    return False
            except ValueError:  # list values: numpy compares them element-wise
                return False
    return True


def check(sf_dir, out_dir):
    """Compare every output under out_dir with its oracle SQL over the
    tables in sf_dir. Returns {query: None if it matches, else why}."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    report = {}
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            report[name] = "no output"
            continue
        got = con.execute(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchdf()
        want = con.execute(sql).fetchdf()
        got, want = got[sorted(got.columns)], want[sorted(want.columns)]
        if list(got.columns) != list(want.columns):
            report[name] = f"columns {list(got.columns)} vs {list(want.columns)}"
        elif len(got) != len(want):
            report[name] = f"rows {len(got)} vs {len(want)}"
        else:
            bad = [c for c in got.columns
                   if not _column_ok(got[c].tolist(), want[c].tolist(), got[c].dtype.kind == "f")]
            report[name] = f"values differ in {bad}" if bad else None
    con.close()
    return report
