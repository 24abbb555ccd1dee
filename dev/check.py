#!/usr/bin/env python3
"""Dev-only correctness harness mirroring the driver's gate:
runs graft.Verify at a given SF, then replays each oracle SQL in DuckDB
over the same parquet tables and diffs against Spark's parquet output
with perfbench/run.py's rule (sorted rows, exact string values). The
result of an oracle that reads only the tables is cached under
perfbench/.work/oracle, keyed by its SQL, the DuckDB version and the
(path, size, mtime) of every file of the tables its SQL names;
`rm -r perfbench/.work/oracle` clears it. Oracles that read a file
Verify wrote, and Spark outputs, are never cached. NOT part of the shipped library.

Usage: python3 dev/check.py [sfDir] [outDir] [--skip-verify]
"""
import sys, os, re, json, glob, subprocess
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "perfbench"))
import duckdb
from run import canonical, compare, expected_rows

pos = [a for a in sys.argv[1:] if not a.startswith("--")]
sf = pos[0] if len(pos) > 0 else "/root/testdata/sf0.01"
out = pos[1] if len(pos) > 1 else "/tmp/graft_verify"

if "--skip-verify" not in sys.argv:
    r = subprocess.run(
        ["sbt", f"runMain graft.Verify {sf} {out}"],
        cwd="/root/repo", capture_output=True, text=True)
    tail = (r.stdout + r.stderr)[-3000:]
    if r.returncode != 0:
        print(tail); sys.exit(1)
    for line in (r.stdout + r.stderr).splitlines():
        if "[verify]" in line:
            print(line)

con = duckdb.connect()
tables = {}  # view name -> its files; a directory table counts file by file
for p in sorted(glob.glob(f"{sf}/*.parquet")):
    name = os.path.basename(p).replace(".parquet", "")
    # driver testdata ships single-file parquet; dev-generated scale
    # dirs (ScaleGen) are Spark-written DIRECTORIES — glob inside them
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")
    tables[name] = sorted(os.path.join(d, n) for d, _, ns in os.walk(p) for n in ns) if os.path.isdir(p) else [p]


def fingerprint(sql):
    """The oracle cache key beside the SQL: the DuckDB version and the
    files of every table the SQL names as a whole word, in any case. A
    name that is also a column or a word in a literal over-matches,
    which costs only a cache miss."""
    named = [n for n in tables if re.search(rf"\b{re.escape(n)}\b", sql, re.IGNORECASE)]
    return json.dumps([duckdb.__version__] + [
        (f, os.stat(f).st_size, os.stat(f).st_mtime_ns) for n in named for f in tables[n]])


oracle = json.load(open(f"{out}/oracle_sql.json"))
# File-reading oracles pin the driver's verification SF (sf0.01) in
# their path; when checking another SF locally, rebase the path onto
# the SF under test so the oracle reads the file Verify just wrote.
sf_name = os.path.basename(sf.rstrip("/"))
if sf_name != "sf0.01":
    oracle = {k: v.replace("_sf0.01/", f"_{sf_name}/") for k, v in oracle.items()}
results = {}
for name in sorted(oracle):
    sql = oracle[name]
    spark_dir = f"{out}/{name}"
    if not os.path.isdir(spark_dir):
        results[name] = "NO_SPARK_OUTPUT"; continue
    try:
        expected = expected_rows(con, sql, fingerprint(sql))
    except Exception as e:
        results[name] = f"ORACLE_ERR {e}"; continue
    try:
        sdf = con.sql(f"SELECT * FROM '{spark_dir}/*.parquet'").df()
    except Exception as e:
        results[name] = f"SPARK_READ_ERR {e}"; continue
    problem = compare(expected, canonical(sdf))
    results[name] = "OK" if problem is None else f"DIFF {problem}"

# rows-only entries (no oracle)
for d in sorted(glob.glob(f"{out}/*")):
    name = os.path.basename(d)
    if os.path.isdir(d) and name not in oracle:
        try:
            n = con.sql(f"SELECT count(*) FROM '{d}/*.parquet'").fetchone()[0]
            results[name] = f"ROWS_ONLY n={n}" + ("" if n > 0 else " !! EMPTY")
        except Exception as e:
            results[name] = f"ROWS_ONLY_ERR {e}"

ok = sum(1 for v in results.values()
         if v == "OK" or (v.startswith("ROWS_ONLY n=") and "EMPTY" not in v))
for k, v in results.items():
    flag = "  " if (v == "OK" or (v.startswith("ROWS_ONLY n=") and "EMPTY" not in v)) else "XX"
    print(f"{flag} {k}: {v}")
print(f"\n{ok}/{len(results)} pass")
sys.exit(0 if ok == len(results) else 1)
