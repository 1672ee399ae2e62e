"""Simulates the grading driver: imports this checkout's __spark_entry__ from
a foreign cwd, smoke-runs entry(), then runs every queries() entry and
compares against oracle_sql() via DuckDB (count + schema + sorted-value
hash, ``perfbench/oracle.canon``).

    python tools/driver_sim.py [--sf DIR] [KEY ...]

With no keys it runs the smoke and then every key; with keys it runs only
those, without the smoke. DIR defaults to the sf0.01 corpus. Exits 1 on
any FAIL."""
import argparse, importlib.util, os, sys, time

# the entry of the checkout this script belongs to, whatever the cwd
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "perfbench"))
from oracle import canon, duckdb_canon  # noqa: E402

ap = argparse.ArgumentParser()
ap.add_argument("--sf", default="/root/testdata/sf0.01")
ap.add_argument("keys", nargs="*")
args = ap.parse_args()

spec = importlib.util.spec_from_file_location("__spark_entry__", os.path.join(REPO, "__spark_entry__.py"))
mod = importlib.util.module_from_spec(spec); spec.loader.exec_module(mod)

from pyspark.sql import SparkSession  # noqa: E402
spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

if not args.keys:
    df = mod.entry(spark)
    rows = df.collect()
    print(f"SMOKE entry(): {len(rows)} rows, schema={df.schema.simpleString()}")
    assert len(rows) > 0

qs, osql = mod.queries(), mod.oracle_sql()
n_match = n_rows_only = n_fail = 0
slow = []
for key in args.keys or sorted(qs):
    t0 = time.perf_counter()
    sdf = qs[key](spark, args.sf).toPandas()
    dt = time.perf_counter() - t0
    slow.append((dt, key))
    if key not in osql:
        print(f"ROWS-ONLY {key}: {len(sdf)} rows [{dt:.1f}s]"); n_rows_only += 1; continue
    sc, sh, sn = canon(sdf); oc, oh, on = duckdb_canon(args.sf, {key: osql[key]})[key]
    if sc == oc and sn == on and sh == oh:
        n_match += 1
        if args.keys: print(f"OK   {key}: {sn} rows [{dt:.1f}s]")
    else:
        n_fail += 1
        print(f"FAIL {key}: cols {sc==oc} n {sn}vs{on} hash {sh==oh}")
print(f"RESULT: {n_match} hash-match, {n_rows_only} rows-only, {n_fail} FAIL of {n_match + n_rows_only + n_fail}")
print("slowest:", [f"{k}={t:.1f}s" for t, k in sorted(slow, reverse=True)[:10]])
sys.exit(1 if n_fail else 0)
