"""Simulates the grading driver: imports this checkout's __spark_entry__ from
a foreign cwd, smoke-runs entry(), then runs every queries() entry at sf0.01
and compares against oracle_sql() via DuckDB (count + schema + sorted-value
hash)."""
import hashlib, importlib.util, os, sys, time
import duckdb
# the entry of the checkout this script belongs to, whatever the cwd
ENTRY = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py")
spec = importlib.util.spec_from_file_location("__spark_entry__", ENTRY)
mod = importlib.util.module_from_spec(spec); spec.loader.exec_module(mod)

from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

df = mod.entry(spark)
rows = df.collect()
print(f"SMOKE entry(): {len(rows)} rows, schema={df.schema.simpleString()}")
assert len(rows) > 0

con = duckdb.connect()
con.execute("SET TimeZone='UTC'")
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('/root/testdata/sf0.01/{t}.parquet')")

def canon(pdf):
    cols = sorted(pdf.columns)
    rows = sorted(tuple(str(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None))
    return cols, hashlib.md5(repr(rows).encode()).hexdigest(), len(rows)

qs, osql = mod.queries(), mod.oracle_sql()
n_match = n_rows_only = n_fail = 0
slow = []
for key in sorted(qs):
    t0 = time.perf_counter()
    sdf = qs[key](spark, "/root/testdata/sf0.01").toPandas()
    dt = time.perf_counter() - t0
    slow.append((dt, key))
    if key not in osql:
        print(f"ROWS-ONLY {key}: {len(sdf)} rows [{dt:.1f}s]"); n_rows_only += 1; continue
    odf = con.execute(osql[key]).fetchdf()
    sc, sh, sn = canon(sdf); oc, oh, on = canon(odf)
    ok = sc == oc and sn == on and sh == oh
    if ok: n_match += 1
    else:
        n_fail += 1
        print(f"FAIL {key}: cols {sc==oc} n {sn}vs{on} hash {sh==oh}")
print(f"RESULT: {n_match} hash-match, {n_rows_only} rows-only, {n_fail} FAIL of {len(qs)}")
print("slowest:", [f"{k}={t:.1f}s" for t, k in sorted(slow, reverse=True)[:10]])
