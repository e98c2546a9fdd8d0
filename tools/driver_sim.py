"""Independent driver simulation — imports __spark_entry__ exactly as the
driver would, runs entry() + sampled queries vs DuckDB with its own compare."""
import os, sys, hashlib
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as em
import duckdb
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[8]")
         .appName("driver-sim").config("spark.ui.enabled","false").getOrCreate())

# t1 smoke
df = em.entry(spark)
rows = df.collect()
print("T1 entry rows:", len(rows), "cols:", df.columns)
assert len(rows) > 0

# t2 sample: order-insensitive value hash, independent implementation
q = em.queries(); o = em.oracle_sql()
print("declared:", len(q), "with-oracle:", len(o))
sf = "/root/testdata/sf0.01"
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

def vhash(pdf):
    cols = sorted(pdf.columns)
    cells = []
    for r in pdf[cols].itertuples(index=False, name=None):
        cells.append("|".join(repr(x) for x in r))
    return hashlib.md5("\n".join(sorted(cells)).encode()).hexdigest()

import random
random.seed(7)
sample = random.sample(sorted(o), 12)
bad = []
for k in sample:
    s = q[k](spark, sf).toPandas()
    d = con.sql(o[k]).df()
    ok = len(s)==len(d) and sorted(s.columns)==sorted(d.columns) and vhash(s)==vhash(d)
    print(("OK " if ok else "MISMATCH ")+k, len(s), "rows")
    if not ok: bad.append(k)
print("sample result:", "ALL MATCH" if not bad else f"BAD={bad}")

# probes
df2 = em.entry(spark); assert df2.count() == len(rows), "entry not idempotent"
print("PROBE entry twice -> same rowcount OK")
r1 = q["source_stream_file"](spark, sf).count()
r2 = q["source_stream_file"](spark, sf).count()
print("PROBE source_stream_file twice ->", r1, r2)
try:
    q["scan_parquet"](spark, "/root/testdata/nope")
    sdf = q["scan_parquet"](spark, "/root/testdata/nope").count()
    print("PROBE bad sf_dir -> unexpectedly returned", sdf)
except Exception as e:
    print("PROBE bad sf_dir -> clean error:", type(e).__name__, str(e).split("\n")[0][:100])
