import os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__
from data_transform_spark.registry import QUERIES, ORACLES
from data_transform_spark.session import get_spark
from tests.oracle import check_key

sf = os.environ.get("ORACLE_SF", "/root/testdata/sf0.01")
spark = get_spark("oracle-replica")
keys = sys.argv[1:] or [k for k in sorted(QUERIES)]
failed = []
for key in keys:
    t0 = time.time()
    try:
        problems = check_key(spark, key, sf)
    except Exception as e:
        problems = [f"exception: {type(e).__name__}: {e}"]
    dt = time.time() - t0
    tag = "PASS" if not problems else "FAIL"
    mode = "hash" if key in ORACLES else "rows-only"
    print(f"{tag} {key} [{mode}] {dt:.1f}s", flush=True)
    for p in problems:
        print(f"     {p[:500]}", flush=True)
    if problems:
        failed.append(key)
print(f"DONE {len(keys)-len(failed)}/{len(keys)} passed; failed={failed}", flush=True)
