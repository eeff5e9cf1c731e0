"""Naive driver simulation: ONE default-config session, no GC, no cache
clearing between queries — the driver's own evaluation shape. Runs the
50 _PRIORITY names (the driver window) against the DuckDB oracle, and
names every query after which spark.sql.adaptive.enabled or
spark.sql.shuffle.partitions differs from its value before the run.

Run it FROM /tmp (cd /tmp && python3 /root/repo/tools/driver_sim.py):
local-mode Python workers inherit the driver cwd, so a repo-root run
hides worker-shipping (cloudpickle by-reference) failures — the class
_shipping.py exists to kill. Committed in round 8 after living in /tmp
since round 5 (memory: the "naive_driver_sim.py pattern"); run it
right after rotating the window AND at close-out."""
import sys, time, math
sys.path.insert(0, "/root/repo")
import duckdb
from pyspark.sql import SparkSession

from keycloak_event_stream_spark.catalog import TABLE_NAMES, table_path
from keycloak_event_stream_spark.registry import collect, _PRIORITY

SF = "/root/testdata/sf0.01"
spark = SparkSession.builder.master("local[32]").getOrCreate()
con = duckdb.connect()
for t in TABLE_NAMES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(SF, t)}')")

queries, oracle = collect()
names = _PRIORITY

def norm(v):
    if v is None: return ("N",)
    if isinstance(v, float):
        return ("f","nan") if math.isnan(v) else ("f", v)
    if hasattr(v, "isoformat"): return ("t", v.isoformat())
    if isinstance(v, bool): return ("b", v)
    if isinstance(v, int): return ("i", v)
    return ("s", str(v))

# a query must leave the session conf as it found it (scoped queries
# restore their width and AQE overrides on exit)
WATCHED = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
conf0 = {k: spark.conf.get(k, None) for k in WATCHED}
drifted = []

ok=fail=0
t_all=time.time()
for i, name in enumerate(names):
    t0=time.time()
    try:
        sdf = queries[name](spark, SF)
        cols = sorted(sdf.columns)
        srows = sorted(tuple(norm(r[c]) for c in cols) for r in sdf.collect())
        ores = con.execute(oracle[name]).fetchall()
        ocols = [d[0] for d in con.description]
        order = sorted(range(len(ocols)), key=lambda j: ocols[j])
        orows = sorted(tuple(norm(r[j]) for j in order) for r in ores)
        def close(a,b):
            if a==b: return True
            if isinstance(a,tuple) and isinstance(b,tuple) and len(a)==len(b):
                if len(a)==2 and a[0]==b[0]=="f" and isinstance(a[1],float) and isinstance(b[1],float):
                    return math.isclose(a[1],b[1],rel_tol=1e-9,abs_tol=1e-12)
                return all(close(x,y) for x,y in zip(a,b))
            return False
        good = len(srows)==len(orows) and sorted(cols)==sorted(ocols) and all(close(a,b) for a,b in zip(srows,orows))
        status = "OK" if good else "MISMATCH"
        if good: ok+=1
        else: fail+=1
        print(f"[{i+1}/50] {name}: {status} ({len(srows)} rows, {time.time()-t0:.1f}s)", flush=True)
    except Exception as e:
        fail+=1
        print(f"[{i+1}/50] {name}: ERR {type(e).__name__}: {str(e)[:200]}", flush=True)
    conf = {k: spark.conf.get(k, None) for k in WATCHED}
    if conf != conf0:
        drifted.append(name)
        print(f"CONF DRIFT after {name}: {conf0} -> {conf}", flush=True)
        for k, v in conf0.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
# heap check
try:
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    used = (rt.totalMemory()-rt.freeMemory())//(1024*1024)
    cached = spark._jsparkSession.sharedState().cacheManager().cachedData().size()
    print(f"JVM heap used: {used} MB, CacheManager entries: {cached}", flush=True)
except Exception: pass
print(f"conf drift: {', '.join(drifted) or 'none'}", flush=True)
print(f"DONE: {ok} ok, {fail} fail, {time.time()-t_all:.0f}s total", flush=True)
