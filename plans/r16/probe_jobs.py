"""Print every Spark job of one seed-7 ``incremental_tick`` pass (sf0.1):
tick, table, job id, task count and the job's role, read back from the
status REST API; the bracketed text is Spark's own call-site name.

    python plans/r16/probe_jobs.py <repo checkout> > jobs.txt

Inputs come from ``perfbench``'s own generator and tick config; each
table-tick's jobs are tagged by wrapping the runner's ``run_once``.  A
job with no SQL execution is the footer read Spark runs to infer a
schema."""
import json, os, shutil, sys, tempfile, urllib.request
root = os.path.abspath(sys.argv[1])
sys.path.insert(0, root); sys.path.insert(0, os.path.join(root, "perfbench"))
import helper as H, workloads as W
from run import TRACE_CONF
from mkpipe_extractor_clickhouse_spark.session import get_spark
from mkpipe_extractor_clickhouse_spark.pipeline import run_pipelines
from mkpipe_extractor_clickhouse_spark.sources import extract

tmp = tempfile.mkdtemp(prefix="probe_jobs_")
sf_dir = os.path.join(tmp, "catalog")
slices = H.Server().prepare_tick(7, 0.1, sf_dir, os.path.join(tmp, "slices"))
spark = get_spark(extra_conf=TRACE_CONF)
sc = spark.sparkContext
W.first_touch(spark, sf_dir, W.IncrementalTick.tables)

def wrap(fn):
    def run_once(self, spark, table, source_filter=None):
        sc.addJobTag("table:" + table.target_name)
        try:
            return fn(self, spark, table, source_filter)
        finally:
            sc.removeJobTag("table:" + table.target_name)
    return run_once
extract.IncrementalRunner.run_once = wrap(extract.IncrementalRunner.run_once)

wl = W.IncrementalTick.__new__(W.IncrementalTick)
proot = os.path.join(tmp, "pass")
config = wl._config(proot)
for tick in range(1 + W.ARRIVALS + W.IDLE_TICKS):
    for t in W.TICK_TABLES:
        if tick < len(slices[t.name]):
            p = os.path.join(proot, "src", f"{t.name}.parquet", f"part-{tick:05d}.parquet")
            os.makedirs(os.path.dirname(p), exist_ok=True)
            shutil.copyfile(slices[t.name][tick], p)
    sc.addJobTag(f"tick:{tick}")
    run_pipelines(config, spark)
    sc.removeJobTag(f"tick:{tick}")
sc._jsc.sc().listenerBus().waitUntilEmpty()
base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
jobs = json.load(urllib.request.urlopen(base + "/jobs"))
execs = json.load(urllib.request.urlopen(base + "/sql?details=true&planDescription=true&offset=0&length=100000"))
role = {}
for e in execs:
    ids = sorted(e.get("successJobIds", []) + e.get("failedJobIds", []))
    plan = e.get("planDescription", "")
    for k, jid in enumerate(ids):
        if "InsertIntoHadoopFsRelationCommand" in plan:
            role[jid] = "write" if k == len(ids) - 1 else "broadcast build (existing keys)"
        elif "CollectLimit" in plan or "Limit" in plan:
            role[jid] = "empty probe (take 1)"
        else:
            role[jid] = "query: " + e.get("description", "")[:40]
rows = []
for j in jobs:
    tags = dict(t.split(":", 1) for t in j.get("jobTags", ()) if ":" in t)
    if "tick" in tags:
        site = role.get(j["jobId"], "schema inference (no SQL execution)") + "  [" + j["name"] + "]"
        rows.append((int(tags["tick"]), tags.get("table", "-"), j["jobId"], site, j["numTasks"]))
rows.sort(key=lambda r: (r[0], r[1], r[2]))
print(f"{'tick':>4}  {'table':<9} {'job':>4}  {'tasks':>5}  call site")
for tick, table, jid, site, n in rows:
    print(f"{tick:>4}  {table:<9} {jid:>4}  {n:>5}  {site}")
print(f"total jobs {len(rows)}, tasks {sum(r[4] for r in rows)}")
from collections import Counter
print("jobs per table-tick:", dict(Counter((r[0], r[1]) for r in rows)))
spark.stop()
shutil.rmtree(tmp, ignore_errors=True)
