"""List the Spark jobs of registered queries (build, then a ``noop``
write) with call site and task count, and time each query one-shot.

    python plans/r17/probe_jobs.py <repo checkout> <sf_dir> [query ...] [--list] [--hash]

The queries default to l20_kmeans_ivf, l21_pq_topk and l21b_ivfpq_topk.
Without ``--list`` it prints one line per query: the one-shot time
(rebuild plus ``noop`` write, min of 3) and the job and task counts of
the build and execute phases of the first of those three.  ``--list``
also prints every job: its phase, id, task count and Spark's call-site
name, read back from the status REST API.  ``--hash`` then builds each
query once more and prints its row count and a sha256 over its Arrow
schema and its rows, each rendered with ``repr`` (exact for doubles)
and sorted, so two checkouts' outputs compare bit for bit."""
import hashlib, json, os, sys, time, urllib.request
args = [a for a in sys.argv[1:] if a not in ("--list", "--hash")]
root = os.path.abspath(args[0])
sf_dir = args[1]
QUERIES = tuple(args[2:]) or ("l20_kmeans_ivf", "l21_pq_topk", "l21b_ivfpq_topk")
sys.path.insert(0, root)
from mkpipe_extractor_clickhouse_spark.session import get_spark
from mkpipe_extractor_clickhouse_spark.registry import all_specs

spark = get_spark(extra_conf={
    "spark.ui.enabled": "true", "spark.ui.port": "0",
    "spark.ui.showConsoleProgress": "false", "spark.ui.retainedJobs": "100000",
})
sc = spark.sparkContext
specs = all_specs()
best = {}
for rep in range(3):
    for q in QUERIES:
        t0 = time.perf_counter()
        sc.setJobGroup(f"{q}#{rep}:build", q)
        df = specs[q].builder(spark, sf_dir)
        sc.setJobGroup(f"{q}#{rep}:exec", q)
        df.write.format("noop").mode("overwrite").save()
        sc.setLocalProperty("spark.jobGroup.id", None)
        best[q] = min(best.get(q, 1e9), time.perf_counter() - t0)
sc._jsc.sc().listenerBus().waitUntilEmpty()
base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
jobs = sorted(json.load(urllib.request.urlopen(base + "/jobs")), key=lambda j: j["jobId"])
for q in QUERIES:
    mine = {ph: [j for j in jobs if j.get("jobGroup") == f"{q}#0:{ph}"] for ph in ("build", "exec")}
    print(f"{q}  one-shot min of 3 {best[q]:.3f} s  " + "  ".join(
        f"{ph} jobs {len(js)} tasks {sum(j['numTasks'] for j in js)}" for ph, js in mine.items()))
    if "--list" in sys.argv:
        for ph, js in mine.items():
            for j in js:
                site = j["name"].replace(root + os.sep, "")
                print(f"    {ph:<5} job {j['jobId']:>4}  tasks {j['numTasks']:>4}  [{site}]")
if "--hash" in sys.argv:
    for q in QUERIES:
        out = specs[q].builder(spark, sf_dir).toArrow()
        rows = sorted(repr(r) for r in out.to_pylist())
        h = hashlib.sha256("\n".join([str(out.schema), *rows]).encode()).hexdigest()
        print(f"{q}  rows {out.num_rows}  hash {h[:16]}")
spark.stop()
