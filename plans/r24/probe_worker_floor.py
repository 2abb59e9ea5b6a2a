"""Measure the fixed per-task cost of Python workers, one checkout per arm.

    python plans/r24/probe_worker_floor.py <sf_dir> <checkout> [<checkout> ...] [--queries q1,q2]

Each checkout (a clone or exported tree of one revision) runs in its own
child process, with the checkout as working directory, on that
checkout's ``get_spark`` session at ``local[4]``.  The child prints:

* ``worker``: ``pyspark.__file__`` as a Python worker sees it, the
  number of ``zipimporter`` entries in the worker's
  ``sys.path_importer_cache`` and the time of one
  ``importlib.invalidate_caches()`` there (max over 4 tasks);
* ``floor``: a trivial 4-task ``mapInArrow`` and a 4-task JVM job (both
  into a ``noop`` sink), min and max of 5 after one warm-up;
* ``init``: Spark's INFO ``Times:`` lines for 5
  more 4-task ``mapInArrow`` jobs: per task, ``init + min(boot, 0)``
  in ms, that is the time from the task's start to the worker being
  ready, with the idle wait of a reused worker taken out;
* per query (default l3_topk_cosine, l4c_packed_topk,
  l18_dedup_clusters, l20_kmeans_ivf): the one-shot time (rebuild plus
  ``noop`` write, min of 3), and the build and execute job and task
  counts of the first of the three, read from the status REST API as
  ``plans/r17/probe_jobs.py`` does.
"""
import json, os, re, statistics, subprocess, sys, time, urllib.request

QUERIES = ("l3_topk_cosine", "l4c_packed_topk", "l18_dedup_clusters", "l20_kmeans_ivf")
TIMES = re.compile(r"Times: total = (-?\d+), boot = (-?\d+), init = (-?\d+), finish = (-?\d+)")


def arm(root: str, sf_dir: str, queries) -> None:
    sys.path.insert(0, root)
    from mkpipe_extractor_clickhouse_spark.registry import all_specs
    from mkpipe_extractor_clickhouse_spark.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=4, extra_conf={
        "spark.ui.enabled": "true", "spark.ui.port": "0",
        "spark.ui.showConsoleProgress": "false", "spark.ui.retainedJobs": "100000",
    })
    sc = spark.sparkContext

    def probe(batches):
        import importlib, sys, time, zipimport
        import pyarrow as pa
        import pyspark
        for _ in batches:
            pass
        zips = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t0) * 1e3
        yield pa.RecordBatch.from_pylist([{"file": pyspark.__file__, "zips": zips, "ms": ms}])

    def passthrough(batches):
        yield from batches

    rows = spark.range(4, numPartitions=4).mapInArrow(
        probe, "file string, zips long, ms double").collect()
    print(f"worker  pyspark {rows[0].file}  zipimporters {rows[0].zips}  "
          f"invalidate_caches {max(r.ms for r in rows):.2f} ms")

    def timed(df):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    py = spark.range(4, numPartitions=4).mapInArrow(passthrough, "id long")
    jvm = spark.range(4, numPartitions=4)
    timed(py), timed(jvm)
    tp = [timed(py) for _ in range(5)]
    tj = [timed(jvm) for _ in range(5)]
    print(f"floor  mapInArrow 4 tasks {min(tp):.3f}-{max(tp):.3f} s  "
          f"JVM 4 tasks {min(tj):.3f}-{max(tj):.3f} s")
    sys.stdout.flush()
    sc.setLogLevel("INFO")
    for _ in range(5):
        timed(py)
    sc.setLogLevel("WARN")
    print("init-marker", flush=True)

    specs = all_specs()
    best = {}
    for rep in range(3):
        for q in queries:
            t0 = time.perf_counter()
            sc.setJobGroup(f"{q}#{rep}:build", q)
            df = specs[q].builder(spark, sf_dir)
            sc.setJobGroup(f"{q}#{rep}:exec", q)
            df.write.format("noop").mode("overwrite").save()
            sc.setLocalProperty("spark.jobGroup.id", None)
            best[q] = min(best.get(q, 1e9), time.perf_counter() - t0)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    jobs = json.load(urllib.request.urlopen(base + "/jobs"))
    for q in queries:
        mine = {ph: [j for j in jobs if j.get("jobGroup") == f"{q}#0:{ph}"] for ph in ("build", "exec")}
        print(f"query  {q}  one-shot min of 3 {best[q]:.3f} s  " + "  ".join(
            f"{ph} jobs {len(js)} tasks {sum(j['numTasks'] for j in js)}" for ph, js in mine.items()))
    spark.stop()


def main() -> None:
    args = sys.argv[1:]
    queries = QUERIES
    if "--queries" in args:
        i = args.index("--queries")
        queries = tuple(args[i + 1].split(","))
        del args[i:i + 2]
    if args[0] == "--arm":
        arm(os.path.abspath(args[1]), args[2], queries)
        return
    sf_dir = os.path.abspath(args[0])
    for checkout in args[1:]:
        root = os.path.abspath(checkout)
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--arm", root, sf_dir,
             "--queries", ",".join(queries)],
            cwd=root, capture_output=True, text=True,
        )
        print(f"== {root}")
        if out.returncode:
            print(out.stderr[-3000:])
            continue
        # INFO logging is on only around the 5 trivial jobs, so every
        # Times: line on stderr is one of their tasks.
        ms = [int(b) * (int(b) < 0) + int(i) for _t, b, i, _f in TIMES.findall(out.stderr)]
        for line in out.stdout.splitlines():
            if line == "init-marker":
                print(f"init  {len(ms)} tasks  median {statistics.median(ms):.0f} ms  "
                      f"min {min(ms)}  max {max(ms)} ms" if ms else "init  no Times: lines")
            else:
                print(line)


if __name__ == "__main__":
    main()
