"""Dump every optimized plan a query's build and execute touch.

    python dump_plans.py <checkout> <sf_dir> <outdir> query ...

Records the optimized logical plan at each DataFrame action the
builder runs (localCheckpoint, collect, toArrow, count) and the
returned DataFrame's plan, expression ids normalized to #x.
"""
import os, re, sys

root, sf_dir, outdir, *queries = sys.argv[1:]
sys.path.insert(0, os.path.abspath(root))
from pyspark.sql.classic.dataframe import DataFrame
from mkpipe_extractor_clickhouse_spark.session import get_spark
from mkpipe_extractor_clickhouse_spark.registry import all_specs

rec = []


def norm(s):
    s = re.sub(r"#\d+L?", "#x", s)
    s = re.sub(r"plan_id=\d+", "plan_id=x", s)
    return s


def wrap(name):
    orig = getattr(DataFrame, name)

    def f(self, *a, **k):
        rec.append((name, norm(self._jdf.queryExecution().optimizedPlan().toString())))
        return orig(self, *a, **k)

    setattr(DataFrame, name, f)


for m in ("localCheckpoint", "collect", "toArrow", "count", "toPandas"):
    wrap(m)

spark = get_spark()
specs = all_specs()
os.makedirs(outdir, exist_ok=True)
for q in queries:
    rec.clear()
    df = specs[q].builder(spark, sf_dir)
    steps = list(rec)
    final = norm(df._jdf.queryExecution().optimizedPlan().toString())
    with open(os.path.join(outdir, f"{q}.txt"), "w") as fh:
        for i, (m, p) in enumerate(steps):
            fh.write(f"== build step {i}: {m} ==\n{p}\n")
        fh.write(f"== returned DataFrame ==\n{final}\n")
    print(q, len(steps), "build actions", flush=True)
spark.stop()
