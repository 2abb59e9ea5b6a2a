"""Time ``packed_topk_cosine`` as written (``parallelize``: one task per
shard) against the same kernel behind a repartition exchange.

    cd <checkout> && python <this file> <checkout> <sf_dir>

The exchange arm slices the shard list into one partition and
repartitions it to the same task count, which adds one stage before the
``mapInArrow``.  Seven alternating runs per arm on a ``get_spark``
session at ``local[4]``; the first of each arm is dropped, and the
min and median of the rest are printed.
"""
import os, sys, time

root, sf_dir = sys.argv[1], sys.argv[2]
sys.path.insert(0, os.path.abspath(root))
from mkpipe_extractor_clickhouse_spark.operators import llm_similarity as ls
from mkpipe_extractor_clickhouse_spark.session import get_spark

spark = get_spark(master="local[4]", shuffle_partitions=4)
sc = spark.sparkContext
layout = ls._packed_layout_for(spark, sf_dir)
query = ls._fetch_query_vector(os.path.join(sf_dir, "embeddings.parquet"), ls.QUERY_VEC_ID)
parallelize = sc.parallelize
arms = {
    "parallelize": parallelize,
    "repartition": lambda data, n: parallelize(data, 1).repartition(n),
}
times = {arm: [] for arm in arms}
for _ in range(7):
    for arm, fn in arms.items():
        sc.parallelize = fn
        t0 = time.perf_counter()
        ls.packed_topk_cosine(spark, layout, query, ls.TOP_K).write.format("noop").mode("overwrite").save()
        times[arm].append(time.perf_counter() - t0)
sc.parallelize = parallelize
for arm, ts in times.items():
    ts = sorted(ts[1:])
    print(f"{arm}  min {ts[0]:.3f} s  median {ts[len(ts) // 2]:.3f} s")
spark.stop()
