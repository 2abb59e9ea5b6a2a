"""Strict oracle compare of l20, l21 and l21b on both Lloyd paths.

    python plans/r17/hash_both_paths.py <repo checkout> <sf_dir>

Runs each query twice, with the default ``_DRIVER_FIT_BYTES`` (the fits
run on the driver) and with it set to 0 (one distributed pass per
iteration), and compares each result with the query's normalized DuckDB
oracle as ``driver_sim --strict`` does; a mismatch raises."""
import os, sys
import duckdb
root = os.path.abspath(sys.argv[1])
sf_dir = sys.argv[2]
sys.path.insert(0, root)
from tests._compare import compare_results
from mkpipe_extractor_clickhouse_spark.session import get_spark
from mkpipe_extractor_clickhouse_spark.registry import all_specs, _normalized_oracle
from mkpipe_extractor_clickhouse_spark.operators import llm_similarity as ls


def rows(tab):
    return list(zip(*[c.to_pylist() for c in tab.columns]))


spark = get_spark()
specs = all_specs()
con = duckdb.connect()
con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')")
default = ls._DRIVER_FIT_BYTES
for name in ("l20_kmeans_ivf", "l21_pq_topk", "l21b_ivfpq_topk"):
    otab = con.sql(_normalized_oracle(name, specs[name].oracle)).fetch_arrow_table()
    for path, bound in (("driver", default), ("distributed", 0)):
        ls._DRIVER_FIT_BYTES = bound
        tab = specs[name].builder(spark, sf_dir).toArrow()
        compare_results(tab.column_names, rows(tab), otab.column_names, rows(otab), strict=True)
        print(f"{name} {os.path.basename(sf_dir)} {path}: MATCH ({tab.num_rows} rows)", flush=True)
spark.stop()
