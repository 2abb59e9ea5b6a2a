"""Bucketed co-located joins (SURVEY §2 'partitioning & shuffle' design
point): writing both fact tables bucketed by the join key lets Spark
join them with ZERO exchanges — at 100 TB this converts the dominant
fact-fact shuffle into a local merge per bucket."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mkpipe_extractor_clickhouse_spark.catalog import load_table
from mkpipe_extractor_clickhouse_spark.plans import plan_tree


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    # External tables under a per-run directory: two test runs in one
    # checkout never share a table location.
    root = tmp_path_factory.mktemp("bucketed")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    (
        li.write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .option("path", str(root / "li_bucketed"))
        .saveAsTable("li_bucketed")
    )
    (
        o.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .option("path", str(root / "o_bucketed"))
        .saveAsTable("o_bucketed")
    )
    yield "li_bucketed", "o_bucketed"
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS o_bucketed")


def test_bucketed_join_no_shuffle(spark, sf_dir, bucketed_tables):
    li_t, o_t = bucketed_tables
    li = spark.table(li_t)
    o = spark.table(o_t)
    # Disable broadcast so the join strategy question is real.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_totalprice"
        )
        tree = plan_tree(joined)
        assert "SortMergeJoin" in tree
        assert "Exchange" not in tree  # co-located: bucket layout reused
        # and the result is still correct
        n = joined.count()
        li_raw = load_table(spark, sf_dir, "lineitem")
        assert n == li_raw.count()  # every lineitem has its order
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_unbucketed_join_shuffles(spark, sf_dir):
    """Control: the same join on raw parquet must shuffle both sides —
    the delta vs test_bucketed_join_no_shuffle is the point."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders")
        joined = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_totalprice"
        )
        assert plan_tree(joined).count("Exchange") == 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
