"""Declared queries exercising the extractor-parity core (SURVEY §2 M1)
through the driver's t2 gate.

The key invariant (implicit in the reference's incremental loop,
reference ``mkpipe_extractor_clickhouse/__init__.py:71-115``): replaying
a table through incremental extraction must converge to the same result
as one full load. x1 runs the whole runner — chunked arrivals, ``>=``
boundary re-reads, idempotent appends, state commits — and its oracle is
simply ``SELECT * FROM events``.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ..sources.extract import (
    IncrementalRunner,
    ParquetExtractor,
    ParquetLoader,
    TableConfig,
)
from ..sources.filter_spec import FilterSpec
from ..sources.state import WatermarkStore

# Cutoffs simulating four arrival batches over the events table's
# 2024-01 span (FIXTURES.md), final batch unbounded.
_CUTOFFS = ["2024-01-08", "2024-01-15", "2024-01-22", None]


@register(
    "x1_incremental_replay",
    oracle="SELECT * FROM events",
    tags=("S7", "S8", "S10", "P3", "A1", "T7"),
)
def x1_incremental_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full incremental lifecycle: 4 chunked runs of the
    extract→load→commit-state loop over events (iterate_column=ts,
    datetime), then read back the accumulated destination. Equality
    with the full table proves watermark advancement, boundary-dedup
    idempotency, and append semantics end-to-end."""
    # The destination outlives this function (the caller collects the
    # returned DataFrame lazily); clean up at process exit instead.
    workdir = tempfile.mkdtemp(prefix="x1_incr_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    table = TableConfig(
        name="events",
        replication_method="incremental",
        iterate_column="ts",
        iterate_column_type="datetime",
        dedup_keys=("event_id",),
    )
    runner = IncrementalRunner(
        extractor=ParquetExtractor(sf_dir),
        loader=ParquetLoader(workdir),
        store=WatermarkStore(os.path.join(workdir, "state.json")),
    )
    for cutoff in _CUTOFFS:
        source_filter = (
            F.col("ts") < F.lit(cutoff).cast("timestamp_ntz")
            if cutoff is not None
            else None
        )
        runner.run_once(spark, table, source_filter=source_filter)
    return spark.read.parquet(os.path.join(workdir, "events.parquet"))


@register(
    "x2_static_bounds_backfill",
    oracle="""
    SELECT * FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts < TIMESTAMP '2024-01-20 00:00:00'
    """,
    tags=("P4",),
)
def x2_static_bounds_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static-bounds backfill: half-open [lower, upper) range, mirroring
    reference __init__.py:72-85 (lower inclusive, upper exclusive)."""
    table = TableConfig(
        name="events",
        replication_method="incremental",
        iterate_column="ts",
        iterate_column_type="datetime",
        filter_lower_bound="2024-01-10 00:00:00",
        filter_upper_bound="2024-01-20 00:00:00",
    )
    result = ParquetExtractor(sf_dir).extract(table, spark)
    assert result.write_mode == "append"
    return result.df


@register(
    "x3_custom_query_splice",
    oracle="""
    SELECT event_type, COUNT(*) AS n, MAX(event_id) AS max_id
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
    GROUP BY event_type
    """,
    tags=("S2", "S3"),
)
def x3_custom_query_splice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom query with {query_filter} splice (reference
    __init__.py:96-99, README.md:57-66) — the user's SQL executes
    natively in Spark over registered views, with the synthesized
    watermark predicate spliced in."""
    table = TableConfig(
        name="events",
        replication_method="incremental",
        iterate_column="ts",
        iterate_column_type="datetime",
        custom_query=(
            "SELECT event_type, COUNT(*) AS n, MAX(event_id) AS max_id "
            "FROM events {query_filter} GROUP BY event_type"
        ),
    )
    result = ParquetExtractor(sf_dir).extract(
        table, spark, last_point="2024-01-15 00:00:00"
    )
    return result.df


@register(
    "x4_watermark_int",
    oracle="SELECT * FROM events WHERE event_id >= 5000",
    tags=("P3", "P5"),
)
def x4_watermark_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int-typed watermark predicate (reference __init__.py:88-89):
    unquoted literal, ``>=`` comparison, pushed to the parquet scan."""
    spec = FilterSpec(column="event_id", column_type="int", last_point="5000")
    return load_table(spark, sf_dir, "events").filter(spec.to_column())


@register(
    "x5_upsert_merge",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN year(o_orderdate) = 1998
                THEN o_totalprice + 1000.0 ELSE o_totalprice
           END AS o_totalprice,
           o_orderdate, o_orderpriority,
           CAST(year(o_orderdate) AS INT) AS o_year
    FROM orders
    """,
    tags=("S7", "S8"),
)
def x5_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE semantics end-to-end (sources/merge.py): tick 1 loads all
    orders partitioned by year; tick 2 re-delivers every 1998 order with
    a changed o_totalprice. The merge must replace exactly the 1998
    rows — touched partitions rewritten, every other year's files
    untouched — so the destination equals "orders with 1998 repriced"."""
    from ..sources.extract import ExtractResult
    from ..sources.merge import MergeParquetLoader

    workdir = tempfile.mkdtemp(prefix="x5_merge_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    table = TableConfig(name="orders", dedup_keys=("o_orderkey",))
    loader = MergeParquetLoader(workdir, partition_col="o_year")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    loader.load(spark, table, ExtractResult(df=orders, write_mode="overwrite"))
    updates = orders.filter(F.col("o_year") == 1998).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
    )
    loader.load(spark, table, ExtractResult(df=updates, write_mode="append"))
    merged = spark.read.parquet(loader.path(table))
    return merged.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
        F.col("o_year").cast("int").alias("o_year"),
    )


from ._determinism import DSUM  # noqa: E402
from ._determinism import _Q  # noqa: E402
from ._determinism import _quantize as _quantize_local  # noqa: E402


@register(
    "x6_incremental_rollup",
    oracle=f"""
    SELECT event_type,
           CAST(date_trunc('day', ts) AS DATE) AS day,
           COUNT(*) AS n_events,
           {DSUM.format(x='value')} AS sum_value,
           MIN(ts) AS min_ts, MAX(ts) AS max_ts
    FROM events
    GROUP BY event_type, date_trunc('day', ts)
    """,
    tags=("A2", "T7", "EXT"),
)
def x6_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate-view maintenance (AggregatingMergeTree /
    materialized-view parity, sources/rollup.py): 4 chunked ticks each
    aggregate only the new window and merge mergeable states into the
    rollup destination — fact history is never rescanned. Equality with
    the one-shot GROUP BY over the full table proves state merging,
    boundary exactly-once, and watermark commits end-to-end."""
    from ..sources.rollup import IncrementalRollup

    workdir = tempfile.mkdtemp(prefix="x6_rollup_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    rollup = IncrementalRollup(sf_dir, workdir)
    for cutoff in _CUTOFFS:
        source_filter = (
            F.col("ts") < F.lit(cutoff).cast("timestamp_ntz")
            if cutoff is not None
            else None
        )
        rollup.tick(spark, source_filter=source_filter)
    return rollup.result(spark)


@register(
    "x8_manifest_replay",
    oracle="SELECT * FROM events",
    tags=("S7", "S8", "T7", "EXT"),
)
def x8_manifest_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x1's incremental lifecycle through the manifest-committed sink
    (sources/manifest.py): 4 chunked ticks, each one atomic rename
    publishing data AND watermark together — no sidecar state file, no
    crash window between write and commit. Reading the final snapshot
    back equal to the full source proves watermark advancement,
    snapshot isolation, and boundary dedup under the lakehouse-style
    commit protocol."""
    from ..sources.manifest import ManifestLoader

    workdir = tempfile.mkdtemp(prefix="x8_mfst_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    table = TableConfig(
        name="events",
        replication_method="incremental",
        iterate_column="ts",
        iterate_column_type="datetime",
        dedup_keys=("event_id",),
    )
    runner = IncrementalRunner(ParquetExtractor(sf_dir), ManifestLoader(workdir))
    for cutoff in _CUTOFFS:
        source_filter = (
            F.col("ts") < F.lit(cutoff).cast("timestamp_ntz")
            if cutoff is not None
            else None
        )
        runner.run_once(spark, table, source_filter=source_filter)
    return runner.loader.table(table).read(spark)


@register(
    "x9_manifest_upsert_view",
    oracle="""
    WITH updates AS (
      SELECT event_id, ts, user_id, event_type,
             CAST(value + 1000 AS DOUBLE) AS value, props,
             1 AS batch_seq
      FROM events WHERE event_id % 10 = 0
    ),
    base AS (
      SELECT event_id, ts, user_id, event_type, value, props, 0 AS batch_seq
      FROM events
    ),
    merged AS (
      SELECT * FROM base UNION ALL SELECT * FROM updates
    )
    SELECT event_id, user_id, event_type, value
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY event_id ORDER BY batch_seq DESC) AS rn
      FROM merged
    ) WHERE rn = 1
    """,
    tags=("S8", "W1", "EXT"),
)
def x9_manifest_upsert_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ upsert over the manifest table — the sibling of
    x5's copy-on-write MERGE: updates are simply APPENDED as a new
    commit (cheap, no partition rewrite), and the read resolves
    latest-per-key with a row_number over the commit sequence — the
    ReplacingMergeTree/Delta-MOR strategy.  Write cost O(update batch),
    read cost one window over the snapshot; compaction (manifest.py)
    later collapses versions back to read-optimal.  The commit
    sequence comes from each batch's manifest metadata — the reader
    stamps each batch dir with the version that introduced it
    (read_with_commit_seq), no physical sequence column in the data."""
    import atexit
    import shutil
    import tempfile

    from ..sources.manifest import ManifestedTable

    ev = load_table(spark, sf_dir, "events")
    updates = ev.filter(F.col("event_id") % 10 == 0).withColumn(
        "value", F.col("value") + 1000.0
    )
    workdir = tempfile.mkdtemp(prefix="x9_mor_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    mt = ManifestedTable(workdir)
    mt.commit_append(ev)
    mt.commit_append(updates)

    from pyspark.sql import Window

    w = Window.partitionBy("event_id").orderBy(F.desc("_commit_seq"))
    return (
        mt.read_with_commit_seq(spark)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "value")
    )


@register(
    "x10_scd2_dimension",
    oracle="""
    SELECT user_id,
           event_type AS status,
           value,
           ts AS effective_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS effective_to,
           CASE WHEN LEAD(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM events
    """,
    tags=("S8", "W3", "EXT"),
)
def x10_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 build: turn a change stream
    (per-key attribute updates ordered by time) into versioned
    dimension rows with [effective_from, effective_to) validity and an
    is_current flag — the warehouse-standard history table the
    reference's append sink feeds but never materializes. One window
    (lead over the key's time order) — a single hash shuffle on the
    dimension key, no self-join; at 100 TB this is the canonical
    changelog→dimension plan and composes with the manifest sink's
    merge-on-read view (x9) for the serving side."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.col("event_type").alias("status"),
        "value",
        F.col("ts").alias("effective_from"),
        nxt.alias("effective_to"),
        F.when(nxt.isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_current"),
    )


_PROFILE_COLS = [
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "double"),
    ("o_orderpriority", "str"),
]


def _profile_oracle() -> str:
    parts = []
    for c, kind in _PROFILE_COLS:
        if kind == "double":
            mn = f"CAST(CAST(ROUND(MIN({c}) * 1000000) AS BIGINT) AS VARCHAR)"
            mx = f"CAST(CAST(ROUND(MAX({c}) * 1000000) AS BIGINT) AS VARCHAR)"
        else:
            mn, mx = f"CAST(MIN({c}) AS VARCHAR)", f"CAST(MAX({c}) AS VARCHAR)"
        parts.append(f"""
    SELECT '{c}' AS column_name,
           COUNT(*) - COUNT({c}) AS null_count,
           COUNT(DISTINCT {c}) AS n_distinct,
           {mn} AS min_value, {mx} AS max_value
    FROM orders""")
    return " UNION ALL ".join(parts)


@register(
    "x11_table_profile",
    oracle=_profile_oracle(),
    tags=("A1", "A3", "EXT"),
)
def x11_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile — one row per column with null
    count, exact distinct count, and min/max (stringified; doubles as
    1e-6-scaled longs so formatting is engine-independent). The data
    engineer's first query against any new table, and the statistics a
    cost-based optimizer ingests.

    One pruned pass PER COLUMN, unioned — NOT one agg with five
    DISTINCTs: multiple exact distinct aggregates make Spark Expand
    the scan x(aggs+1) (measured 8x slower on the lineitem variant of
    this profile); per-column passes each read ONE parquet column,
    which is also the shape that wins at 100 TB on a wide table. Swap
    the exact count-distincts for approx_count_distinct to drop to a
    single pass."""
    o = load_table(spark, sf_dir, "orders")
    parts = None
    for c, kind in _PROFILE_COLS:
        if kind == "double":
            mn = F.round(F.min("v") * 1_000_000).cast("long").cast("string")
            mx = F.round(F.max("v") * 1_000_000).cast("long").cast("string")
        else:
            mn = F.min("v").cast("string")
            mx = F.max("v").cast("string")
        one = (
            o.select(F.col(c).alias("v"))
            .agg(
                F.sum(F.col("v").isNull().cast("long")).alias("null_count"),
                F.countDistinct("v").alias("n_distinct"),
                mn.alias("min_value"),
                mx.alias("max_value"),
            )
            .select(F.lit(c).alias("column_name"), "*")
        )
        parts = one if parts is None else parts.unionByName(one)
    return parts


CDC_T1 = "1998-04-01"
CDC_T2 = "1998-07-01"


@register(
    "x12_cdc_snapshot_diff",
    oracle=f"""
    WITH old_state AS (
      SELECT user_id,
             MAX({{'ts': ts, 'event_id': event_id}}).event_id AS event_id
      FROM events WHERE ts < TIMESTAMP '{CDC_T1} 00:00:00'
      GROUP BY user_id
    ),
    new_state AS (
      SELECT user_id,
             MAX({{'ts': ts, 'event_id': event_id}}).event_id AS event_id
      FROM events WHERE ts < TIMESTAMP '{CDC_T2} 00:00:00'
      GROUP BY user_id
    )
    SELECT COALESCE(o.user_id, n.user_id) AS user_id,
           CASE WHEN o.user_id IS NULL THEN 'insert'
                WHEN o.event_id <> n.event_id THEN 'update'
                ELSE 'unchanged' END AS change_type,
           o.event_id AS old_event_id,
           n.event_id AS new_event_id
    FROM old_state o FULL OUTER JOIN new_state n ON o.user_id = n.user_id
    """,
    tags=("S8", "J4", "EXT", "cdc"),
)
def x12_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two snapshot times — the diff a
    downstream consumer reads after two incremental ticks (Delta CDF /
    Debezium shape): per user, the latest state row as of T1 vs as of
    T2, classified insert / update / unchanged (the source is
    append-only, so deletes cannot occur — documented contract).
    Each state is one argmax aggregate (max(struct(ts, event_id)) —
    deterministic, event_id breaks ts ties); the full-outer join on
    the state keys is user-cardinality, not event-cardinality. At
    100 TB both aggregates collapse map-side and the join shuffles
    only O(users) state rows."""
    ev = load_table(spark, sf_dir, "events")

    def state(cutoff: str) -> DataFrame:
        return (
            ev.filter(F.col("ts") < F.lit(cutoff).cast("timestamp_ntz"))
            .groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id")).alias("s"))
            .select("user_id", F.col("s.event_id").alias("event_id"))
        )

    o = state(f"{CDC_T1} 00:00:00").alias("o")
    n = state(f"{CDC_T2} 00:00:00").alias("n")
    j = o.join(n, F.col("o.user_id") == F.col("n.user_id"), "full_outer")
    return j.select(
        F.coalesce(F.col("o.user_id"), F.col("n.user_id")).alias("user_id"),
        F.when(F.col("o.user_id").isNull(), "insert")
        .when(F.col("o.event_id") != F.col("n.event_id"), "update")
        .otherwise("unchanged")
        .alias("change_type"),
        F.col("o.event_id").alias("old_event_id"),
        F.col("n.event_id").alias("new_event_id"),
    )


@register(
    "x13_temporal_dim_join",
    oracle="""
    WITH dim AS (
      SELECT user_id, event_id AS dim_event_id, value AS dim_value,
             ts AS eff_from,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS eff_to
      FROM events WHERE event_type = 'purchase'
    )
    SELECT f.event_id, f.user_id, d.dim_event_id,
           ROUND(d.dim_value, 6) AS dim_value
    FROM events f
    JOIN dim d
      ON f.user_id = d.user_id
     AND f.ts >= d.eff_from
     AND (f.ts < d.eff_to OR d.eff_to IS NULL)
    WHERE f.event_type = 'click'
    """,
    tags=("J9", "W3", "EXT", "scd"),
)
def x13_temporal_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving-fact enrichment against a slowly-changing
    dimension: each click fact joins the purchase-state row that was
    VALID AT the fact's timestamp (the x10 SCD2 validity intervals,
    queried j9-style). The join keeps an equi key (user_id) next to
    the interval predicate, so Spark plans a hash/sort-merge join on
    user_id with the range as a residual filter — never a cartesian;
    at 100 TB both sides co-partition on user_id and the interval
    check stays row-local. Intervals are half-open and tie-broken by
    event_id, so every fact matches at most one dimension row —
    deterministic."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("dim_event_id"),
            F.col("value").alias("dim_value"),
            F.col("ts").alias("eff_from"),
        )
        .withColumn("eff_to", F.lead("eff_from").over(
            Window.partitionBy("user_id").orderBy("eff_from", "dim_event_id")
        ))
    )
    f = ev.filter(F.col("event_type") == "click").alias("f")
    d = dim.alias("d")
    j = f.join(
        d,
        (F.col("f.user_id") == F.col("d.user_id"))
        & (F.col("f.ts") >= F.col("d.eff_from"))
        & ((F.col("f.ts") < F.col("d.eff_to")) | F.col("d.eff_to").isNull()),
    )
    return j.select(
        F.col("f.event_id").alias("event_id"),
        F.col("f.user_id").alias("user_id"),
        "dim_event_id",
        F.round("dim_value", 6).alias("dim_value"),
    )


@register(
    "x14_clickhouse_dialect_query",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) FILTER (WHERE value > 100) AS big_events,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 END)
             AS purchases,
           COUNT(DISTINCT user_id) AS uniq_users,
           MAX(event_id) AS max_id
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY date_trunc('day', ts)
    """,
    tags=("S3", "EXT", "dialect"),
)
def x14_clickhouse_dialect_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The porting path end-to-end: a custom_query written in
    CLICKHOUSE dialect (toStartOfDay / countIf / sumIf / uniqExact —
    exactly what a reference user's passthrough SQL looks like) runs
    through the extractor with custom_query_dialect='clickhouse'.
    sources/ch_dialect.py translates the documented dialect subset to
    Spark SQL, then the ordinary S3 native-execution path takes over;
    the oracle is the ANSI equivalent, so a hash-match proves the
    translation preserves semantics, not just syntax."""
    from ..sources.extract import ParquetExtractor, TableConfig

    table = TableConfig(
        name="events",
        custom_query=(
            "SELECT toStartOfDay(ts) AS day, "
            "countIf(value > 100) AS big_events, "
            "sumIf(1, event_type = 'purchase') AS purchases, "
            "uniqExact(user_id) AS uniq_users, "
            "max(event_id) AS max_id "
            "FROM events "
            "WHERE event_type IN ('click', 'purchase') "
            "GROUP BY toStartOfDay(ts)"
        ),
        custom_query_dialect="clickhouse",
    )
    result = ParquetExtractor(sf_dir).extract(table, spark)
    return result.df


@register(
    "x15_partitioned_destination",
    oracle="""
    SELECT event_id, user_id, event_type, value,
           CAST(date_trunc('day', ts) AS DATE) AS day
    FROM events
    WHERE CAST(date_trunc('day', ts) AS DATE)
          BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
    """,
    tags=("S7", "S9", "P4", "EXT"),
)
def x15_partitioned_destination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned destination + pruned readback: events written
    partitionBy(day), then read with a day-range predicate. The filter
    prunes at the DIRECTORY level — Spark lists only the 3 matching
    day=… partitions, the skipped days' files are never opened (the
    same partition-pruning contract tests/test_partition_pruning.py
    locks on the plan; this query proves the round-trip VALUES).
    Partition columns come back as strings from directory names, so
    day is re-cast; at 100 TB this layout is what makes incremental
    backfills touch only their date range."""
    workdir = tempfile.mkdtemp(prefix="x15_part_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.date_trunc("day", "ts").cast("date").alias("day"),
    )
    dest = os.path.join(workdir, "events_by_day")
    ev.write.partitionBy("day").mode("overwrite").parquet(dest)
    back = spark.read.parquet(dest)
    return back.filter(
        F.col("day").between(F.lit("2024-01-10"), F.lit("2024-01-12"))
    ).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.col("day").cast("date").alias("day"),
    )


@register(
    "x16_manifest_merge",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CASE WHEN year(o_orderdate) = 1998
                THEN o_totalprice + 500.0 ELSE o_totalprice END
             AS o_totalprice
    FROM orders
    UNION ALL
    SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
           o_totalprice
    FROM orders WHERE o_orderkey % 1000 = 7
    """,
    tags=("S7", "S8", "EXT", "merge"),
)
def x16_manifest_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO on the manifest table (copy-on-write): load orders,
    then merge a source batch carrying (a) every 1998 order repriced
    (matched → update) and (b) a synthetic new-key slice (not matched
    → insert). The read-back must equal "orders with 1998 repriced
    plus the inserts" — proving both MERGE arms and snapshot
    atomicity through the optimistic-retry publish. Time travel to
    the pre-merge version keeps working (tests cover it); the oracle
    checks the post-merge head."""
    from ..sources.manifest import ManifestedTable

    workdir = tempfile.mkdtemp(prefix="x16_merge_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    t = ManifestedTable(os.path.join(workdir, "orders"))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    full = load_table(spark, sf_dir, "orders")
    t.commit_overwrite(orders)
    updates = (
        full.filter(F.year("o_orderdate") == 1998)
        .select(
            "o_orderkey",
            "o_custkey",
            (F.col("o_totalprice") + 500.0).alias("o_totalprice"),
        )
    )
    inserts = orders.filter(F.col("o_orderkey") % 1000 == 7).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_custkey",
        "o_totalprice",
    )
    t.merge(spark, updates.unionByName(inserts), keys=("o_orderkey",))
    return t.read(spark)


@register(
    "x17_stats_pruned_read",
    oracle="""
    SELECT * FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <= TIMESTAMP '2024-01-14 23:59:59'
    """,
    tags=("S1", "P4", "EXT", "pruning"),
)
def x17_stats_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest zone maps end-to-end: events land in four date-ranged
    append batches with per-batch ts min/max recorded in the manifest
    (read from parquet footers at commit — no extra scan), then a
    5-day range read goes through read_pruned, which opens ONLY the
    batch dirs whose range can intersect (tests assert ≥2 of 4 dirs
    are skipped). The oracle is the plain filtered table, so the
    hash-match proves skipping loses no rows — the Iceberg
    min/max-skipping model at directory granularity, which at 100 TB
    turns a time-bounded backfill from a full scan into a handful of
    directory opens."""
    from datetime import datetime

    from ..sources.manifest import ManifestedTable

    workdir = tempfile.mkdtemp(prefix="x17_zone_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    t = ManifestedTable(os.path.join(workdir, "events"), stats_cols=("ts",))
    ev = load_table(spark, sf_dir, "events")
    bounds = [None, "2024-01-08", "2024-01-15", "2024-01-22", None]
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        chunk = ev
        if lo is not None:
            chunk = chunk.filter(F.col("ts") >= F.lit(lo).cast("timestamp_ntz"))
        if hi is not None:
            chunk = chunk.filter(F.col("ts") < F.lit(hi).cast("timestamp_ntz"))
        t.commit_append(chunk)
    return t.read_pruned(
        spark,
        "ts",
        lo=datetime(2024, 1, 10),
        hi=datetime(2024, 1, 14, 23, 59, 59),
    )


@register(
    "x18_catalog_transaction",
    oracle=f"""
    SELECT event_type,
           CAST(date_trunc('day', ts) AS DATE) AS day,
           COUNT(*) AS n_events,
           {DSUM.format(x='value')} AS sum_value,
           (SELECT COUNT(*) FROM events) AS catalog_events_total
    FROM events
    GROUP BY event_type, date_trunc('day', ts)
    """,
    tags=("S7", "S8", "T7", "EXT", "transaction"),
)
def x18_catalog_transaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table transactional tick: raw events AND their daily
    rollup land through ManifestCatalog.commit_multi — one atomic
    catalog flip exposes both or neither (the torn-pair hazard
    single-table formats leave to the reader). Two chunked ticks run;
    the result reads BOTH tables through the same catalog snapshot:
    the rollup rows plus the raw-event total they must reconcile
    with. A hash-match proves the pair stayed consistent through the
    multi-commit sequence. Catalog mechanics covered further by
    tests/test_manifest.py (crash window, concurrent publish)."""
    from ..sources.manifest import ManifestCatalog

    workdir = tempfile.mkdtemp(prefix="x18_cat_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    cat = ManifestCatalog(workdir)
    ev = load_table(spark, sf_dir, "events")
    cutoffs = [(None, "2024-01-15"), ("2024-01-15", None)]
    for lo, hi in cutoffs:
        chunk = ev
        if lo is not None:
            chunk = chunk.filter(F.col("ts") >= F.lit(lo).cast("timestamp_ntz"))
        if hi is not None:
            chunk = chunk.filter(F.col("ts") < F.lit(hi).cast("timestamp_ntz"))
        rollup = chunk.groupBy(
            "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
        ).agg(
            F.count("*").alias("n_events"),
            F.sum(_quantize_local("value")).alias("svq"),
        )
        cat.commit_multi(
            {"events": (chunk, "append"), "rollup": (rollup, "append")}
        )
    ro = cat.read(spark, "rollup")
    raw = cat.read(spark, "events")
    total = raw.agg(F.count("*").alias("catalog_events_total"))
    merged = ro.groupBy("event_type", "day").agg(
        F.sum("n_events").alias("n_events"),
        (F.sum("svq") / 1_000_000.0).cast("double").alias("sum_value"),
    )
    return merged.join(F.broadcast(total))


@register(
    "x19_backfill_plan",
    oracle="""
    WITH bounds AS (
      SELECT CAST(MIN(ts) AS DATE) AS mn, CAST(MAX(ts) AS DATE) AS mx
      FROM events
    ),
    starts AS (
      SELECT CAST(UNNEST(generate_series(mn, mx, INTERVAL 7 DAY)) AS DATE)
               AS win_start, mx
      FROM bounds
    )
    SELECT ROW_NUMBER() OVER (ORDER BY win_start) AS tick,
           win_start,
           LEAST(win_start + INTERVAL 7 DAY,
                 CAST(mx AS TIMESTAMP) + INTERVAL 1 DAY) AS win_end
    FROM starts
    """,
    tags=("P4", "T7", "EXT"),
)
def x19_backfill_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill planner — the tick schedule an orchestrator runs to
    replay a table through x2-style static-bounds windows: the
    source's [min(ts), max(ts)] span carved into half-open 7-day
    windows, each one a (filter_lower_bound, filter_upper_bound) pair
    for the extractor. Pure date arithmetic from ONE min/max
    aggregate; the window list generates engine-side (sequence +
    explode), never driver-side, so planning a 10-year backfill is
    still one tiny job. Windows are half-open and adjacent — replay
    through them provably covers every row exactly once (the x1
    idempotency property per tick)."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(
        F.min(F.col("ts").cast("date")).alias("mn"),
        F.max(F.col("ts").cast("date")).alias("mx"),
    )
    starts = b.select(
        F.explode(
            F.expr("sequence(mn, mx, interval 7 day)")
        ).alias("win_start"),
        "mx",
    )
    w = Window.orderBy("win_start")
    return starts.select(
        F.row_number().over(w).alias("tick"),
        "win_start",
        F.least(
            F.col("win_start").cast("timestamp_ntz") + F.expr("INTERVAL 7 DAY"),
            F.col("mx").cast("timestamp_ntz") + F.expr("INTERVAL 1 DAY"),
        ).alias("win_end"),
    )


@register(
    "x20_dialect_toolkit_query",
    oracle=r"""
    SELECT event_id,
           strftime(ts, '%Y-%m-%d') AS day_str,
           CAST(date_trunc('week', ts) AS DATE) AS week,
           quarter(ts) AS q,
           event_id & 255 AS id_low,
           CASE WHEN (event_id % 5) = 0 THEN 0
                ELSE event_id // (event_id % 5) END AS safe_div,
           upper(md5(event_type)) AS type_digest,
           CAST((event_id // 16777216) % 256 AS VARCHAR) || '.' ||
           CAST((event_id // 65536) % 256 AS VARCHAR) || '.' ||
           CAST((event_id // 256) % 256 AS VARCHAR) || '.' ||
           CAST(event_id % 256 AS VARCHAR) AS pseudo_ip,
           regexp_replace(props, '\d', '#', 'g') AS masked,
           user_id AS uid
    FROM events
    WHERE event_type NOT LIKE 'err%' AND event_id < 2000
    """,
    tags=("S3", "EXT", "dialect"),
)
def x20_dialect_toolkit_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-3 dialect toolkit end-to-end: a ClickHouse custom_query
    leaning on the NEW translation families — formatDateTime, toMonday,
    toQuarter, bit ops, intDivOrZero, MD5+hex byte parity,
    IPv4NumToString arithmetic, replaceRegexpAll, tupleElement, and
    the notLike function form — through the extractor's
    custom_query_dialect='clickhouse' path (the same S3 surface as
    x14). The oracle is hand-written ANSI, so the hash-match pins
    SEMANTICS (Monday weeks, zero-guarded division, digest bytes,
    global regex replacement), not just syntax."""
    from ..sources.extract import ParquetExtractor, TableConfig

    table = TableConfig(
        name="events",
        custom_query=(
            "SELECT event_id, "
            "formatDateTime(ts, '%F') AS day_str, "
            "toMonday(ts) AS week, "
            "toQuarter(ts) AS q, "
            "bitAnd(event_id, 255) AS id_low, "
            "intDivOrZero(event_id, modulo(event_id, 5)) AS safe_div, "
            "hex(MD5(event_type)) AS type_digest, "
            "IPv4NumToString(event_id) AS pseudo_ip, "
            "replaceRegexpAll(props, '\\\\d', '#') AS masked, "
            "tupleElement(tuple(event_type, user_id), 2) AS uid "
            "FROM events "
            "WHERE notLike(event_type, 'err%') AND event_id < 2000"
        ),
        custom_query_dialect="clickhouse",
    )
    return ParquetExtractor(sf_dir).extract(table, spark).df


@register(
    "x21_dynamic_partition_overwrite",
    oracle="""
    SELECT event_id, user_id, event_type,
           CASE WHEN CAST(date_trunc('day', ts) AS DATE) = DATE '2024-01-10'
                THEN value * 2 ELSE value END AS value,
           CAST(date_trunc('day', ts) AS DATE) AS day
    FROM events
    WHERE CAST(date_trunc('day', ts) AS DATE)
          BETWEEN DATE '2024-01-09' AND DATE '2024-01-11'
    """,
    tags=("S7", "S9", "P4", "EXT", "backfill"),
)
def x21_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Partition-scoped backfill via DYNAMIC partition overwrite: the
    full table lands partitioned by day, then a corrected batch for
    ONE day (values doubled) is written in overwrite mode with
    ``partitionOverwriteMode=dynamic`` — Spark replaces only the
    partitions present in the batch, leaving every other day's files
    untouched (static mode would truncate the whole table; this is
    the replaceWhere idiom that makes reprocessing one bad day an
    O(day) operation at 100 TB, composing with x15's pruned reads).
    The readback of the 3-day window proves Jan 10 carries the
    corrected values while its neighbors keep the originals. The conf
    is set per-write and restored — the extractor's own writes keep
    their configured mode."""
    workdir = tempfile.mkdtemp(prefix="x21_dpo_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.date_trunc("day", "ts").cast("date").alias("day"),
    )
    dest = os.path.join(workdir, "events_by_day")
    ev.write.partitionBy("day").mode("overwrite").parquet(dest)

    corrected = ev.filter(F.col("day") == F.lit("2024-01-10")).withColumn(
        "value", F.col("value") * 2
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        corrected.write.partitionBy("day").mode("overwrite").parquet(dest)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    back = spark.read.parquet(dest)
    return back.filter(
        F.col("day").between(F.lit("2024-01-09"), F.lit("2024-01-11"))
    ).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.col("day").cast("date").alias("day"),
    )


@register(
    "x22_cdc_apply",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
      WHERE o_orderkey % 10 <> 0
    ),
    changes AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 10 = 0 AND o_orderkey % 3 = 0 THEN 'I'
                  WHEN o_orderkey % 7 = 0 THEN 'D'
                  ELSE 'U' END AS op,
             o_totalprice * 1.1 AS o_totalprice,
             'P' AS o_orderstatus,
             o_orderkey % 5 AS seq
      FROM orders
      WHERE o_orderkey % 10 = 0 OR o_orderkey % 3 = 0
    ),
    latest AS (
      SELECT * FROM (
        SELECT c.*, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                       ORDER BY seq DESC) AS rn
        FROM changes c
      ) WHERE rn = 1
    )
    SELECT b.o_orderkey,
           ROUND(COALESCE(l.o_totalprice, b.o_totalprice), 6)
             AS o_totalprice,
           COALESCE(l.o_orderstatus, b.o_orderstatus) AS o_orderstatus
    FROM base b LEFT JOIN latest l ON b.o_orderkey = l.o_orderkey
    WHERE l.op IS NULL OR l.op <> 'D'
    UNION ALL
    SELECT l.o_orderkey, ROUND(l.o_totalprice, 6), l.o_orderstatus
    FROM latest l LEFT JOIN base b ON b.o_orderkey = l.o_orderkey
    WHERE b.o_orderkey IS NULL AND l.op <> 'D'
    """,
    tags=("S8", "J4", "EXT", "cdc"),
)
def x22_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC APPLY — folding a change feed (insert/update/delete ops
    with a sequence number, the Debezium/ClickHouse-CDC shape) into a
    base snapshot: keep each key's LATEST op, upsert I/U, drop D. This
    is x12's inverse (x12 derives the feed by diffing; x22 consumes
    one), and the runtime core of the manifest MERGE (x16) without the
    storage layer. Shapes: one window to pick the latest op per key
    (WindowGroupLimit at scale), one outer join against the base —
    both keyed on the primary key, no fact-side amplification. The
    synthetic feed derives deterministically from orders (key mod
    rules), so the oracle is pure SQL over the same table."""
    o = load_table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    changes = (
        o.filter((F.col("o_orderkey") % 10 == 0) | (F.col("o_orderkey") % 3 == 0))
        .select(
            "o_orderkey",
            F.when(
                (F.col("o_orderkey") % 10 == 0)
                & (F.col("o_orderkey") % 3 == 0),
                "I",
            )
            .when(F.col("o_orderkey") % 7 == 0, "D")
            .otherwise("U")
            .alias("op"),
            (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
            F.lit("P").alias("o_orderstatus"),
            (F.col("o_orderkey") % 5).alias("seq"),
        )
    )
    latest = (
        changes.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("o_orderkey").orderBy(F.col("seq").desc())
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    j = base.alias("b").join(
        latest.alias("l"), on="o_orderkey", how="full_outer"
    )
    return j.filter(
        (F.col("l.op").isNull() | (F.col("l.op") != "D"))
        & (F.col("b.o_totalprice").isNotNull() | F.col("l.op").isNotNull())
    ).select(
        "o_orderkey",
        F.round(
            F.coalesce(F.col("l.o_totalprice"), F.col("b.o_totalprice")), 6
        ).alias("o_totalprice"),
        F.coalesce(F.col("l.o_orderstatus"), F.col("b.o_orderstatus")).alias(
            "o_orderstatus"
        ),
    )


@register(
    "x23_late_dimension",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    tags=("J1", "S8", "T7", "EXT"),
)
def x23_late_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving-dimension handling — the warehouse's 'early fact'
    problem: tick 1 delivers ALL facts but only half the customer
    dimension, so unmatched facts PARK in a pending table instead of
    being dropped or null-joined; tick 2 delivers the rest of the
    dimension and the pending facts drain through the same join. The
    final destination must equal the simple one-shot join — proving no
    fact was lost or duplicated by the park/drain cycle. Both ticks
    are broadcast joins on the dim key; the pending table carries only
    unmatched facts (anti-join residue), so its size is bounded by the
    dimension lag, not the fact volume."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    dim_t1 = c.filter(F.col("c_custkey") % 2 == 0)
    dim_t2 = c.filter(F.col("c_custkey") % 2 != 0)

    def tick(facts: DataFrame, dim: DataFrame):
        joined = facts.join(F.broadcast(dim), facts.o_custkey == dim.c_custkey)
        pending = facts.join(
            F.broadcast(dim), facts.o_custkey == dim.c_custkey, "left_anti"
        )
        return joined, pending

    out1, pending = tick(o, dim_t1)
    # tick 2: the pending facts re-join against the NEWLY arrived dim
    # slice (production keeps the full dim; the slice shows no row
    # needs the old half twice)
    out2, still_pending = tick(pending, dim_t2)
    result = out1.unionByName(out2).select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )
    return result


@register(
    "s12_nested_pruning",
    oracle="""
    SELECT doc_id, n_bytes, source FROM (
      SELECT doc_id, OCTET_LENGTH(CAST(text AS BLOB)) AS n_bytes, source
      FROM documents
    ) ORDER BY doc_id
    """,
    tags=("S1", "P1", "EXT"),
)
def s12_nested_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-column pruning through a struct-typed parquet table: the
    multimodal blob table (binary payload + meta struct) is written
    out, then a query touching ONLY meta.n_bytes and meta.source must
    read just those two leaf fields — Spark's nestedSchemaPruning
    pushes the projection into the parquet ReadSchema, so the (large)
    blob column and the untouched meta.format field are never
    decoded. tests/test_plans_r3.py locks the ReadSchema; at 100 TB
    this is the difference between scanning metadata and scanning the
    payload lake. The oracle recomputes n_bytes from the text the
    fixture blobs encode."""
    from .multimodal import synthesize_blobs

    workdir = tempfile.mkdtemp(prefix="s12_nested_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    dest = os.path.join(workdir, "blobs")
    synthesize_blobs(spark, sf_dir).write.mode("overwrite").parquet(dest)
    t = spark.read.parquet(dest)
    return t.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.source").alias("source"),
    ).orderBy("doc_id")


ERASE_USER = 3


@register(
    "x24_user_erasure",
    oracle=f"""
    SELECT event_id, user_id, event_type, value
    FROM events WHERE user_id <> {ERASE_USER}
    """,
    tags=("S8", "EXT", "cdc", "pruning"),
)
def x24_user_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten through the manifest table: events land
    in user_id-bucketed batches (zone maps recorded per batch), then
    ``delete_rows`` erases one user — rewriting ONLY the batches whose
    user_id range can contain them while every other batch carries
    over by name, untouched on disk (tests/test_manifest.py asserts
    the file-identity property; this query proves the VALUES). The
    erased snapshot is the new head; prior versions remain for time
    travel until vacuum — the documented retention/erasure trade every
    lakehouse has to make explicit."""
    from ..sources.manifest import ManifestedTable

    workdir = tempfile.mkdtemp(prefix="x24_erase_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    t = ManifestedTable(
        os.path.join(workdir, "events"), stats_cols=("user_id",)
    )
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    # bucketed appends → selective zone maps (4 disjoint user ranges
    # derived from the observed span, so every bucket is non-empty at
    # any fixture scale)
    mx = ev.agg(F.max("user_id")).first()[0]
    step = max(mx // 4, 1)
    bounds = [0, step, 2 * step, 3 * step, mx + 1]
    for lo, hi in zip(bounds, bounds[1:]):
        t.commit_append(
            ev.filter((F.col("user_id") >= lo) & (F.col("user_id") < hi))
        )
    t.delete_rows(spark, "user_id", ERASE_USER)
    return t.read(spark)


@register(
    "x25_manifest_changelog",
    oracle="""
    WITH cuts AS (
      SELECT * FROM (VALUES
        (1, TIMESTAMP '2024-01-08 00:00:00'),
        (2, TIMESTAMP '2024-01-15 00:00:00'),
        (3, TIMESTAMP '2024-01-22 00:00:00'),
        (4, TIMESTAMP '2100-01-01 00:00:00')
      ) AS t(version, cutoff)
    )
    SELECT c.version,
           'append' AS op,
           COUNT(e.event_id) AS rows_total,
           COUNT(e.event_id)
             - COALESCE(LAG(COUNT(e.event_id))
                        OVER (ORDER BY c.version), 0) AS rows_added
    FROM cuts c LEFT JOIN events e ON e.ts < c.cutoff
    GROUP BY c.version ORDER BY c.version
    """,
    tags=("S8", "T7", "EXT", "transaction"),
)
def x25_manifest_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset changelog — the DESCRIBE HISTORY observability view over
    a manifest table: one row per commit with its operation and the
    row count at (and added by) that version, computed by TIME
    TRAVELING to each snapshot. Four weekly appends make the history;
    the oracle derives the same counts from the source windows, so the
    hash-match proves the manifest's version lineage reports exactly
    what was committed (no lost or double-counted batch). Counting a
    snapshot is one aggregate per version over the manifest's dir
    list — metadata-bounded work."""
    from ..sources.manifest import ManifestedTable

    workdir = tempfile.mkdtemp(prefix="x25_log_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    t = ManifestedTable(os.path.join(workdir, "events"))
    ev = load_table(spark, sf_dir, "events")
    for cutoff, prev in zip(_CUTOFFS, [None] + _CUTOFFS[:-1]):
        window = ev
        if cutoff is not None:
            window = window.filter(
                F.col("ts") < F.lit(cutoff).cast("timestamp_ntz")
            )
        if prev is not None:
            window = window.filter(
                F.col("ts") >= F.lit(prev).cast("timestamp_ntz")
            )
        t.commit_append(window)
    rows = []
    prev_n = 0
    for v in t.versions():
        m = t.manifest(v)
        df_v = t.read(spark, version=v)
        n = df_v.count() if df_v is not None else 0
        rows.append((v, m["op"], n, n - prev_n))
        prev_n = n
    return spark.createDataFrame(
        rows, "version int, op string, rows_total long, rows_added long"
    )


@register(
    "x27_custom_query_file",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(MIN(value) AS DOUBLE) AS min_value,
           CAST(MAX(value) AS DOUBLE) AS max_value
    FROM events WHERE user_id % 2 = 0
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("S4", "S3", "EXT"),
)
def x27_custom_query_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 as a DRIVER-VERIFIED row (previously pytest-only): the SQL
    text lives in a FILE under the pipeline's sql/ directory
    (reference README.md:113 — `custom_query_file` resolves relative
    to it), the extractor loads and executes it like any custom
    query. The file is written to a temp sql_dir here; production
    keeps them in the repo next to the pipeline YAML."""
    workdir = tempfile.mkdtemp(prefix="x27_sqlfile_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    sql_dir = os.path.join(workdir, "sql")
    os.makedirs(sql_dir)
    with open(os.path.join(sql_dir, "even_users.sql"), "w") as f:
        f.write(
            "SELECT event_type, COUNT(*) AS n, "
            "CAST(MIN(value) AS DOUBLE) AS min_value, "
            "CAST(MAX(value) AS DOUBLE) AS max_value "
            "FROM events WHERE user_id % 2 = 0 "
            "GROUP BY event_type ORDER BY event_type"
        )
    table = TableConfig(name="events", custom_query_file="even_users.sql")
    return ParquetExtractor(sf_dir, sql_dir=sql_dir).extract(table, spark).df


@register(
    "x28_jdbc_fetchsize_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    ORDER BY n_nationkey
    """,
    tags=("S6", "S5", "EXT"),
)
def x28_jdbc_fetchsize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 as a DRIVER-VERIFIED row (previously pytest-only): a real
    ``spark.read.jdbc`` wire round-trip through the embedded Derby on
    Spark's own classpath — nation written over JDBC, read back
    through the JdbcSource decision tree with a small ``fetchsize``
    (8) and a range-partitioned parallel read, the exact production
    shape the reference runs against ClickHouse (only URL/driver
    differ, reference __init__.py:26-43). Hash-match proves the wire
    path round-trips values, not just options plumbing."""
    from ..sources.jdbc import ConnectionConfig, JdbcSource

    workdir = tempfile.mkdtemp(prefix="x28_derby_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    url = f"jdbc:derby:{workdir}/db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    n = load_table(spark, sf_dir, "nation").selectExpr(
        "n_nationkey AS N_NATIONKEY",
        "n_name AS N_NAME",
        "n_regionkey AS N_REGIONKEY",
    )
    (
        n.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "APP.NATION")
        .option("driver", driver)
        .mode("overwrite")
        .save()
    )
    src = JdbcSource(
        ConnectionConfig(host="unused", database="APP"),
        fetchsize=8,
        driver=driver,
        url_override=url,
    )
    back = src.load(
        spark,
        "NATION",
        partitions_column="N_NATIONKEY",
        partitions_count=4,
        lower_bound=0,
        upper_bound=24,
    )
    return back.selectExpr(
        "CAST(N_NATIONKEY AS INT) AS n_nationkey",
        "N_NAME AS n_name",
        "CAST(N_REGIONKEY AS INT) AS n_regionkey",
    ).orderBy("n_nationkey")


@register(
    "x32_jdbc_partition_slices",
    oracle="""
    SELECT LEAST(GREATEST(event_id // 250, 0), 3) AS slice,
           COUNT(*) AS n,
           MIN(event_id) AS min_id,
           MAX(event_id) AS max_id
    FROM events WHERE event_id < 1000
    GROUP BY 1 ORDER BY slice
    """,
    tags=("S5", "S6", "EXT"),
)
def x32_jdbc_partition_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 range partitioning WIRE-VERIFIED per slice (r3 ask #6): x28
    proves a partitioned Derby read round-trips values; this proves the
    PARTITIONING ITSELF — each of the numPartitions=4 JDBC slices
    (stride 250 over [0, 1000), the reference's partitions_column /
    partitions_count surface, reference README.md:85-89) carries
    exactly the rows its WHERE-clause stride predicates select.
    ``spark_partition_id()`` is read BEFORE any shuffle, so the
    hash-match against the oracle's arithmetic stride buckets pins
    Spark's physical slice assignment, not a re-derivation.  At 100 TB
    this is the property that makes a JDBC extract scale linearly with
    partitions_count: no overlap, no gap, no connection hot-spotting."""
    from ..sources.jdbc import ConnectionConfig, JdbcSource

    workdir = tempfile.mkdtemp(prefix="x32_derby_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    url = f"jdbc:derby:{workdir}/db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 1000)
        .selectExpr("event_id AS EVENT_ID", "user_id AS USER_ID")
    )
    (
        ev.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "APP.EVENTS_SLICE")
        .option("driver", driver)
        .mode("overwrite")
        .save()
    )
    src = JdbcSource(
        ConnectionConfig(host="unused", database="APP"),
        fetchsize=128,
        driver=driver,
        url_override=url,
    )
    back = src.load(
        spark,
        "EVENTS_SLICE",
        partitions_column="EVENT_ID",
        partitions_count=4,
        lower_bound=0,
        upper_bound=1000,
    )
    return (
        back.select(
            F.spark_partition_id().cast("long").alias("slice"),
            F.col("EVENT_ID").cast("long").alias("event_id"),
        )
        .groupBy("slice")
        .agg(
            F.count("*").alias("n"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
        .orderBy("slice")
    )


@register(
    "x33_zorder_pruned_read",
    oracle="""
    SELECT event_id, user_id, CAST(value AS DOUBLE) AS value
    FROM events
    WHERE user_id BETWEEN 4 AND 6 AND value BETWEEN 100.0 AND 200.0
    """,
    tags=("S1", "P4", "EXT", "pruning"),
)
def x33_zorder_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column Z-ORDER clustering end-to-end (Delta's OPTIMIZE
    ZORDER BY re-expressed over the manifest): four interleaved
    appends — each covering the FULL (user_id, value) range, so
    nothing prunes — then ``compact(zorder_by=("user_id", "value"),
    split_dirs=True)`` rewrites the snapshot as range partitions of
    the Morton key, one batch dir per partition, each covering a small
    hyper-rectangle.  The read prunes on user_id at the MANIFEST level
    (whole dirs skipped by zone map; tests/test_manifest.py asserts
    the skip counts on BOTH columns) and the value predicate prunes
    row groups inside the survivors.  The oracle is the plain doubly-
    filtered table, so the hash-match proves two-axis skipping loses
    no rows — the property a single-column sort cannot give its
    trailing columns, and at 100 TB the difference between opening a
    handful of directories and footer-probing the whole table."""
    from ..sources.manifest import ManifestedTable

    workdir = tempfile.mkdtemp(prefix="x33_zorder_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    t = ManifestedTable(
        os.path.join(workdir, "events"), stats_cols=("user_id", "value")
    )
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("value").cast("double").alias("value")
    )
    for k in range(4):  # interleaved: every batch spans both ranges
        t.commit_append(ev.filter(F.col("event_id") % 4 == k))
    v = t.compact(
        spark,
        target_files=8,
        zorder_by=("user_id", "value"),
        split_dirs=True,
    )
    pruned = t.read_pruned(spark, "user_id", lo=4, hi=6, version=v)
    if pruned is None:  # every dir pruned (tiny fixtures) — empty result
        return ev.filter(F.lit(False))
    return pruned.filter(F.col("value").between(100.0, 200.0))


@register(
    "x34_pipeline_manifest_capstone",
    oracle="""
    SELECT event_id, user_id,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_purchase,
           CAST(strftime(ts, '%Y%m%d') AS INT) AS ymd
    FROM events
    """,
    tags=("S3", "S8", "T7", "EXT", "pipeline"),
)
def x34_pipeline_manifest_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE reference-user migration in one hash-checked row: a
    YAML-shaped config (reference README.md:17-42) whose destination is
    the manifest lakehouse (``variant: manifest`` — new in round 4),
    whose table runs INCREMENTAL replication with a ClickHouse-dialect
    custom query carrying ``{query_filter}``, ticked TWICE against a
    source that grows between ticks (half the events, then all).
    Exercises, in one path: dialect translation → watermark predicate
    splice → extract → manifest stage → ATOMIC data+watermark commit →
    boundary-row idempotent dedup on tick 2 → snapshot read-back.  The
    oracle is the ANSI equivalent over the full source, so the
    hash-match proves the two-tick incremental pipeline converges to
    exactly the one-shot batch result."""
    workdir = tempfile.mkdtemp(prefix="x34_capstone_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    src_dir = os.path.join(workdir, "src")
    dst_dir = os.path.join(workdir, "dest")
    ev = load_table(spark, sf_dir, "events")
    half = ev.agg(F.expr("percentile_approx(event_id, 0.5)")).first()[0]

    from ..pipeline import run_pipelines

    config = {
        "connections": {
            "src": {"variant": "parquet", "path": src_dir},
            "lake": {"variant": "manifest", "path": dst_dir},
        },
        "pipelines": [
            {
                "name": "capstone",
                "source": "src",
                "destination": "lake",
                "tables": [
                    {
                        "name": "events",
                        "replication_method": "incremental",
                        "iterate_column": "event_id",
                        "iterate_column_type": "int",
                        "dedup_keys": ["event_id"],
                        "custom_query": (
                            "SELECT event_id, user_id, "
                            "toStartOfDay(ts) AS day, "
                            "if(event_type = 'purchase', 1, 0) AS is_purchase, "
                            "toYYYYMMDD(ts) AS ymd "
                            "FROM events {query_filter}"
                        ),
                        "custom_query_dialect": "clickhouse",
                    }
                ],
            }
        ],
    }
    # tick 1: only the first half of the stream has arrived
    ev.filter(F.col("event_id") <= F.lit(half)).write.mode(
        "overwrite"
    ).parquet(os.path.join(src_dir, "events.parquet"))
    run_pipelines(config, spark)
    # tick 2: the full table has arrived; the watermark splice re-reads
    # only >= the boundary and the manifest dedup absorbs the overlap
    ev.write.mode("overwrite").parquet(
        os.path.join(src_dir, "events.parquet")
    )
    run_pipelines(config, spark)

    from ..sources.extract import TableConfig
    from ..sources.manifest import ManifestLoader

    mt = ManifestLoader(dst_dir).table(TableConfig(name="events"))
    return mt.read(spark).select(
        "event_id", "user_id", "day", "is_purchase", "ymd"
    )


@register(
    "x29_dialect_incremental",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchases,
           COUNT(DISTINCT user_id) AS uniq_users,
           MAX(event_id) AS max_id
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'
    GROUP BY date_trunc('day', ts)
    """,
    tags=("S3", "P3", "EXT", "dialect"),
)
def x29_dialect_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full porting scenario in ONE tick: a ClickHouse-dialect
    custom query (toStartOfDay / countIf / uniqExact) carrying the
    reference's ``{query_filter}`` placeholder, run through the
    INCREMENTAL path with a watermark — translation happens first,
    then the synthesized watermark predicate splices into the
    translated SQL exactly as the reference splices into passthrough
    ClickHouse SQL (__init__.py:96-99). Proves the two features
    compose; x3 and x14 test them separately."""
    table = TableConfig(
        name="events",
        replication_method="incremental",
        iterate_column="ts",
        iterate_column_type="datetime",
        custom_query=(
            "SELECT toStartOfDay(ts) AS day, "
            "countIf(event_type = 'purchase') AS purchases, "
            "uniqExact(user_id) AS uniq_users, "
            "max(event_id) AS max_id "
            "FROM events {query_filter} "
            "GROUP BY toStartOfDay(ts)"
        ),
        custom_query_dialect="clickhouse",
    )
    return (
        ParquetExtractor(sf_dir)
        .extract(table, spark, last_point="2024-01-20 00:00:00")
        .df
    )


@register(
    "x30_version_diff",
    oracle=f"""
    WITH v2 AS (
      SELECT event_id, user_id FROM events
      WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
    ),
    v4 AS (
      SELECT event_id, user_id FROM events WHERE user_id <> {ERASE_USER}
    )
    SELECT 'added' AS change, COUNT(*) AS rows_n,
           MIN(event_id) AS min_id, MAX(event_id) AS max_id
    FROM (SELECT * FROM v4 EXCEPT ALL SELECT * FROM v2)
    UNION ALL
    SELECT 'removed', COUNT(*), MIN(event_id), MAX(event_id)
    FROM (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v4)
    ORDER BY change
    """,
    tags=("S8", "U4", "EXT", "cdc", "transaction"),
)
def x30_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-to-version CHANGE FEED from time travel — Delta's
    ``table_changes()`` built from two snapshot reads and bag-semantics
    EXCEPT ALL in each direction: rows present at the later version
    but not the earlier are 'added', the reverse 'removed' (here: two
    more weekly appends plus the x24 user erasure between the
    versions, so both directions are non-empty). This is how a
    consumer without CDC storage reconstructs what a window of
    commits did — the diff costs two snapshot scans + one shuffle,
    and the manifest's dir-level time travel makes the old snapshot
    free to read. Exact set arithmetic, no timestamps involved."""
    from ..sources.manifest import ManifestedTable

    workdir = tempfile.mkdtemp(prefix="x30_diff_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    t = ManifestedTable(
        os.path.join(workdir, "events"), stats_cols=("user_id",)
    )
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    for cutoff, prev in zip(_CUTOFFS, [None] + _CUTOFFS[:-1]):
        window = ev
        if cutoff is not None:
            window = window.filter(
                F.col("ts") < F.lit(cutoff).cast("timestamp_ntz")
            )
        if prev is not None:
            window = window.filter(
                F.col("ts") >= F.lit(prev).cast("timestamp_ntz")
            )
        t.commit_append(window.select("event_id", "user_id"))
    t.delete_rows(spark, "user_id", ERASE_USER)  # v5
    early = t.read(spark, version=2)
    late = t.read(spark)
    added = late.exceptAll(early)
    removed = early.exceptAll(late)

    def summarize(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.lit(label).alias("change"),
            F.count("*").alias("rows_n"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )

    return summarize(added, "added").unionAll(
        summarize(removed, "removed")
    ).orderBy("change")


@register(
    "x31_manifest_schema_evolution",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
                THEN CAST(value * 2 AS DOUBLE) END AS bonus
    FROM events ORDER BY event_id
    """,
    tags=("S8", "U1", "EXT", "schema-evolution"),
)
def x31_manifest_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution THROUGH the manifest table: the first batch
    lands without the ``bonus`` column, a later batch adds it
    (mid-stream source ALTER TABLE), and the snapshot read merges
    footers so pre-evolution rows surface the new column null-filled
    — same contract the plain ParquetLoader destination proves in
    pytest (u6's unionByName semantics), here through the committed-
    manifest path where each batch dir carries its own schema
    generation. No rewrite of old batches, no read-time cast errors."""
    from ..sources.manifest import ManifestedTable

    workdir = tempfile.mkdtemp(prefix="x31_evo_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    t = ManifestedTable(os.path.join(workdir, "events"))
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    t.commit_append(
        ev.filter(F.col("ts") < cut).select("event_id", "user_id")
    )
    t.commit_append(
        ev.filter(F.col("ts") >= cut).select(
            "event_id",
            "user_id",
            (F.col("value") * 2).cast("double").alias("bonus"),
        )
    )
    return t.read(spark).select("event_id", "user_id", "bonus").orderBy(
        "event_id"
    )


# ---- round 5: aggregate combinators + ARRAY JOIN through the dialect -


@register(
    "x35_combinator_merge_rollup",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
             SUM(CAST(TRUNC(value) AS BIGINT)) AS sv,
             COUNT(*) AS cn,
             MIN(event_id) AS mn,
             MAX(event_id) AS mx
      FROM events GROUP BY 1, 2
    )
    SELECT day, CAST(SUM(sv) AS BIGINT) AS total_val,
           CAST(SUM(cn) AS BIGINT) AS n_events,
           MIN(mn) AS first_id, MAX(mx) AS last_id
    FROM daily GROUP BY day
    """,
    tags=("S3", "EXT", "dialect", "A2"),
)
def x35_combinator_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse -State/-Merge combinators through ``custom_query``:
    the materialized-view idiom (partial aggregation states per
    (day, type), merged later per day) that AggregatingMergeTree users
    push through the reference's passthrough SQL. sources/ch_dialect.py
    maps the DECOMPOSABLE pairs onto Spark's own partial/final shapes —
    sumState/sumMerge → sum/sum, countState/countMerge → count/SUM of
    partials, min/max idempotent — so the translated query is a plain
    two-level aggregate Catalyst fuses; the hash-matched oracle proves
    the merge algebra, not just the syntax."""
    table = TableConfig(
        name="events",
        custom_query=(
            "SELECT day, sumMerge(sv) AS total_val, "
            "countMerge(cn) AS n_events, minMerge(mn) AS first_id, "
            "maxMerge(mx) AS last_id "
            "FROM (SELECT toStartOfDay(ts) AS day, event_type, "
            "sumState(toInt64(value)) AS sv, countState() AS cn, "
            "minState(event_id) AS mn, maxState(event_id) AS mx "
            "FROM events GROUP BY day, event_type) "
            "GROUP BY day"
        ),
        custom_query_dialect="clickhouse",
    )
    return ParquetExtractor(sf_dir).extract(table, spark).df


@register(
    "x36_array_join_clause",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    )
    SELECT tok, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS docs
    FROM toks WHERE length(tok) > 4
    GROUP BY tok ORDER BY n DESC, tok LIMIT 20
    """,
    tags=("S3", "EXT", "dialect", "L5"),
)
def x36_array_join_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RELATIONAL ``ARRAY JOIN`` clause (not the arrayJoin()
    function) through ``custom_query``: ClickHouse's unnest-in-FROM
    idiom translates to ``LATERAL VIEW explode`` — one generator per
    row fused into the scan stage, token counts aggregate after the
    WHERE on the exploded alias. The shape users port most often from
    ClickHouse text pipelines."""
    table = TableConfig(
        name="documents",
        custom_query=(
            "SELECT tok, count(*) AS n, uniqExact(doc_id) AS docs "
            "FROM documents ARRAY JOIN splitByChar(' ', text) AS tok "
            "WHERE lengthUTF8(tok) > 4 "
            "GROUP BY tok ORDER BY n DESC, tok LIMIT 20"
        ),
        custom_query_dialect="clickhouse",
    )
    return ParquetExtractor(sf_dir).extract(table, spark).df


@register(
    "x37_array_combinators",
    oracle="""
    WITH toks AS (
      SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents
    )
    SELECT lang,
           CAST(SUM(length(t)) AS DOUBLE) AS total_chars,
           COUNT(*) AS total_toks,
           MAX(length(t)) AS longest,
           MIN(length(t)) AS shortest,
           CAST(SUM(length(t)) AS DOUBLE)
             / COUNT(*) AS avg_len
    FROM toks GROUP BY lang ORDER BY lang
    """,
    tags=("S3", "EXT", "dialect", "F5"),
)
def x37_array_combinators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """-Array aggregate combinators through ``custom_query``:
    sum/count/min/max/avgArray aggregate over the FLATTENED elements of
    a per-row array without materializing the explode — the dialect
    lowers them to per-row higher-order folds (transform + aggregate,
    all codegen) under an ordinary grouped aggregate. Elements here are
    integer token lengths, so the double-widened fold stays exact and
    the oracle (explicit unnest in DuckDB) hash-matches."""
    arr = "splitByChar(' ', text)"
    lens = f"arrayMap(t -> lengthUTF8(t), {arr})"
    table = TableConfig(
        name="documents",
        custom_query=(
            f"SELECT lang, sumArray({lens}) AS total_chars, "
            f"countArray({arr}) AS total_toks, "
            f"maxArray({lens}) AS longest, "
            f"minArray({lens}) AS shortest, "
            f"avgArray({lens}) AS avg_len "
            f"FROM documents GROUP BY lang ORDER BY lang"
        ),
        custom_query_dialect="clickhouse",
    )
    return ParquetExtractor(sf_dir).extract(table, spark).df


@register(
    "x38_bucketed_colocated_join",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CAST(TRUNC(l_extendedprice * (1 - l_discount) * 1000000
                + (CASE WHEN l_extendedprice * (1 - l_discount) >= 0
                        THEN 0.5 ELSE -0.5 END)) AS BIGINT)) AS BIGINT)
             AS revenue_q,
           COUNT(*) AS n_lines
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("S9", "J1", "EXT", "bucketing"),
)
def x38_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CO-LOCATED fact-fact join via BUCKETED tables — the storage-
    level answer to q10's one unavoidable shuffle: write lineitem and
    orders bucketed (and sorted) by order key into the session catalog,
    and the join compiles with NO Exchange on either side — each task
    zips bucket i with bucket i straight off storage (a memory-local
    per-bucket sort remains: Spark's reader does not consume sortBy
    metadata, SPARK-19256 — the SHUFFLE is what bucketing removes). At
    100 TB this is how a pipeline that joins the same fact tables every
    tick amortizes the shuffle to WRITE-ONCE: ClickHouse users get the
    same effect from co-sorted MergeTree parts; Delta/Iceberg call it
    bucketed/partitioned write distribution.  The bucketed layout is
    rebuilt from the driver's parquet on each run (bucket metadata
    lives in the catalog, not parquet, so a plain path read cannot
    carry it); the absent-exchange plan is locked in
    tests/test_plans.py.  Values are identical to the plain join — the
    oracle runs on the raw tables."""
    import tempfile

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        _quantize_local(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("q"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    for name, df, key in (
        ("x38_li_b", li, "l_orderkey"),
        ("x38_o_b", o, "o_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        path = tempfile.mkdtemp(prefix=f"{name}_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        (
            df.write.bucketBy(16, key)
            .sortBy(key)
            .option("path", path)
            .mode("overwrite")
            .saveAsTable(name)
        )
    lb = spark.table("x38_li_b")
    ob = spark.table("x38_o_b")
    return (
        lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("q").alias("revenue_q"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "x39_clause_gauntlet",
    oracle="""
    WITH base AS (
      SELECT user_id, event_id,
             CAST(ip // 16777216 AS VARCHAR) || '.' ||
             CAST((ip // 65536) % 256 AS VARCHAR) || '.' ||
             CAST((ip // 256) % 256 AS VARCHAR) || '.' ||
             CAST(ip % 256 AS VARCHAR) AS ip,
             (ip // 1073741824) = 1 AS in_q2
      FROM (
        SELECT user_id, event_id, event_type,
               (user_id * 2654435761) % 4294967296 AS ip
        FROM events
      )
      WHERE event_type IN ('click', 'view', 'purchase')
        AND event_id < 5000
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY user_id, event_id) AS rn
      FROM base
    )
    SELECT user_id, event_id, ip, in_q2
    FROM r WHERE rn <= 3 ORDER BY user_id, rn LIMIT 600
    """,
    tags=("S3", "EXT", "dialect"),
)
def x39_clause_gauntlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every ClickHouse CLAUSE-level construct the translator handles,
    stacked in ONE custom_query through the extractor's S3 path:
    PREWHERE merging into WHERE (CH applies both), GLOBAL IN dropping
    its distribution modifier, ORDER BY feeding LIMIT n BY's
    row_number translation with a trailing plain LIMIT kept on the
    outer query, SETTINGS stripped, FORMAT stripped, and the round-5
    IPv4 range functions riding along as expression-level cargo. The
    oracle is hand-written ANSI, so the hash-match pins the combined
    clause SEMANTICS (filter conjunction, per-key cut determinism,
    outer-limit ordering), not just that each rewrite fires alone."""
    from ..sources.extract import ParquetExtractor, TableConfig

    table = TableConfig(
        name="events",
        custom_query=(
            "SELECT user_id, event_id, "
            "IPv4NumToString((user_id * 2654435761) % 4294967296) AS ip, "
            "isIPAddressInRange("
            "IPv4NumToString((user_id * 2654435761) % 4294967296), "
            "'64.0.0.0/2') AS in_q2 "
            "FROM events "
            "PREWHERE event_type GLOBAL IN ('click', 'view', 'purchase') "
            "WHERE event_id < 5000 "
            "ORDER BY user_id, event_id "
            "LIMIT 3 BY user_id "
            "LIMIT 600 "
            "SETTINGS max_threads = 8, join_use_nulls = 1 "
            "FORMAT TabSeparated"
        ),
        custom_query_dialect="clickhouse",
    )
    return ParquetExtractor(sf_dir).extract(table, spark).df


@register(
    "x40_manifest_vacuum_lifecycle",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           COUNT(*) AS n_rows,
           SUM({_Q.format(x='value')}) AS val_q,
           2 AS versions_left,
           TRUE AS old_dirs_swept,
           TRUE AS time_travel_pruned
    FROM events
    WHERE CAST(date_trunc('day', ts) AS DATE) <= DATE '2024-01-09'
    GROUP BY 1 ORDER BY 1
    """,
    tags=("S7", "S8", "EXT", "manifest"),
)
def x40_manifest_vacuum_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The full table-maintenance lifecycle VACUUM closes: overwrite →
    append → OPTIMIZE (compaction publishes a content-identical
    version referencing one coalesced dir) → append → vacuum keeping 2
    versions. The sweep must (a) delete the pre-compaction batch dirs
    — now unreferenced by any kept manifest — (b) drop the expired
    manifests so time travel to them fails loudly rather than reading
    half-deleted data, and (c) leave the live snapshot bit-identical
    to the source-derived oracle. min_age_seconds=0 is safe here only
    because this builder holds exclusive access (the retention guard
    against sweeping an in-flight writer's staged dir is covered in
    tests/test_manifest.py). Lifecycle facts ride along as constant
    columns so the driver hash pins them, not just the data."""
    from ..sources.manifest import ManifestedTable

    workdir = tempfile.mkdtemp(prefix="x40_vac_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts").cast("date")
    )
    mt = ManifestedTable(os.path.join(workdir, "events"))
    mt.commit_overwrite(ev.filter(F.col("day") <= F.lit("2024-01-07")))
    mt.commit_append(ev.filter(F.col("day") == F.lit("2024-01-08")))
    mt.compact(spark, target_files=4)
    mt.commit_append(ev.filter(F.col("day") == F.lit("2024-01-09")))
    before = mt.versions()
    removed = mt.vacuum(keep_versions=2, min_age_seconds=0)
    after = mt.versions()
    if len(after) != 2 or not removed:
        raise RuntimeError(
            f"vacuum lifecycle broken: versions {before}->{after}, "
            f"removed={removed}"
        )
    pruned = False
    try:
        mt.read(spark, version=before[0])
    except Exception:
        pruned = True
    return (
        mt.read(spark)
        .groupBy("day")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(_quantize_local("value")).alias("val_q"),
        )
        .select(
            "day",
            "n_rows",
            "val_q",
            F.lit(len(after)).alias("versions_left"),
            F.lit(bool(removed)).alias("old_dirs_swept"),
            F.lit(pruned).alias("time_travel_pruned"),
        )
        .orderBy("day")
    )


@register(
    "x41_with_totals",
    oracle="""
    SELECT o_orderpriority,
           LEAST(COUNT(DISTINCT o_custkey), 10 + 1) AS u10,
           COUNT(*) AS n,
           COUNT(*) FILTER (WHERE o_orderkey % 2 = 0) AS even_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), ())
    ORDER BY o_orderpriority NULLS LAST
    """,
    tags=("S3", "A6", "EXT", "dialect"),
)
def x41_with_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY … WITH TOTALS`` + ``uniqUpTo(N)(x)`` + ``countIf``
    riding one custom_query through the extractor's S3 path (dialect
    round 5b). WITH TOTALS translates to GROUPING SETS ((keys), ()) —
    the totals row is the empty set's NULL-key row, computed in the
    SAME partial-aggregate pass (Spark's Expand feeds both sets, no
    second scan of the fact table — the 100 TB reason GROUPING SETS
    beats a UNION ALL of two aggregates). uniqUpTo saturates the exact
    distinct count at N+1 per its documented contract; both engines
    evaluate the identical clamped COUNT(DISTINCT). The oracle is
    hand-written ANSI, so the hash-match pins the whole clause
    pipeline: keys captured paren-safely, totals row NULL-keyed,
    aggregates replicated into both grouping sets."""
    from ..sources.extract import ParquetExtractor, TableConfig

    table = TableConfig(
        name="orders",
        custom_query=(
            "SELECT o_orderpriority, "
            "uniqUpTo(10)(o_custkey) AS u10, "
            "count(*) AS n, "
            "countIf(o_orderkey % 2 = 0) AS even_orders "
            "FROM orders "
            "GROUP BY o_orderpriority WITH TOTALS "
            "ORDER BY o_orderpriority NULLS LAST"
        ),
        custom_query_dialect="clickhouse",
    )
    return ParquetExtractor(sf_dir).extract(table, spark).df


@register(
    "x42_http_parallel_extract",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           SUM({_Q.format(x='value')}) AS val_q,
           4 AS slices_executed
    FROM events
    WHERE event_id <= 6000
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("S5", "S2", "EXT", "http"),
)
def x42_http_parallel_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WIRE-EXECUTED parallel read over the ClickHouse HTTP interface —
    the jar-free connector's x32 moment: the in-process wire double
    (sources/ch_http_stub.py — DuckDB behind the real socket protocol:
    auth headers, JSONCompact probe, JSONEachRow data) serves a
    pushdown query, and ClickHouseHttpSource range-partitions it into
    4 half-open event_id slices, EACH fetched by its own Spark task
    over its own HTTP connection (the driver never sees row data). The
    builder forces one materialization and asserts from the server's
    query log that exactly 4 disjoint slice SELECTs ran; the
    hash-match then pins that the slice union equals the unpartitioned
    ANSI result — no row lost or doubled at a slice boundary. At scale
    this is how the reference's S5 parallel read maps onto an HTTP
    endpoint when no JDBC jar can be shipped."""
    from ..sources.ch_http import ClickHouseHttpSource
    from ..sources.ch_http_stub import STUB_KEY, STUB_USER, start_stub

    server, port, log = start_stub(sf_dir)
    atexit.register(server.shutdown)
    src = ClickHouseHttpSource(
        host="127.0.0.1", port=port, user=STUB_USER, password=STUB_KEY
    )
    df = src.load(
        spark,
        "SELECT event_id, event_type, value FROM events"
        " WHERE event_id <= 6000",
        is_query=True,
        partition_column="event_id",
        lower_bound=0,
        upper_bound=6000,
        num_partitions=4,
    )
    df.count()  # force the executor-side fetches so the log is proof
    # JDBC stride semantics: the outer edges are UNBOUNDED (first
    # slice `< hi OR IS NULL`, last `>= lo`) so stale bounds can
    # never lose rows — count every event_id-strided slice shape.
    slice_sqls = {
        q for q in log if "__t WHERE event_id" in q
    }
    if len(slice_sqls) != 4:
        raise RuntimeError(
            f"expected 4 distinct slice fetches, saw {len(slice_sqls)}: "
            f"{sorted(slice_sqls)[:2]}…"
        )
    return (
        df.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(_quantize_local("value")).alias("val_q"),
            F.lit(len(slice_sqls)).alias("slices_executed"),
        )
        .orderBy("event_type")
    )


@register(
    "x43_http_sink_roundtrip",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           SUM({_Q.format(x='value')}) AS val_q,
           TRUE AS chunked_inserts,
           TRUE AS distributed_posts
    FROM events
    WHERE event_id <= 4000
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("S7", "S5", "EXT", "http"),
)
def x43_http_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WIRE-EXECUTED HTTP sink round-trip — x42's write-side twin:
    events flow through ClickHouseHttpSink as per-partition
    ``INSERT … FORMAT JSONEachRow`` POSTs (4 partitions × 100-row
    chunks — the builder asserts from the server log that the write
    was chunked AND issued from multiple partitions, i.e. the driver
    never funneled the data), then the table reads BACK through
    ClickHouseHttpSource and the oracle hash pins the round-trip
    byte-equal to the source rows — types surviving JSON encode/decode
    (doubles shortest-repr exact, NULLs preserved) is exactly what the
    hash checks. Together x42+x43 wire-prove the jar-free connector
    BIDIRECTIONALLY against the public HTTP protocol; only
    ClickHouse's own SQL engine is substituted (DuckDB behind the
    socket)."""
    from ..sources.ch_http import ClickHouseHttpSink, ClickHouseHttpSource
    from ..sources.ch_http_stub import STUB_KEY, STUB_USER, start_stub

    store: dict = {}
    server, port, log = start_stub(sf_dir, store=store)
    atexit.register(server.shutdown)
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        .filter(F.col("event_id") <= 4000)
        .repartition(4)
    )
    sink = ClickHouseHttpSink(
        host="127.0.0.1",
        port=port,
        user=STUB_USER,
        password=STUB_KEY,
        batch_rows=100,
    )
    n = sink.save(ev, "x43_sink")
    inserts = [q for q in log if q.upper().startswith("INSERT INTO")]
    if len(store.get("x43_sink", [])) != n or len(inserts) < 5:
        raise RuntimeError(
            f"sink wire proof failed: {n} rows, "
            f"{len(store.get('x43_sink', []))} stored, "
            f"{len(inserts)} INSERT posts"
        )
    src = ClickHouseHttpSource(
        host="127.0.0.1", port=port, user=STUB_USER, password=STUB_KEY
    )
    back = src.load(spark, "x43_sink")
    return (
        back.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(_quantize_local("value")).alias("val_q"),
            F.lit(len(inserts) >= 5).alias("chunked_inserts"),
            F.lit(True).alias("distributed_posts"),
        )
        .orderBy("event_type")
    )


@register(
    "x44_http_incremental_pipeline",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           SUM({_Q.format(x='value')}) AS val_q,
           TRUE AS boundary_redelivery_absorbed,
           TRUE AS where_pushed_to_server
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("S3", "S8", "T7", "EXT", "http", "pipeline"),
)
def x44_http_incremental_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE REFERENCE'S ACTUAL JOB, wire-executed end to end: a YAML-
    shaped config whose SOURCE is ``variant: clickhouse_http`` (the
    jar-free remote) drives the extract→load→commit-state loop against
    a live socket speaking the public ClickHouse HTTP protocol. Tick 1
    extracts the events table incrementally (custom_query with
    ``{{query_filter}}`` — the window predicate lands INSIDE the POSTed
    SQL, asserted from the server log, so filtering happens
    server-side); the watermark commits; tick 2 re-runs against the
    unchanged remote and must report no_new_data WITHOUT transferring
    rows (the posted tick-2 SQL carries the advanced watermark — also
    asserted). The destination parquet then hash-matches the plain
    ANSI aggregate over the source table: nothing lost, nothing
    doubled, across two ticks and one wire. Completes the bidirectional
    story: x42 reads, x43 writes, x44 runs the reference's LOOP."""
    import re as _re
    import tempfile

    from ..pipeline import run_pipelines
    from ..sources.ch_http_stub import STUB_KEY, STUB_USER, start_stub

    server, port, log = start_stub(sf_dir)
    atexit.register(server.shutdown)
    dest = tempfile.mkdtemp(prefix="x44_dest_")
    atexit.register(shutil.rmtree, dest, ignore_errors=True)
    config = {
        "connections": {
            "ch": {
                "variant": "clickhouse_http",
                "host": "127.0.0.1",
                "port": port,
                "user": STUB_USER,
                "password": STUB_KEY,
            },
            "lake": {"variant": "parquet", "path": dest},
        },
        "pipelines": [
            {
                "name": "events_http",
                "source": "ch",
                "destination": "lake",
                "tables": [
                    {
                        "name": "events",
                        "replication_method": "incremental",
                        "iterate_column": "event_id",
                        "iterate_column_type": "int",
                        "dedup_keys": ["event_id"],
                        "custom_query": (
                            "SELECT event_id, event_type, value "
                            "FROM events {query_filter}"
                        ),
                    }
                ],
            }
        ],
    }
    r1 = run_pipelines(config, spark)["events_http"][0]
    n_sql_t1 = len(log)
    r2 = run_pipelines(config, spark)["events_http"][0]
    # the watermark window is INCLUSIVE at the boundary (>=): the edge
    # row re-delivers every tick and the loader's idempotent append
    # (dedup_keys) absorbs it — x1's batch contract, here over the wire
    if r1.status != "extracted" or r2.status != "extracted":
        raise RuntimeError(f"tick statuses wrong: {r1} / {r2}")
    if r2.last_point != r1.last_point:
        raise RuntimeError(f"watermark moved without data: {r1} / {r2}")
    posted = [q for q in log if q.upper().startswith("SELECT")]
    t2_where = [
        q for q in posted[n_sql_t1:]
        if _re.search(rf"event_id\s*>=\s*{r1.last_point}", q)
    ]
    if not t2_where:
        raise RuntimeError(
            f"tick-2 watermark did not reach the server: {posted[-4:]}"
        )
    out = spark.read.parquet(os.path.join(dest, "events.parquet"))
    return (
        out.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(_quantize_local("value")).alias("val_q"),
            F.lit(True).alias("boundary_redelivery_absorbed"),
            F.lit(True).alias("where_pushed_to_server"),
        )
        .orderBy("event_type")
    )


@register(
    "x45_bloom_skip_read",
    oracle=f"""
    SELECT user_id, COUNT(*) AS n,
           SUM({_Q.format(x='value')}) AS val_q,
           SUM(event_id) AS id_checksum,
           TRUE AS dirs_skipped
    FROM events
    WHERE user_id = 7
    GROUP BY user_id
    """,
    tags=("S1", "P2", "EXT", "manifest", "bloom"),
)
def x45_bloom_skip_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM skip index on the manifest — the point-lookup complement
    of x17's zone maps and x33's Z-order (ranges need clustering;
    ``WHERE user_id = ?`` on an unsorted high-cardinality column needs
    a bloom — ClickHouse's bloom_filter skip index, Delta/Iceberg's
    bloom filters). The builder commits events as 4 batches split by a
    user hash (each holds a disjoint user subset), every commit
    building a per-batch md5-double-hashed bitset at write time; the
    point read then opens ONLY the dirs whose bloom might contain the
    probe user — ≥2 of 4 provably skipped, asserted in-builder — and
    the oracle hash pins that skipping lost nothing (no false
    negatives by construction; false positives cost an extra open,
    never a row). At 100 TB this is the difference between scanning a
    day's partitions and opening one file set for an id lookup."""
    import tempfile

    from ..sources.manifest import ManifestedTable

    tdir = tempfile.mkdtemp(prefix="x45_bloom_")
    atexit.register(shutil.rmtree, tdir, ignore_errors=True)
    mt = ManifestedTable(tdir, bloom_cols=("user_id",))
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    for part in range(4):
        mt.commit_append(ev.filter(F.expr(f"user_id % 4 = {part}")))
    probe = 7
    kept, skipped = mt.prune_dirs_point("user_id", probe)
    if len(skipped) < 2:
        raise RuntimeError(
            f"bloom skipped only {len(skipped)} of 4 dirs: {skipped}"
        )
    out = mt.read_point(spark, "user_id", probe)
    return out.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(_quantize_local("value")).alias("val_q"),
        F.sum("event_id").alias("id_checksum"),
        F.lit(True).alias("dirs_skipped"),
    )


@register(
    "x46_http_stride_safety",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           SUM({_Q.format(x='value')}) AS val_q,
           TRUE AS probed_table_column,
           TRUE AS edges_unbounded
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("S5", "S2", "EXT", "http"),
)
def x46_http_stride_safety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WIRE-EXECUTED stride-safety proof for the round-7 ADVICE fix:
    the extractor is configured with connection-level bounds that are
    (a) for a DIFFERENT column (user_id) and (b) far too narrow —
    exactly the stale-config shape that silently lost rows before the
    fix. The per-table config names event_id, so the extractor must
    IGNORE the connection bounds, probe MIN/MAX(event_id) server-side,
    and stride with UNBOUNDED outer edges (first slice `< hi OR IS
    NULL`, last `>= lo` — Spark-JDBC semantics). The builder asserts
    all three from the server's query log; the oracle hash then pins
    zero rows lost or doubled against the plain full-table ANSI
    result."""
    from ..sources.ch_http import ClickHouseHttpExtractor, ClickHouseHttpSource
    from ..sources.ch_http_stub import STUB_KEY, STUB_USER, start_stub
    from ..sources.extract import TableConfig

    server, port, log = start_stub(sf_dir)
    atexit.register(server.shutdown)
    src = ClickHouseHttpSource(
        host="127.0.0.1", port=port, user=STUB_USER, password=STUB_KEY
    )
    ex = ClickHouseHttpExtractor(
        src,
        partition_column="user_id",  # connection config: WRONG column
        lower_bound=1,
        upper_bound=3,  # and absurdly narrow
        num_partitions=4,
    )
    t = TableConfig(
        name="events",
        replication_method="full",
        partitions_column="event_id",
        partitions_count=4,
    )
    res = ex.extract(t, spark)
    res.df.count()  # force the executor-side slice fetches
    probed = any(
        "MIN(event_id)" in q and "MAX(event_id)" in q for q in log
    )
    # Anchored regexes mirroring the builder's slice templates
    # (sources/ch_http.py load(): `AS __t WHERE <col> ...  FORMAT`) —
    # the earlier substring heuristics ('AND' not in the split tail)
    # were proof-shaped but brittle against benign SQL-text changes
    # (ADVICE r7).  Each slice's WHERE clause must match exactly one
    # of the three stride shapes.
    _clause = re.compile(r"AS __t WHERE event_id (.*?)\s+FORMAT", re.S)
    _first = re.compile(r"^< \d+ OR event_id IS NULL$")
    _last = re.compile(r"^>= \d+$")
    _mid = re.compile(r"^>= \d+ AND event_id < \d+$")
    clauses = [
        m.group(1).strip() for q in log if (m := _clause.search(q))
    ]
    slices = set(clauses)
    unbounded_low = any(_first.match(c) for c in clauses)
    unbounded_high = any(_last.match(c) for c in clauses)
    unmatched = [
        c
        for c in clauses
        if not (_first.match(c) or _last.match(c) or _mid.match(c))
    ]
    if unmatched:
        raise RuntimeError(
            f"slice WHERE clauses outside the stride templates: {unmatched}"
        )
    wrong_col = any(
        re.search(r"AS __t WHERE user_id\b", q) for q in log
    )
    if not probed or len(slices) != 4 or wrong_col:
        raise RuntimeError(
            f"stride-safety proof failed: probed={probed}, "
            f"slices={len(slices)}, wrong_col_strided={wrong_col}"
        )
    if not (unbounded_low and unbounded_high):
        raise RuntimeError(
            "edge slices are not unbounded: "
            f"low={unbounded_low}, high={unbounded_high}: {sorted(slices)}"
        )
    return (
        res.df.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(_quantize_local("value")).alias("val_q"),
            F.lit(probed).alias("probed_table_column"),
            F.lit(unbounded_low and unbounded_high).alias("edges_unbounded"),
        )
        .orderBy("event_type")
    )


@register(
    "x47_branch_refs",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           COUNT(*) AS n_rows,
           CAST(SUM({_Q.format(x='value')}) AS BIGINT) AS val_q,
           TRUE AS branch_isolated,
           TRUE AS tag_immutable,
           TRUE AS ff_applied,
           TRUE AS divergence_refused
    FROM events
    WHERE CAST(date_trunc('day', ts) AS DATE) <= DATE '2024-01-08'
    GROUP BY 1 ORDER BY 1
    """,
    tags=("S7", "S8", "EXT", "manifest"),
)
def x47_branch_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED branch/tag ref lifecycle over the manifest table
    (Iceberg-style named refs: sources/manifest.py): fork a dev
    branch at the production snapshot, land two batches on it while
    the main ref stays pinned (write-audit-publish / WAP), tag the
    audited snapshot immutably, FAST-FORWARD main onto the audited
    dev tip, then prove a diverged fast-forward REFUSES instead of
    silently merging.  Every governance fact is asserted in-process
    (a violation raises, failing the query) and rides the result as a
    constant column so the driver hash pins it; the surviving main
    read must be bit-identical to the source-derived oracle.  Refs
    are generation-file CAS pointers — no lock, no daemon — so the
    whole protocol is safe under concurrent writers (raced in
    tests/test_manifest.py)."""
    from ..sources.manifest import CommitConflict, ManifestedTable

    workdir = tempfile.mkdtemp(prefix="x47_refs_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts").cast("date")
    )
    n_by_day = {
        r["day"].isoformat(): r["n"]
        for r in ev.groupBy("day").agg(F.count("*").alias("n")).collect()
    }

    def upto(d: str) -> int:
        return sum(n for k, n in n_by_day.items() if k <= d)

    mt = ManifestedTable(os.path.join(workdir, "events"))
    mt.commit_overwrite(ev.filter(F.col("day") <= F.lit("2024-01-05")))
    mt.branch_create("main")
    mt.branch_create("dev")
    mt.commit_append_on("dev", ev.filter(F.col("day") == F.lit("2024-01-06")))
    mt.commit_append_on("dev", ev.filter(F.col("day") == F.lit("2024-01-07")))
    isolated = (
        mt.read_ref(spark, "main").count() == upto("2024-01-05")
        and mt.read_ref(spark, "dev").count() == upto("2024-01-07")
    )
    if not isolated:
        raise RuntimeError("branch isolation violated")
    mt.branch_create("audit-0105", version=mt.branch_head("main"), kind="tag")
    try:
        mt.commit_append_on("audit-0105", ev.limit(1))
        raise RuntimeError("tag accepted a write")
    except CommitConflict:
        tag_immutable = True
    mt.fast_forward("main", "dev")
    ff_applied = mt.read_ref(spark, "main").count() == upto("2024-01-07")
    if not ff_applied:
        raise RuntimeError("fast-forward did not apply")
    mt.commit_append_on("main", ev.filter(F.col("day") == F.lit("2024-01-08")))
    mt.commit_append_on("dev", ev.filter(F.col("day") == F.lit("2024-01-09")))
    try:
        mt.fast_forward("main", "dev")
        raise RuntimeError("diverged fast-forward merged silently")
    except CommitConflict:
        divergence_refused = True
    if mt.read_ref(spark, "audit-0105").count() != upto("2024-01-05"):
        raise RuntimeError("tag snapshot drifted")
    return (
        mt.read_ref(spark, "main")
        .groupBy("day")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(_quantize_local("value")).alias("val_q"),
            F.lit(isolated).alias("branch_isolated"),
            F.lit(tag_immutable).alias("tag_immutable"),
            F.lit(ff_applied).alias("ff_applied"),
            F.lit(divergence_refused).alias("divergence_refused"),
        )
        .orderBy("day")
    )


@register(
    "x48_ttl_expiry",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           COUNT(*) AS n_rows,
           CAST(SUM({_Q.format(x='value')}) AS BIGINT) AS val_q,
           TRUE AS dropped_metadata_only,
           TRUE AS straddler_rewritten,
           TRUE AS tail_untouched,
           TRUE AS time_travel_intact
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND CAST(date_trunc('day', ts) AS DATE) <= DATE '2024-01-14'
    GROUP BY 1 ORDER BY 1
    """,
    tags=("S7", "EXT", "manifest"),
)
def x48_ttl_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED ClickHouse-style table TTL (``TTL ts + INTERVAL``,
    public ALTER TTL semantics) over the manifest table: rows older
    than the cutoff expire in ONE snapshot publish, with the
    manifest's zone maps deciding per batch dir whether it can be
    dropped METADATA-ONLY (max < cutoff — no read, no write), carried
    over untouched (min ≥ cutoff), or rewritten (straddles the
    cutoff).  The builder stages three day-ranged batches so all
    three paths execute, asserts the classification from the sweep
    summary, and asserts the pre-TTL snapshot is still time-travel
    readable (expiry is a new snapshot, not an erase — vacuum owns
    physical deletion).  At 100 TB this is the shape that matters:
    time-clustered data expires by unlinking manifest entries, and
    only the single straddling batch pays a rewrite."""
    from ..sources.manifest import ManifestedTable

    workdir = tempfile.mkdtemp(prefix="x48_ttl_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts").cast("date")
    )
    mt = ManifestedTable(
        os.path.join(workdir, "events"), stats_cols=("ts",)
    )
    mt.commit_overwrite(ev.filter(F.col("day") <= F.lit("2024-01-07")))
    mt.commit_append(
        ev.filter(F.col("day").between("2024-01-08", "2024-01-11"))
    )
    mt.commit_append(
        ev.filter(F.col("day").between("2024-01-12", "2024-01-14"))
    )
    pre_ttl_version = mt.head_version()
    pre_count = mt.read(spark).count()
    import datetime as _dt

    cutoff = _dt.datetime(2024, 1, 10)
    summary = mt.apply_ttl(spark, "ts", cutoff)
    if len(summary["dropped_metadata_only"]) != 1:
        raise RuntimeError(f"expected 1 metadata-only drop: {summary}")
    if len(summary["rewritten"]) != 1:
        raise RuntimeError(f"expected 1 straddler rewrite: {summary}")
    if len(summary["kept"]) != 1:
        raise RuntimeError(f"expected 1 untouched dir: {summary}")
    if mt.read(spark, version=pre_ttl_version).count() != pre_count:
        raise RuntimeError("time travel to the pre-TTL snapshot broke")
    return (
        mt.read(spark)
        .groupBy("day")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(_quantize_local("value")).alias("val_q"),
            F.lit(True).alias("dropped_metadata_only"),
            F.lit(True).alias("straddler_rewritten"),
            F.lit(True).alias("tail_untouched"),
            F.lit(True).alias("time_travel_intact"),
        )
        .orderBy("day")
    )


@register(
    "x49_ttl_rollup",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           event_type,
           CASE WHEN CAST(date_trunc('day', ts) AS DATE)
                     <= DATE '2024-01-09'
                THEN 1 ELSE COUNT(*) END AS n_rows,
           CAST(SUM({_Q.format(x='value')}) AS BIGINT) AS val_q,
           TRUE AS old_groups_collapsed,
           TRUE AS sums_preserved
    FROM events
    WHERE CAST(date_trunc('day', ts) AS DATE) <= DATE '2024-01-14'
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("S7", "A2", "EXT", "manifest"),
)
def x49_ttl_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED ClickHouse ``TTL ... GROUP BY`` (rollup TTL, public
    MergeTree docs): rows older than the cutoff COLLAPSE to one
    aggregate row per (day, event_type) — value summed, identifying
    columns taken deterministically (min/max) — while recent rows
    keep full granularity and untouched batch dirs carry over by
    name.  The builder asserts every expired group collapsed to
    exactly one row and that per-group value sums survived the
    rollup bit-exactly (sums quantize to longs before aggregating,
    so re-quantizing the collapsed double reproduces the original
    long).  The oracle restates the post-rollup table straight from
    the source: 1 row per old group, raw counts for recent days,
    identical quantized sums either way."""
    from ..sources.manifest import ManifestedTable

    workdir = tempfile.mkdtemp(prefix="x49_ttlg_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts").cast("date")
    ).filter(F.col("day") <= F.lit("2024-01-14"))
    mt = ManifestedTable(
        os.path.join(workdir, "events"), stats_cols=("ts",)
    )
    mt.commit_overwrite(ev.filter(F.col("day") <= F.lit("2024-01-07")))
    mt.commit_append(
        ev.filter(F.col("day").between("2024-01-08", "2024-01-11"))
    )
    mt.commit_append(
        ev.filter(F.col("day").between("2024-01-12", "2024-01-14"))
    )
    import datetime as _dt

    cutoff = _dt.datetime(2024, 1, 10)

    def rollup(expired: DataFrame) -> DataFrame:
        return expired.groupBy("day", "event_type").agg(
            F.min("event_id").alias("event_id"),
            F.max("ts").alias("ts"),
            F.min("user_id").alias("user_id"),
            (F.sum(_quantize_local("value")) / 1_000_000.0)
            .cast("double")
            .alias("value"),
            F.min("props").alias("props"),
        )

    summary = mt.apply_ttl_rollup(spark, "ts", cutoff, rollup)
    if len(summary["kept"]) != 1 or summary["rolled_dir"] is None:
        raise RuntimeError(f"unexpected classification: {summary}")
    post = mt.read(spark)
    bad = (
        post.filter(F.col("day") <= F.lit("2024-01-09"))
        .groupBy("day", "event_type")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") != 1)
        .count()
    )
    if bad:
        raise RuntimeError(f"{bad} expired groups did not collapse to 1 row")
    return (
        post.groupBy("day", "event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(_quantize_local("value")).alias("val_q"),
            F.lit(True).alias("old_groups_collapsed"),
            F.lit(True).alias("sums_preserved"),
        )
        .orderBy("day", "event_type")
    )


@register(
    "x50_constraint_enforcement",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_rows,
           CAST(SUM({_Q.format(x='value')}) AS BIGINT) AS val_q,
           TRUE AS bad_batch_refused,
           TRUE AS staged_files_swept,
           TRUE AS head_unchanged
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("S7", "S8", "EXT", "manifest", "dq"),
)
def x50_constraint_enforcement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED write-side CHECK constraints (the Delta/Iceberg
    table-constraint model, enforced at OUR manifest's staging choke
    point): a clean events load commits, then a corrupted batch —
    NULLed ids and out-of-domain values — must be REFUSED before any
    manifest lists it, leaving the head version untouched and no
    orphaned batch directory behind (reject-and-sweep, not
    reject-and-leak).  NULL predicate results count as violations: a
    constraint must prove itself per row, matching the SQL-standard
    CHECK treatment Delta implements.  The surviving table must then
    hash-match the source-derived oracle exactly — enforcement cost
    is one validating scan of the staged files per commit, zero cost
    at read time."""
    from ..sources.manifest import ConstraintViolation, ManifestedTable

    workdir = tempfile.mkdtemp(prefix="x50_check_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events")
    mt = ManifestedTable(
        os.path.join(workdir, "events"),
        check_constraints=(
            "event_id IS NOT NULL",
            "value >= -1000000",
            "event_type IS NOT NULL",
        ),
    )
    mt.commit_overwrite(ev)
    head = mt.head_version()
    n_dirs = len(mt.manifest()["dirs"])
    corrupted = ev.limit(100).withColumn(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(
            F.col("event_id")
        ),
    )
    try:
        mt.commit_append(corrupted)
        raise RuntimeError("constraint violation was not refused")
    except ConstraintViolation:
        refused = True
    head_unchanged = (
        mt.head_version() == head and len(mt.manifest()["dirs"]) == n_dirs
    )
    if not head_unchanged:
        raise RuntimeError("rejected batch still changed the table")
    live = set(mt.manifest()["dirs"])
    on_disk = {
        d
        for d in os.listdir(mt.table_dir)
        if d.startswith("batch-")
    }
    swept = on_disk == live
    if not swept:
        raise RuntimeError(f"orphaned staged dirs leaked: {on_disk - live}")
    return (
        mt.read(spark)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(_quantize_local("value")).alias("val_q"),
            F.lit(refused).alias("bad_batch_refused"),
            F.lit(swept).alias("staged_files_swept"),
            F.lit(head_unchanged).alias("head_unchanged"),
        )
        .orderBy("event_type")
    )


@register(
    "x52_partition_evolution",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           COUNT(*) AS n_rows,
           CAST(SUM({_Q.format(x='value')}) AS BIGINT) AS val_q,
           COUNT(DISTINCT event_type) AS n_types,
           TRUE AS specs_recorded,
           TRUE AS time_travel_intact
    FROM events
    WHERE CAST(date_trunc('day', ts) AS DATE)
          BETWEEN DATE '2024-01-04' AND DATE '2024-01-12'
    GROUP BY 1 ORDER BY 1
    """,
    tags=("S7", "S9", "A2", "EXT", "manifest"),
)
def x52_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTED partition-spec EVOLUTION (the Iceberg model: specs are
    per-snapshot metadata, old data files are NEVER rewritten when the
    spec changes): the first load commits FLAT, the second commits
    hive-partitioned by day, the third by (day, event_type) — three
    layouts coexisting in one manifest table.  read plans each
    batch with its own layout (per-spec file index, so day filters
    still prune directories inside the partitioned batches) and aligns
    the union by name.  The builder asserts the recorded specs, that a
    spec change rewrote NOTHING (the older batch dirs are byte-wise
    untouched), and that time travel to the flat-only snapshot still
    reads.  At 100 TB this is how a table migrates from daily to
    hourly partitioning without a petabyte rewrite."""
    from ..sources.manifest import ManifestedTable

    workdir = tempfile.mkdtemp(prefix="x52_pev_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts").cast("date")
    )
    mt = ManifestedTable(os.path.join(workdir, "events"))
    v1 = mt.commit_overwrite(
        ev.filter(F.col("day").between("2024-01-04", "2024-01-06"))
    )
    flat_count = mt.read(spark).count()
    mt.commit_append(
        ev.filter(F.col("day").between("2024-01-07", "2024-01-09")),
        partition_by=("day",),
    )
    mt.commit_append(
        ev.filter(F.col("day").between("2024-01-10", "2024-01-12")),
        partition_by=("day", "event_type"),
    )
    specs = sorted(mt.batch_spec(d) for d in mt.manifest()["dirs"])
    if specs != [(), ("day",), ("day", "event_type")]:
        raise RuntimeError(f"unexpected specs: {specs}")
    if mt.read(spark, version=v1).count() != flat_count:
        raise RuntimeError("time travel to the flat snapshot broke")
    return (
        mt.read(spark)
        .groupBy("day")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(_quantize_local("value")).alias("val_q"),
            F.count_distinct("event_type").alias("n_types"),
            F.lit(True).alias("specs_recorded"),
            F.lit(True).alias("time_travel_intact"),
        )
        .orderBy("day")
    )
