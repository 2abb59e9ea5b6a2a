"""Data-quality constraint validation — the dbt-test/Deequ-style gate a
pipeline runs on every extracted batch before it reaches training or a
destination table (the reference delegates this to whatever runs after
the extractor; here it is a first-class declared operator).

One linear pass per fact table computes every row-local rule as a
conditional aggregate (no per-rule scans), and the one cross-table rule
(referential integrity) is a single anti-join semi-count. The report is
rows of (rule, n_violations) — a shape monitoring systems ingest
directly. At scale: rule evaluation is map-side codegen riding the
scan; only O(rules) rows ever shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register


@register(
    "dq1_constraint_report",
    oracle="""
    WITH li AS (
      SELECT
        COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS dup_pk,
        SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS nonpos_price,
        SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
          AS bad_discount,
        SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS null_shipdate,
        SUM(CASE WHEN l_quantity <> TRUNC(l_quantity) THEN 1 ELSE 0 END)
          AS frac_quantity
      FROM lineitem
    ),
    orphan AS (
      SELECT COUNT(*) AS n FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_orderkey = l.l_orderkey)
    )
    SELECT 'duplicate_pk' AS rule, CAST(dup_pk AS BIGINT) AS n_violations FROM li
    UNION ALL
    SELECT 'nonpositive_price', CAST(nonpos_price AS BIGINT) FROM li
    UNION ALL
    SELECT 'discount_out_of_range', CAST(bad_discount AS BIGINT) FROM li
    UNION ALL
    SELECT 'null_shipdate', CAST(null_shipdate AS BIGINT) FROM li
    UNION ALL
    SELECT 'fractional_quantity', CAST(frac_quantity AS BIGINT) FROM li
    UNION ALL
    SELECT 'orphan_lineitem', CAST(n AS BIGINT) FROM orphan
    """,
    tags=("A7", "J6", "EXT"),
)
def dq1_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint validation report over lineitem: primary-key
    uniqueness, value ranges, null checks, integrality, and referential
    integrity against orders.  All row-local rules fold into ONE
    conditional aggregate over a single scan; the referential rule is
    one anti-join count (left_anti on the orderkey, the J6 shape).  The
    fixture data is clean, so the report proves zeros — the same query
    on a dirty batch localizes the failure by rule name."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    one = li.agg(
        (
            F.count("*")
            - F.count_distinct(F.struct("l_orderkey", "l_linenumber"))
        ).alias("duplicate_pk"),
        F.sum((F.col("l_extendedprice") <= 0).cast("long")).alias(
            "nonpositive_price"
        ),
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).cast("long")
        ).alias("discount_out_of_range"),
        F.sum(F.col("l_shipdate").isNull().cast("long")).alias("null_shipdate"),
        F.sum(
            (F.col("l_quantity") != F.floor("l_quantity").cast("double")).cast(
                "long"
            )
        ).alias("fractional_quantity"),
    )
    rules = one.unpivot(
        [], list(one.columns), "rule", "n_violations"
    )
    orphans = (
        li.select("l_orderkey")
        .join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count("*").alias("n_violations"))
        .select(F.lit("orphan_lineitem").alias("rule"), "n_violations")
    )
    return rules.unionByName(orphans)


from ._determinism import _Q, _quantize  # noqa: E402


@register(
    "dq2_zscore_outliers",
    oracle=f"""
    WITH q AS (
      SELECT event_type, {_Q.format(x='value')} AS vq FROM events
    ),
    m AS (
      SELECT event_type, COUNT(*) AS n, SUM(vq) AS sq,
             SUM(CAST(vq AS DECIMAL(38,0)) * vq) AS ssq
      FROM q GROUP BY event_type
    ),
    s AS (
      SELECT event_type, n,
             CAST(sq AS DOUBLE) / 1000000.0 / n AS mean,
             SQRT((CAST(ssq AS DOUBLE) / 1000000000000.0
                   - (CAST(sq AS DOUBLE) / 1000000.0)
                     * (CAST(sq AS DOUBLE) / 1000000.0) / n) / (n - 1)) AS std
      FROM m
    )
    SELECT q.event_type,
           MAX(s.n) AS n,
           SUM(CASE WHEN ABS(CAST(vq AS DOUBLE) / 1000000.0 - mean)
                         > 3 * std THEN 1 ELSE 0 END) AS outliers,
           ROUND(MAX(mean), 6) AS mean,
           ROUND(MAX(std), 6) AS std
    FROM q JOIN s ON q.event_type = s.event_type
    GROUP BY q.event_type
    """,
    tags=("A10", "EXT", "dq"),
)
def dq2_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly screening — per-group 3σ outlier counts, the monitoring
    rule a pipeline evaluates on every extracted batch next to dq1's
    constraint report. Two passes: an integer-moment aggregate (n, Σq,
    Σq² — exact, order-independent) yields mean/std per group, then the
    per-row |x−μ| > 3σ test re-reads the fact with the tiny stats
    broadcast — the flag comparison runs over identical doubles in
    both engines, so counts match exactly. At 100 TB both passes are
    scan + map-side work; only O(groups) rows ever shuffle."""
    ev = load_table(spark, sf_dir, "events")
    q = ev.select("event_type", _quantize("value").alias("vq"))
    m = q.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("vq").alias("sq"),
        F.sum(F.col("vq").cast("decimal(38,0)") * F.col("vq")).alias("ssq"),
    )
    mean = F.col("sq").cast("double") / 1_000_000.0 / F.col("n")
    std = F.sqrt(
        (
            F.col("ssq").cast("double") / 1_000_000_000_000.0
            - (F.col("sq").cast("double") / 1_000_000.0)
            * (F.col("sq").cast("double") / 1_000_000.0)
            / F.col("n")
        )
        / (F.col("n") - 1)
    )
    s = m.select("event_type", "n", mean.alias("mean"), std.alias("std"))
    j = q.join(F.broadcast(s), "event_type")
    flag = (
        F.abs(F.col("vq").cast("double") / 1_000_000.0 - F.col("mean"))
        > 3 * F.col("std")
    ).cast("long")
    return j.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.sum(flag).alias("outliers"),
        F.round(F.max("mean"), 6).alias("mean"),
        F.round(F.max("std"), 6).alias("std"),
    )


@register(
    "dq5_freshness_report",
    oracle="""
    WITH g AS (SELECT MAX(ts) AS head_ts FROM events)
    SELECT event_type,
           MAX(ts) AS latest_ts,
           epoch_us(MAX(head_ts)) - epoch_us(MAX(ts)) AS lag_us,
           SUM(CASE WHEN ts >= head_ts - INTERVAL 1 DAY
                    THEN 1 ELSE 0 END) AS events_last_day,
           COUNT(*) AS events_total
    FROM events CROSS JOIN g
    GROUP BY event_type
    """,
    tags=("A1", "EXT", "dq"),
)
def dq5_freshness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness monitoring — per event stream: its latest watermark,
    the lag behind the table head (a partition that stopped flowing
    shows a growing lag while the others advance), and last-day volume
    — the staleness alarm a pipeline evaluates each tick next to
    dq1/dq2. Anchored on max(ts) rather than now() so the report is a
    pure function of the data (deterministic, backtestable). One
    aggregation plus a broadcast 1-row head — O(streams) output."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.agg(F.max("ts").alias("head_ts"))
    j = ev.join(F.broadcast(g))
    return j.groupBy("event_type").agg(
        F.max("ts").alias("latest_ts"),
        (
            F.unix_micros(F.max("head_ts").cast("timestamp"))
            - F.unix_micros(F.max("ts").cast("timestamp"))
        ).alias("lag_us"),
        F.count_if(
            F.col("ts") >= F.col("head_ts") - F.expr("INTERVAL 1 DAY")
        ).alias("events_last_day"),
        F.count("*").alias("events_total"),
    )


@register(
    "dq10_referential_integrity",
    oracle="""
    SELECT * FROM (
      SELECT 'lineitem->orders' AS fk, COUNT(*) AS child_rows,
             COUNT(*) FILTER (WHERE o.o_orderkey IS NULL) AS orphans,
             COALESCE(MIN(CASE WHEN o.o_orderkey IS NULL
                               THEN l.l_orderkey END), -1) AS first_orphan_key
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT 'orders->customer', COUNT(*),
             COUNT(*) FILTER (WHERE c.c_custkey IS NULL),
             COALESCE(MIN(CASE WHEN c.c_custkey IS NULL
                               THEN o.o_custkey END), -1)
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      UNION ALL
      SELECT 'customer->nation', COUNT(*),
             COUNT(*) FILTER (WHERE n.n_nationkey IS NULL),
             COALESCE(MIN(CASE WHEN n.n_nationkey IS NULL
                               THEN c.c_nationkey END), -1)
      FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      UNION ALL
      SELECT 'supplier->nation', COUNT(*),
             COUNT(*) FILTER (WHERE n.n_nationkey IS NULL),
             COALESCE(MIN(CASE WHEN n.n_nationkey IS NULL
                               THEN s.s_nationkey END), -1)
      FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
    ) ORDER BY fk
    """,
    tags=("J3", "J6", "EXT", "dq"),
)
def dq10_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit across the catalog's relationships —
    the ingest gate that catches partial loads (children arrived before
    parents) and broken CDC feeds, run before dq9's volume
    reconciliation trusts the counts.  Per relationship: child rows,
    orphan count, and the smallest orphaned key (-1 when clean) as the
    repair pointer.

    Scale shape: each relationship is ONE left join keyed on the FK —
    parent sides here are dimensions and broadcast; a fact→fact FK
    (lineitem→orders) shuffles on the key exactly like the q3/q10
    joins and AQE skew-splits a hot parent.  No distinct, no
    count-distinct — orphan detection rides the join's null extension,
    partial-aggregated map-side."""
    def check(child, ckey: str, parent, pkey: str, fk: str, broadcast: bool):
        p = parent.select(F.col(pkey).alias("__pk")).distinct()
        if broadcast:
            p = F.broadcast(p)
        j = child.select(F.col(ckey).alias("__ck")).join(
            p, F.col("__ck") == F.col("__pk"), "left"
        )
        return j.agg(
            F.lit(fk).alias("fk"),
            F.count("*").alias("child_rows"),
            F.count_if(F.col("__pk").isNull()).alias("orphans"),
            F.coalesce(
                F.min(F.when(F.col("__pk").isNull(), F.col("__ck"))),
                F.lit(-1),
            ).alias("first_orphan_key"),
        )

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        check(li, "l_orderkey", o, "o_orderkey", "lineitem->orders", False)
        .unionAll(check(o, "o_custkey", c, "c_custkey", "orders->customer", True))
        .unionAll(check(c, "c_nationkey", n, "n_nationkey", "customer->nation", True))
        .unionAll(check(s, "s_nationkey", n, "n_nationkey", "supplier->nation", True))
        .orderBy("fk")
    )


@register(
    "ch_tukey_outliers",
    oracle="""
    WITH cents AS (
      SELECT l_orderkey,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
      FROM lineitem
    ),
    q AS (
      SELECT CAST(quantile_cont(c, 0.25) * 8 AS BIGINT) AS q1_8,
             CAST(quantile_cont(c, 0.75) * 8 AS BIGINT) AS q3_8
      FROM cents
    ),
    f AS (
      SELECT q1_8, q3_8,
             q1_8 - (3 * (q3_8 - q1_8)) // 2 AS lo_8,
             q3_8 + (3 * (q3_8 - q1_8)) // 2 AS hi_8
      FROM q
    )
    SELECT f.q1_8, f.q3_8, f.lo_8, f.hi_8,
           COUNT(*) FILTER (WHERE c * 8 < lo_8) AS n_low,
           COUNT(*) FILTER (WHERE c * 8 > hi_8) AS n_high,
           COALESCE(SUM(CASE WHEN c * 8 < lo_8 OR c * 8 > hi_8
                             THEN l_orderkey ELSE 0 END), 0) AS out_checksum
    FROM cents, f
    GROUP BY f.q1_8, f.q3_8, f.lo_8, f.hi_8
    """,
    tags=("A9", "EXT", "quality", "tukey"),
)
def ch_tukey_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence (1.5×IQR) outlier audit — ClickHouse ships it as
    seriesOutliersDetectTukey; it is the robust sibling of dq2's
    z-score gate (quartiles don't move when the outliers themselves
    do). All arithmetic is EXACT: prices become integer cents, the
    interpolated quartiles are scaled ×8 so every possible
    interpolation fraction (quarters) and the 1.5× fence multiplier
    land on integers — both engines compare integers, no float
    threshold drift. Shape: one exact-percentile aggregate (single
    reduce), fences broadcast back over one scan; the id-sum checksum
    pins WHICH rows breached. At 100 TB swap the exact percentile for
    the mergeable sketch (a14) and keep the fence algebra unchanged."""
    cents = load_table(spark, sf_dir, "lineitem").selectExpr(
        "l_orderkey",
        "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS c",
    )
    # r12: the quartiles come from ORDER STATISTICS over the distinct
    # (value, count) relation instead of a percentile() aggregate.
    # percentile()'s buffer is a boxed value→count OpenHashMap built
    # and merged on ONE task — 1.35 s of the query's 1.89 s at sf0.1
    # (OPTIMIZATION_r12.md; the single-buffer array form of r11 had already
    # halved it from two maps).  Here the collapse to ~583k distinct
    # cents is a codegen hash aggregate (partial→final, parallel), and
    # the only serial step left is the prefix-sum window over DISTINCT
    # values — O(distinct) not O(rows), the a28/ch_quantiles_disc
    # shape.  Interpolation algebra is Percentile's own
    # (pos = p·(n−1); lo + (pos−⌊pos⌋)·(hi−lo)): positions are exact
    # quarters and values integer cents, so every term is an exact
    # double and the ×8 CAST lands on the same integer bit-for-bit
    # (strict sim MATCH at sf0.01 + sf0.1 enforces it).
    per = cents.groupBy("c").agg(F.count("*").alias("cnt"))
    cum = per.select(
        "c",
        "cnt",
        F.sum("cnt")
        .over(
            Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("cc"),
    )
    nrow = per.agg(F.sum("cnt").alias("n"))
    pos25 = F.lit(0.25) * (F.col("n") - 1)
    pos75 = F.lit(0.75) * (F.col("n") - 1)
    li25, li75 = F.floor(pos25), F.floor(pos75)

    def _at(idx):  # value at 0-based global index idx (exactly one row)
        return F.min(
            F.when((F.col("cc") - F.col("cnt") <= idx) & (F.col("cc") > idx), F.col("c"))
        )

    picks = (
        cum.crossJoin(F.broadcast(nrow))
        .groupBy("n")
        .agg(
            _at(li25).alias("q1lo"),
            _at(li25 + 1).alias("q1hi"),
            _at(li75).alias("q3lo"),
            _at(li75 + 1).alias("q3hi"),
        )
    )
    frac25 = pos25 - F.floor(pos25)
    frac75 = pos75 - F.floor(pos75)
    q = picks.select(
        (
            (
                F.col("q1lo")
                + frac25 * (F.coalesce(F.col("q1hi"), F.col("q1lo")) - F.col("q1lo"))
            )
            * 8
        )
        .cast("bigint")
        .alias("q1_8"),
        (
            (
                F.col("q3lo")
                + frac75 * (F.coalesce(F.col("q3hi"), F.col("q3lo")) - F.col("q3lo"))
            )
            * 8
        )
        .cast("bigint")
        .alias("q3_8"),
    )
    f = q.selectExpr(
        "q1_8",
        "q3_8",
        "q1_8 - (3 * (q3_8 - q1_8)) DIV 2 AS lo_8",
        "q3_8 + (3 * (q3_8 - q1_8)) DIV 2 AS hi_8",
    )
    return (
        cents.crossJoin(F.broadcast(f))
        .groupBy("q1_8", "q3_8", "lo_8", "hi_8")
        .agg(
            F.count_if(F.expr("c * 8 < lo_8")).alias("n_low"),
            F.count_if(F.expr("c * 8 > hi_8")).alias("n_high"),
            F.coalesce(
                F.sum(
                    F.expr(
                        "CASE WHEN c * 8 < lo_8 OR c * 8 > hi_8 "
                        "THEN l_orderkey ELSE 0 END"
                    )
                ),
                F.lit(0),
            ).alias("out_checksum"),
        )
    )
