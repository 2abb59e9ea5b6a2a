"""Aggregation operators (SURVEY §2.4 A1-A11).

A1 is the reference's only in-Spark computation — the watermark
``df.agg(F.max(iterate_column))`` at reference
``mkpipe_extractor_clickhouse/__init__.py:110-112``. A2-A11 are the
grouped-aggregation surface the reference exposes via ClickHouse SQL
passthrough (``custom_query``, reference ``README.md:57-66``), executed
natively: Spark plans these as partial (map-side) + final hash
aggregations automatically, so at 100 TB the shuffle carries only
pre-aggregated group states, not rows.

All double aggregates use the quantizing helpers from
``_determinism`` so results are order-independent (see that module).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ._determinism import DAVG, DSUM, SPARK_DSUM, davg, dsum
from ._ngrams import md5_hash60


@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {DSUM.format(x='l_quantity')} AS sum_qty,
           {DSUM.format(x='l_extendedprice')} AS sum_base_price,
           {DSUM.format(x='l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {DSUM.format(x='l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {DAVG.format(x='l_quantity')} AS avg_qty,
           {DAVG.format(x='l_extendedprice')} AS avg_price,
           {DAVG.format(x='l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("A2", "flagship"),
    bench=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style pricing summary: scan → filter → grouped agg.

    The flagship end-to-end slice (SURVEY §7 M0): S1 scan with pruned
    ReadSchema, P4 pushed filter, A2 partial+final hash agg, O1 sort.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "a1_watermark_max",
    oracle="""
    SELECT MAX(ts) AS max_ts, MAX(event_id) AS max_event_id
    FROM events
    """,
    tags=("A1",),
)
def a1_watermark_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped max — the reference's watermark computation
    (reference __init__.py:112) for both supported iterate_column
    types (datetime and int, reference README.md:108)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.max("ts").alias("max_ts"), F.max("event_id").alias("max_event_id")
    )


@register(
    "a2_group_agg",
    oracle=f"""
    SELECT o_orderpriority,
           {DSUM.format(x='o_totalprice')} AS sum_price,
           {DAVG.format(x='o_totalprice')} AS avg_price,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("A2",),
    bench=True,
)
def a2_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped hash aggregation: sum/avg/min/max/count."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        dsum("o_totalprice").alias("sum_price"),
        davg("o_totalprice").alias("avg_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.count("*").alias("n_orders"),
    )


@register(
    "a3_counts",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(l_partkey) AS n_partkey,
           COUNT(DISTINCT l_partkey) AS n_distinct_parts,
           COUNT(DISTINCT l_orderkey) AS n_distinct_orders
    FROM lineitem
    """,
    tags=("A3",),
)
def a3_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(*) / count(col) / count(distinct) — exact distinct is a
    two-stage (partial-dedup → final) plan in Spark, shuffle-safe."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.count("l_partkey").alias("n_partkey"),
        F.countDistinct("l_partkey").alias("n_distinct_parts"),
        F.countDistinct("l_orderkey").alias("n_distinct_orders"),
    )


@register(
    "a4_approx_count_distinct",
    oracle=None,  # approximate → rows-only check (SURVEY A4)
    tags=("A4",),
)
def a4_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse uniq() analogue: HyperLogLog++ sketch. Approximate by
    design → declared rows-only. At scale this avoids the exact-distinct
    shuffle entirely (sketches merge associatively map-side)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
    )


@register(
    "a5_having",
    oracle=f"""
    SELECT l_suppkey, {DSUM.format(x='l_quantity')} AS total_qty,
           COUNT(*) AS n_items
    FROM lineitem
    GROUP BY l_suppkey
    HAVING COUNT(*) > 100 AND {DSUM.format(x='l_quantity')} > 500
    """,
    tags=("A5",),
)
def a5_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING = post-aggregation filter."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(dsum("l_quantity").alias("total_qty"), F.count("*").alias("n_items"))
        .filter((F.col("n_items") > 100) & (F.col("total_qty") > 500))
    )


@register(
    "a6_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           {DSUM.format(x='l_quantity')} AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("A6",),
)
def a6_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping_id — hierarchical subtotals in one pass."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("long").alias("gid"),
        dsum("l_quantity").alias("sum_qty"),
        F.count("*").alias("n"),
    ).select("l_returnflag", "l_linestatus", "gid", "sum_qty", "n")


@register(
    "a6_cube",
    oracle=f"""
    SELECT l_returnflag, o_orderstatus,
           CAST(GROUPING(l_returnflag, o_orderstatus) AS BIGINT) AS gid,
           {DSUM.format(x='l_extendedprice')} AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY CUBE (l_returnflag, o_orderstatus)
    """,
    tags=("A6",),
)
def a6_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE across a join — all 2^k grouping combinations."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .cube("l_returnflag", "o_orderstatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            dsum("l_extendedprice").alias("sum_price"),
        )
        .select("l_returnflag", "o_orderstatus", "gid", "sum_price")
    )


@register(
    "a7_conditional_agg",
    oracle=f"""
    SELECT event_type,
           {DSUM.format(x="CASE WHEN value > 50 THEN value END")} AS sum_big,
           COUNT(*) FILTER (WHERE value > 50) AS n_big,
           COUNT(*) FILTER (WHERE value <= 50) AS n_small
    FROM events
    GROUP BY event_type
    """,
    tags=("A7",),
)
def a7_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse sumIf/countIf analogue: sum(CASE WHEN)/count_if."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        dsum(F.when(F.col("value") > 50, F.col("value"))).alias("sum_big"),
        F.count_if(F.col("value") > 50).alias("n_big"),
        F.count_if(F.col("value") <= 50).alias("n_small"),
    )


@register(
    "a8_collect_list",
    oracle="""
    SELECT n_regionkey,
           STRING_AGG(n_name, ',' ORDER BY n_name) AS nations
    FROM nation
    GROUP BY n_regionkey
    """,
    tags=("A8",),
)
def a8_collect_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse groupArray analogue. Sorted then joined to a string so
    the result is deterministic and hash-comparable (SURVEY §5.5)."""
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
    )


@register(
    "a9_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(MEDIAN(l_quantity), 6) AS median_qty,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.90), 6) AS p90_price,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.10), 6) AS p10_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("A9",),
)
def a9_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median / interpolated percentiles (ClickHouse quantile).

    Both engines use linear interpolation between the same two order
    statistics; rounded to 6dp to absorb ulp-level formula differences.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # One percentile buffer per COLUMN, not per fraction: each separate
    # percentile() aggregate builds its own value→count map over every
    # distinct l_extendedprice (~583k at sf0.1), so p90 and p10 as two
    # aggregates doubled that work (r12: the ch_tukey single-buffer fix
    # applied here, 3 buffers → 2).
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.median("l_quantity"), 6).alias("median_qty"),
            F.expr("percentile(l_extendedprice, array(0.90, 0.10))").alias("pp"),
        )
        .select(
            "l_returnflag",
            "median_qty",
            F.round(F.col("pp")[0], 6).alias("p90_price"),
            F.round(F.col("pp")[1], 6).alias("p10_price"),
        )
    )


@register(
    "a10_stats",
    oracle=f"""
    SELECT l_returnflag,
           ROUND(({DSUM.format(x='l_quantity * l_quantity')}
                  - {DSUM.format(x='l_quantity')} * {DSUM.format(x='l_quantity')} / COUNT(*))
                 / (COUNT(*) - 1), 6) AS var_qty,
           ROUND(SQRT(({DSUM.format(x='l_quantity * l_quantity')}
                  - {DSUM.format(x='l_quantity')} * {DSUM.format(x='l_quantity')} / COUNT(*))
                 / (COUNT(*) - 1)), 6) AS stddev_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("A10",),
)
def a10_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance/stddev via the sums-of-squares identity with
    exact decimal sums — deterministic across engines, unlike the
    engines' native single-pass/pairwise implementations which differ
    in low-order bits."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    sx = dsum(x)
    sxx = dsum(x * x)
    n = F.count("*")
    var = (sxx - sx * sx / n) / (n - 1)
    return li.groupBy("l_returnflag").agg(
        F.round(var, 6).alias("var_qty"),
        F.round(F.sqrt(var), 6).alias("stddev_qty"),
    )


@register(
    "a11_argmax",
    oracle="""
    SELECT o_orderpriority,
           ARG_MAX(o_orderkey, o_totalprice) AS max_price_order,
           ARG_MIN(o_orderkey, o_totalprice) AS min_price_order
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("A11",),
)
def a11_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse argMax/argMin analogue: max_by/min_by."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("max_price_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("min_price_order"),
    )


@register(
    "a12_bool_agg",
    oracle="""
    SELECT user_id,
           CAST(BOOL_OR(event_type = 'purchase') AS BIGINT) AS ever_purchased,
           CAST(BOOL_AND(value < 99) AS BIGINT) AS always_under_99,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events
    GROUP BY user_id
    """,
    tags=("A2",),
)
def a12_bool_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (ClickHouse max/minIf-over-flags shape):
    bool_or/bool_and (cast to long — DuckDB booleans collect as
    python bools, Spark as numpy bools; ints compare cleanly)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.bool_or(F.col("event_type") == "purchase").cast("long").alias("ever_purchased"),
        F.bool_and(F.col("value") < 99).cast("long").alias("always_under_99"),
        F.countDistinct("event_type").alias("n_types"),
    )


@register(
    "a13_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           COUNT(*) AS n,
           {DSUM.format(x='l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    tags=("A6",),
)
def a13_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): chosen subtotal
    combinations in one pass."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING_ID() AS BIGINT) AS gid,
               COUNT(*) AS n,
               {SPARK_DSUM.format(x='l_extendedprice')} AS sum_price
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "a15_topk_frequent",
    oracle="""
    SELECT token, COUNT(*) AS freq
    FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY freq DESC, token
    LIMIT 15
    """,
    tags=("A2", "O3", "L5"),
)
def a15_topk_frequent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy-hitters (ClickHouse topK analogue): frequency agg +
    total-ordered top-k. One shuffle of (token,count) partials, then
    TakeOrderedAndProject — at 100 TB swap in a count-min/space-saving
    sketch only if the token cardinality itself is unmanageable."""
    from .llm_text import _tokens

    d = load_table(spark, sf_dir, "documents")
    return (
        _tokens(d)
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token"))
        .limit(15)
    )


@register(
    "a16_hll_sketches",
    oracle=None,  # sketch bytes are implementation-defined → rows-only;
    # merge-consistency vs exact distinct asserted in tests/test_llm.py
    tags=("A4",),
)
def a16_hll_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches via Spark 3.5+
    hll_sketch_agg / hll_union_agg) — the ClickHouse uniqState/uniqMerge
    pattern: per-group sketches materialize once, then roll up to any
    coarser grouping WITHOUT rescanning the data. At 100 TB this is how
    distinct counts compose across time partitions: union the daily
    sketches instead of re-reading a year of rows."""
    li = load_table(spark, sf_dir, "lineitem")
    per_flag = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey").alias("sketch"),
        F.count("*").alias("n_rows"),
    )
    per_flag_counts = per_flag.select(
        "l_returnflag",
        F.hll_sketch_estimate("sketch").alias("approx_parts"),
        "n_rows",
    )
    rollup = per_flag.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx_parts"),
        F.sum("n_rows").alias("n_rows"),
    ).select(F.lit("ALL").alias("l_returnflag"), "approx_parts", "n_rows")
    return per_flag_counts.unionByName(rollup)


HLL_M = 256  # registers (precision p=8; rel. std err 1.04/√m ≈ 6.5%)
# alpha_m·m²·2⁵³ precomputed as ONE double literal shared verbatim by
# both engines (never runtime libm): alpha_256 = 0.7213/(1+1.079/256).
HLL_C = 4.2399330249068963e20


@register(
    "a16b_hll_portable",
    oracle=f"""
    WITH vals AS (
      SELECT l_returnflag,
             ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT
               AS h
      FROM lineitem
    ),
    jr AS (
      SELECT l_returnflag, h % {HLL_M} AS j,
             CASE WHEN h // {HLL_M} = 0 THEN 53
                  ELSE 53 - length(bin(h // {HLL_M})) END AS rho
      FROM vals
    ),
    regs AS (
      SELECT l_returnflag, j, MAX(rho) AS r FROM jr GROUP BY 1, 2
    ),
    merged AS (
      SELECT 'ALL' AS l_returnflag, j, MAX(r) AS r FROM regs GROUP BY 2
    ),
    allregs AS (SELECT * FROM regs UNION ALL SELECT * FROM merged),
    agg AS (
      SELECT l_returnflag,
             CAST({HLL_M} - COUNT(*) AS BIGINT) AS zero_regs,
             CAST(SUM(1::BIGINT << (53 - r))
                  + ({HLL_M} - COUNT(*)) * (1::BIGINT << 53)
                  AS BIGINT) AS harmonic_scaled
      FROM allregs GROUP BY 1
    )
    SELECT l_returnflag, zero_regs, harmonic_scaled,
           CAST(FLOOR({HLL_C!r} / harmonic_scaled * 1000000.0) AS BIGINT)
             AS est_q
    FROM agg ORDER BY l_returnflag
    """,
    tags=("A4", "EXT", "sketch"),
)
def a16b_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog with a PORTABLE hash and deterministic register
    layout — a16's uniqState/uniqMerge pattern upgraded from rows-only
    to fully hash-checked, the a24/a25 md5-family precedent applied to
    HLL (Flajolet et al. 2007; any well-mixed hash satisfies the
    estimator's analysis, so swapping the engine-internal hash for
    md5 changes nothing about the sketch's guarantees).

    Layout: h = 60-bit md5 prefix; register j = h mod 256; rho =
    leading-zero count of the remaining 52 bits + 1 (computed via
    length(bin(w)) — string arithmetic, no runtime libm). The sketch
    IS the (group, register) → max(rho) relation; MERGE is max per
    register (the 'ALL' rollup row merges the per-flag sketches
    without rescanning rows — uniqMerge). The harmonic sum is kept as
    an EXACT scaled integer (Σ 2^(53-rho) ≤ 2⁶¹) so cross-engine
    equality is bit-level, and the raw estimator alpha·m²/Σ2^-M is
    emitted quantized (×1e6, floored) from one shared double literal —
    no ln/pow anywhere. The small-range linear-counting correction is
    deliberately NOT applied (it needs runtime ln); zero_regs is
    emitted so a consumer can apply it. Estimate-vs-exact accuracy is
    pytest-bounded in tests/test_llm.py."""
    li = load_table(spark, sf_dir, "lineitem")
    h = md5_hash60(F.col("l_partkey").cast("string")).alias("h")
    jr = (
        li.select("l_returnflag", h)
        .withColumn("w", F.expr(f"h DIV {HLL_M}"))
        .select(
            "l_returnflag",
            F.pmod(F.col("h"), F.lit(HLL_M)).alias("j"),
            F.when(F.col("w") == 0, F.lit(53))
            .otherwise(F.lit(53) - F.length(F.bin(F.col("w"))))
            .cast("long")
            .alias("rho"),
        )
    )
    regs = jr.groupBy("l_returnflag", "j").agg(F.max("rho").alias("r"))
    merged = (
        regs.groupBy("j")
        .agg(F.max("r").alias("r"))
        .select(F.lit("ALL").alias("l_returnflag"), "j", "r")
    )
    allregs = regs.unionByName(merged)
    agg = allregs.groupBy("l_returnflag").agg(
        (F.lit(HLL_M) - F.count("*")).cast("long").alias("zero_regs"),
        (
            F.sum(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - r AS INT))")
            )
            + (F.lit(HLL_M) - F.count("*")) * F.lit(1 << 53)
        )
        .cast("long")
        .alias("harmonic_scaled"),
    )
    return agg.select(
        "l_returnflag",
        "zero_regs",
        "harmonic_scaled",
        F.floor(F.lit(HLL_C) / F.col("harmonic_scaled") * F.lit(1000000.0))
        .cast("long")
        .alias("est_q"),
    ).orderBy("l_returnflag")


@register(
    "a17_correlation",
    oracle=f"""
    SELECT l_returnflag,
           ROUND(
             ({DSUM.format(x='l_quantity * (l_extendedprice / 1000)')}
              - {DSUM.format(x='l_quantity')} * {DSUM.format(x='l_extendedprice / 1000')} / COUNT(*))
             / (SQRT({DSUM.format(x='l_quantity * l_quantity')}
                     - {DSUM.format(x='l_quantity')} * {DSUM.format(x='l_quantity')} / COUNT(*))
                * SQRT({DSUM.format(x='(l_extendedprice / 1000) * (l_extendedprice / 1000)')}
                       - {DSUM.format(x='l_extendedprice / 1000')} * {DSUM.format(x='l_extendedprice / 1000')} / COUNT(*))),
             6) AS corr_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("A10",),
)
def a17_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation via the sums identity with quantized sums —
    deterministic across engines, unlike native corr() whose
    accumulation order differs (completes the A10 stats family).
    Correlation is scale-invariant, so the price axis is pre-divided by
    1000 (identically in both engines): its raw second moment would
    overflow the 1e-6 scaled-long range at 60k+ rows."""
    li = load_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice") / 1000
    sx, sy = dsum(x), dsum(y)
    sxx, syy, sxy = dsum(x * x), dsum(y * y), dsum(x * y)
    n = F.count("*")
    corr = (sxy - sx * sy / n) / (
        F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n)
    )
    return li.groupBy("l_returnflag").agg(F.round(corr, 6).alias("corr_qty_price"))


@register(
    "a20_mode",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS cnt
      FROM events GROUP BY user_id, event_type
    ),
    r AS (
      SELECT user_id, event_type, cnt,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY cnt DESC, event_type) AS rn
      FROM c
    )
    SELECT user_id, event_type AS mode_event_type, cnt AS mode_count
    FROM r WHERE rn = 1
    """,
    tags=("A2", "A11", "EXT"),
)
def a20_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mode()`` — the most frequent value (here: each user's dominant
    event_type), with count ties broken to the lexicographically
    smallest value so the answer is total-order deterministic (ANSI
    mode() and ClickHouse topK(1) both leave ties arbitrary; a
    differential oracle cannot). Two hash aggregations — (user, type)
    counts, then min(struct(-cnt, type)) per user — both
    partial→final mergeable; no window, no sort, O(types) state."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    best = c.groupBy("user_id").agg(
        F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("event_type"))).alias("b")
    )
    return best.select(
        "user_id",
        F.col("b.event_type").alias("mode_event_type"),
        (-F.col("b.neg")).alias("mode_count"),
    )


@register(
    "a21_listagg",
    oracle="""
    SELECT user_id,
           STRING_AGG(event_type, ',' ORDER BY ts, event_id) AS journey,
           COUNT(*) AS n_events
    FROM events GROUP BY user_id
    """,
    tags=("A8", "EXT"),
)
def a21_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``LISTAGG / string_agg(expr, ',' ORDER BY ...)`` — the ordered
    concatenation aggregate (ClickHouse: arrayStringConcat(groupArray)).
    Spark has no ordered string_agg; the idiomatic restatement is
    collect_list(struct(orderkeys..., val)) → array_sort → transform →
    array_join, which keeps the whole aggregate in JVM codegen and one
    partial→final exchange. ts ties break on event_id, so the
    concatenation order is total and the string hash-stable."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ",",
            ).alias("journey"),
            F.count("*").alias("n_events"),
        )
    )


@register(
    "a22_distinct_if",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                               THEN user_id END) AS buyers,
           COUNT(DISTINCT CASE WHEN event_type = 'click'
                               THEN user_id END) AS clickers,
           COUNT(DISTINCT user_id) AS actives
    FROM events GROUP BY date_trunc('day', ts)
    """,
    tags=("A3", "A7", "EXT"),
)
def a22_distinct_if(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``uniqExactIf`` — conditional distinct counts (daily
    buyers vs clickers vs all actives) in ONE aggregation: each
    conditional distinct is COUNT(DISTINCT CASE WHEN …), which Spark
    plans as a single expand + two-level aggregate rather than three
    scans. The A7-combinator applied to A3."""
    ev = load_table(spark, sf_dir, "events")
    u = F.col("user_id")
    return ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", u)
        ).alias("buyers"),
        F.countDistinct(
            F.when(F.col("event_type") == "click", u)
        ).alias("clickers"),
        F.countDistinct(u).alias("actives"),
    )
