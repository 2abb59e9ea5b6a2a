"""Community detection: synchronous label propagation (LPA) over the
part co-purchase graph.

Raghavan et al., "Near linear time algorithm to detect community
structures in large-scale networks" (Phys. Rev. E 76, 2007) — each node
repeatedly adopts the most frequent label among its neighbors. The
textbook algorithm is ASYNCHRONOUS with random tie-breaks; that is
non-deterministic and therefore untestable, so this operator pins the
deterministic variant: SYNCHRONOUS rounds (every node updates from the
previous round's labels), a fixed iteration count, and ties broken
toward the SMALLEST label. Every run — Spark or the unrolled DuckDB
oracle — produces the same assignment bit-for-bit.

Shapes: each round is (edges ⋈ labels) → count per (node, label) →
row_number pick, i.e. one broadcast join (the label table is one row
per node — always the small side), one shuffle on node id, one
WindowGroupLimit-able window. Round count is fixed, so lineage stays
bounded; at a billion edges the same loop runs with the edge list
pre-partitioned on ``v`` and localCheckpoint() every few rounds (the
graph.py connected-components posture). Unlike min-label flooding
(= connected components, graph.py), LPA finds DENSE subgraphs inside a
single component — the community structure CC cannot see.

Reference anchor: graph queries ride the reference's query passthrough
(reference __init__.py:26-43); this extends the g-family (g1-g5 in
ch_analytics.py) with the standard community-detection primitive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ._cache import ephemeral_cache
from ._determinism import _Q, _quantize
from .ch_analytics import COPURCHASE_TOP_PARTS

LPA_ITERS = 3


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed-both-ways distinct edge set (u, v) between parts that
    share a supplier, bounded by the same per-supplier top-m volume cut
    as g3 (prune BEFORE pairing — the quadratic hazard guard).

    ephemeral_cache, because every consumer is an iterative graph
    query that references the edge relation once per unrolled round
    plus nodes/degrees: without it the agg + window + supplier
    self-join + distinct subtree re-executes per reference (Spark
    reuses the exchanges but re-runs everything above them — measured
    r12: the nine g* queries total 20.7 s steady at sf0.1 recomputing
    it, 9.8 s computing it once; results bit-identical). This is the
    standard iterative-graph posture (pin the edge list, then loop —
    cf. graph.py's star-round fallback), not a
    benchmark artifact: at a billion edges the recompute would be a
    full lineitem shuffle per PageRank round."""
    li = load_table(spark, sf_dir, "lineitem")
    vol = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(_quantize("l_quantity")).alias("q")
    )
    w = Window.partitionBy("l_suppkey").orderBy(F.col("q").desc(), "l_partkey")
    top = (
        vol.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= COPURCHASE_TOP_PARTS)
        .drop("rn", "q")
    )
    a, b = top.alias("a"), top.alias("b")
    return ephemeral_cache(
        a.join(
            b,
            (F.col("a.l_suppkey") == F.col("b.l_suppkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )


def label_propagation(edges: DataFrame, iters: int = LPA_ITERS) -> DataFrame:
    """Deterministic synchronous LPA. ``edges``: directed-both-ways
    (u, v). Returns (v, lab) after ``iters`` rounds; initial label of a
    node is its own id."""
    labels = edges.select(F.col("u").alias("v")).distinct().select(
        "v", F.col("v").alias("lab")
    )
    pick = Window.partitionBy("u").orderBy(F.col("c").desc(), "lab")
    for _ in range(iters):
        counted = (
            edges.join(F.broadcast(labels), "v")
            .groupBy("u", "lab")
            .agg(F.count("*").alias("c"))
        )
        labels = (
            counted.withColumn("rn", F.row_number().over(pick))
            .filter(F.col("rn") == 1)
            .select(F.col("u").alias("v"), "lab")
        )
    return labels


def _lpa_iter_sql(prev: str, out: str) -> str:
    """One unrolled synchronous LPA round (DuckDB oracle)."""
    return f"""
    {out} AS (
      SELECT u AS v, lab FROM (
        SELECT e.u, l.lab, COUNT(*) AS c,
               ROW_NUMBER() OVER (PARTITION BY e.u
                                  ORDER BY COUNT(*) DESC, l.lab) AS rn
        FROM e0 e JOIN {prev} l ON l.v = e.v
        GROUP BY e.u, l.lab
      ) WHERE rn = 1
    )"""


@register(
    "g6_label_propagation",
    oracle=f"""
    WITH vol AS (
      SELECT l_suppkey, l_partkey, SUM({_Q.format(x='l_quantity')}) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    top_parts AS (
      SELECT * FROM (
        SELECT l_suppkey, l_partkey,
               ROW_NUMBER() OVER (PARTITION BY l_suppkey
                                  ORDER BY q DESC, l_partkey) AS rn
        FROM vol
      ) WHERE rn <= {COPURCHASE_TOP_PARTS}
    ),
    e0 AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM top_parts a JOIN top_parts b
        ON a.l_suppkey = b.l_suppkey AND a.l_partkey <> b.l_partkey
    ),
    l0 AS (SELECT DISTINCT u AS v, u AS lab FROM e0),
    {_lpa_iter_sql('l0', 'l1')},
    {_lpa_iter_sql('l1', 'l2')},
    {_lpa_iter_sql('l2', 'l3')}
    SELECT lab AS community, COUNT(*) AS size,
           MIN(v) AS min_part, MAX(v) AS max_part
    FROM l3 GROUP BY 1 ORDER BY size DESC, community
    """,
    tags=("W8", "J1", "EXT", "graph"),
)
def g6_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Communities of the part co-purchase graph by deterministic
    synchronous LPA (module docstring): 3 rounds of adopt-the-modal-
    neighbor-label with smallest-label tie-break, then a community
    roll-up (size, id range). Same prune-then-pair edge construction
    as g3 — the per-supplier top-m cut bounds the pair blowup before
    it exists. The label side of each round's join is one row per
    node, explicitly broadcast; the count shuffle keys on node id."""
    edges = _copurchase_edges(spark, sf_dir)
    labels = label_propagation(edges)
    return (
        labels.groupBy(F.col("lab").alias("community"))
        .agg(
            F.count("*").alias("size"),
            F.min("v").alias("min_part"),
            F.max("v").alias("max_part"),
        )
        .orderBy(F.desc("size"), "community")
    )


BFS_HOPS = 3
BFS_SEEDS = 5


def bfs_distances(
    edges: DataFrame, seeds: DataFrame, hops: int = BFS_HOPS
) -> DataFrame:
    """Multi-source BFS: minimum hop count from any seed, bounded at
    ``hops``. ``edges``: directed-both-ways (u, v); ``seeds``: column
    ``v``. Returns (v, d) for reached nodes only.

    Each round relaxes the whole reached set through one edge join and
    re-minimizes — Bellman-Ford-style, so the result is the true min
    distance regardless of join order. Fixed round count keeps the
    lineage bounded (the unbounded variant would localCheckpoint per
    round, the graph.py posture)."""
    dist = seeds.select("v", F.lit(0).alias("d"))
    for _ in range(hops):
        ext = (
            edges.join(F.broadcast(dist), edges.u == dist.v)
            .select(edges.v.alias("v"), (F.col("d") + 1).alias("d"))
        )
        dist = (
            dist.unionByName(ext).groupBy("v").agg(F.min("d").alias("d"))
        )
    return dist


def _bfs_iter_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS (
      SELECT v, MIN(d) AS d FROM (
        SELECT v, d FROM {prev}
        UNION ALL
        SELECT e.v, p.d + 1 FROM e0 e JOIN {prev} p ON p.v = e.u
      ) GROUP BY v
    )"""


@register(
    "g7_bfs_hops",
    oracle=f"""
    WITH vol AS (
      SELECT l_suppkey, l_partkey, SUM({_Q.format(x='l_quantity')}) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    top_parts AS (
      SELECT * FROM (
        SELECT l_suppkey, l_partkey,
               ROW_NUMBER() OVER (PARTITION BY l_suppkey
                                  ORDER BY q DESC, l_partkey) AS rn
        FROM vol
      ) WHERE rn <= {COPURCHASE_TOP_PARTS}
    ),
    e0 AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM top_parts a JOIN top_parts b
        ON a.l_suppkey = b.l_suppkey AND a.l_partkey <> b.l_partkey
    ),
    seeds AS (
      SELECT v, 0 AS d FROM (SELECT DISTINCT u AS v FROM e0)
      ORDER BY v LIMIT {BFS_SEEDS}
    ),
    {_bfs_iter_sql('seeds', 'd1')},
    {_bfs_iter_sql('d1', 'd2')},
    {_bfs_iter_sql('d2', 'd3')}
    SELECT d AS dist, COUNT(*) AS n_parts,
           MIN(v) AS min_part, MAX(v) AS max_part
    FROM d3 GROUP BY d ORDER BY d
    """,
    tags=("J1", "A2", "EXT", "graph"),
)
def g7_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop multi-source BFS over the co-purchase graph — the
    'blast radius' primitive (which parts are within k supply hops of
    a watchlist). Seeds are the 5 smallest part keys in the
    edge set; 3 relaxation rounds of edge-join + re-min give the exact
    hop distance per reached node (Bellman-Ford semantics, so the
    unrolled SQL and the loop agree independent of evaluation order),
    then a per-distance ring rollup. The reached-set side of each join
    broadcasts; the edge list is the only shuffled relation."""
    edges = _copurchase_edges(spark, sf_dir)
    seeds = (
        edges.select(F.col("u").alias("v"))
        .distinct()
        .orderBy("v")
        .limit(BFS_SEEDS)
    )
    dist = bfs_distances(edges, seeds, BFS_HOPS)
    return (
        dist.groupBy(F.col("d").alias("dist"))
        .agg(
            F.count("*").alias("n_parts"),
            F.min("v").alias("min_part"),
            F.max("v").alias("max_part"),
        )
        .orderBy("dist")
    )


LINKPRED_TOP = 20


@register(
    "g8_link_prediction",
    oracle=f"""
    WITH vol AS (
      SELECT l_suppkey, l_partkey, SUM({_Q.format(x='l_quantity')}) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    top_parts AS (
      SELECT * FROM (
        SELECT l_suppkey, l_partkey,
               ROW_NUMBER() OVER (PARTITION BY l_suppkey
                                  ORDER BY q DESC, l_partkey) AS rn
        FROM vol
      ) WHERE rn <= {COPURCHASE_TOP_PARTS}
    ),
    e0 AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM top_parts a JOIN top_parts b
        ON a.l_suppkey = b.l_suppkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT u, COUNT(*) AS d FROM e0 GROUP BY u),
    wedge AS (
      SELECT a.u AS pa, b.v AS pb, COUNT(*) AS cn
      FROM e0 a JOIN e0 b ON a.v = b.u AND a.u < b.v
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT w.pa, w.pb, w.cn FROM wedge w
      LEFT JOIN e0 e ON e.u = w.pa AND e.v = w.pb
      WHERE e.u IS NULL
    )
    SELECT pa AS part_a, pb AS part_b, cn AS common_neighbors,
           cn * 1000000 // (da.d + db.d - cn) AS jaccard_ppm
    FROM cand
    JOIN deg da ON da.u = pa
    JOIN deg db ON db.u = pb
    ORDER BY common_neighbors DESC, jaccard_ppm DESC, part_a, part_b
    LIMIT {LINKPRED_TOP}
    """,
    tags=("J1", "J6", "W8", "EXT", "graph"),
)
def g8_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by common-neighbor / Jaccard scoring — 'which
    parts SHOULD share a supplier but don't yet' (the recommendation
    primitive behind you-may-also-know / assortment-gap analysis).
    Candidates come from the WEDGE join (e0 ⋈ e0 on the middle node —
    only 2-hop-connected pairs ever materialize, never the node-pair
    square), existing edges drop via a left-anti join, and the Jaccard
    denominator |Γa ∪ Γb| = deg(a)+deg(b)−cn stays in exact integer
    ppm. Total order on (cn, score, pair) + LIMIT = deterministic
    TakeOrderedAndProject. Same scale posture as g3: the top-m cut
    bounds per-node degree before any pairing."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = edges.groupBy("u").agg(F.count("*").alias("d"))
    a, b = edges.alias("a"), edges.alias("b")
    wedge = (
        a.join(
            b,
            (F.col("a.v") == F.col("b.u"))
            & (F.col("a.u") < F.col("b.v")),
        )
        .groupBy(F.col("a.u").alias("pa"), F.col("b.v").alias("pb"))
        .agg(F.count("*").alias("cn"))
    )
    cand = wedge.join(
        edges,
        (wedge.pa == edges.u) & (wedge.pb == edges.v),
        "left_anti",
    )
    da = deg.select(F.col("u").alias("pa"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("pb"), F.col("d").alias("db"))
    return (
        cand.join(F.broadcast(da), "pa")
        .join(F.broadcast(db), "pb")
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("cn").alias("common_neighbors"),
            F.expr("cn * 1000000 DIV (da + db - cn)").alias("jaccard_ppm"),
        )
        .orderBy(
            F.desc("common_neighbors"),
            F.desc("jaccard_ppm"),
            "part_a",
            "part_b",
        )
        .limit(LINKPRED_TOP)
    )


@register(
    "g9_modularity",
    oracle=f"""
    WITH vol AS (
      SELECT l_suppkey, l_partkey, SUM({_Q.format(x='l_quantity')}) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    top_parts AS (
      SELECT * FROM (
        SELECT l_suppkey, l_partkey,
               ROW_NUMBER() OVER (PARTITION BY l_suppkey
                                  ORDER BY q DESC, l_partkey) AS rn
        FROM vol
      ) WHERE rn <= {COPURCHASE_TOP_PARTS}
    ),
    e0 AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM top_parts a JOIN top_parts b
        ON a.l_suppkey = b.l_suppkey AND a.l_partkey <> b.l_partkey
    ),
    l0 AS (SELECT DISTINCT u AS v, u AS lab FROM e0),
    {_lpa_iter_sql('l0', 'l1')},
    {_lpa_iter_sql('l1', 'l2')},
    {_lpa_iter_sql('l2', 'l3')},
    twom AS (SELECT COUNT(*) AS m2 FROM e0),
    deg AS (SELECT u AS v, COUNT(*) AS d FROM e0 GROUP BY u),
    cdeg AS (
      SELECT l.lab AS community, COUNT(*) AS size,
             CAST(SUM(deg.d) AS BIGINT) AS degree_sum
      FROM l3 l JOIN deg USING (v) GROUP BY l.lab
    ),
    cint AS (
      SELECT lu.lab AS community, COUNT(*) AS internal_edges
      FROM e0 e
      JOIN l3 lu ON lu.v = e.u
      JOIN l3 lv ON lv.v = e.v
      WHERE lu.lab = lv.lab
      GROUP BY lu.lab
    )
    SELECT cdeg.community, cdeg.size,
           COALESCE(cint.internal_edges, 0) AS internal_edges,
           cdeg.degree_sum,
           CAST(CAST(COALESCE(cint.internal_edges, 0) * twom.m2
                     - cdeg.degree_sum * cdeg.degree_sum AS BIGINT)
                AS DOUBLE)
             / CAST(twom.m2 * twom.m2 AS DOUBLE) AS q_contrib
    FROM cdeg LEFT JOIN cint USING (community) CROSS JOIN twom
    ORDER BY cdeg.size DESC, cdeg.community
    """,
    tags=("A2", "J1", "EXT", "graph"),
)
def g9_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA partition (Newman & Girvan 2004):
    Q = Σ_c [e_c/2m − (deg_c/2m)²] over the directed-both-ways edge
    list (2m = |E|).  The quality score every community-detection
    pipeline reports next to its labels — g6 finds the partition, this
    grades it.  Plan: the label table (one row per node) broadcasts
    into the edge relation twice (endpoint labels), then two bounded
    aggregates on community id; per-community numerators stay exact
    BIGINT (e_c·2m − deg_c², |numerator| < 2^53 through ~50 M directed
    edges — beyond that, decimal per _determinism.py) and the single
    final division is one IEEE op in both engines."""
    edges = _copurchase_edges(spark, sf_dir)
    labels = label_propagation(edges)
    m2 = edges.agg(F.count("*").alias("m2"))
    deg = edges.groupBy("u").agg(F.count("*").alias("d")).withColumnRenamed(
        "u", "v"
    )
    cdeg = (
        labels.join(deg, "v")
        .groupBy(F.col("lab").alias("community"))
        .agg(F.count("*").alias("size"), F.sum("d").alias("degree_sum"))
    )
    lu = labels.select(F.col("v").alias("u"), F.col("lab").alias("lab_u"))
    lv = labels.select("v", F.col("lab").alias("lab_v"))
    cint = (
        edges.join(F.broadcast(lu), "u")
        .join(F.broadcast(lv), "v")
        .filter(F.col("lab_u") == F.col("lab_v"))
        .groupBy(F.col("lab_u").alias("community"))
        .agg(F.count("*").alias("internal_edges"))
    )
    return (
        cdeg.join(cint, "community", "left")
        .join(F.broadcast(m2))
        .select(
            "community",
            "size",
            F.coalesce("internal_edges", F.lit(0)).alias("internal_edges"),
            "degree_sum",
            (
                (
                    F.coalesce("internal_edges", F.lit(0)) * F.col("m2")
                    - F.col("degree_sum") * F.col("degree_sum")
                ).cast("double")
                / (F.col("m2") * F.col("m2")).cast("double")
            ).alias("q_contrib"),
        )
        .orderBy(F.desc("size"), "community")
    )


PAGERANK_ITERS = 3
PR_SCALE = 1_000_000_000  # parts-per-billion fixed point
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # d = 0.85


def _pr_iter_sql(prev: str, out: str) -> str:
    """One unrolled PageRank round (DuckDB oracle) — integer fixed
    point end to end: contrib = pr // outdeg, new pr = base +
    85*Σcontrib // 100.  Integer ops are bit-identical across engines
    (all values positive, so DuckDB's floor-div == Spark's DIV)."""
    return f"""
    {out} AS (
      SELECT n.v,
             b.base + {PR_DAMP_NUM} * COALESCE(s.s, 0) // {PR_DAMP_DEN}
               AS pr
      FROM nodes n CROSS JOIN basis b
      LEFT JOIN (
        SELECT e.v, SUM(p.pr // deg.d) AS s
        FROM e0 e
        JOIN {prev} p ON p.v = e.u
        JOIN deg ON deg.v = e.u
        GROUP BY e.v
      ) s ON s.v = n.v
    )"""


@register(
    "g10_pagerank",
    oracle=f"""
    WITH vol AS (
      SELECT l_suppkey, l_partkey, SUM({_Q.format(x='l_quantity')}) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    top_parts AS (
      SELECT * FROM (
        SELECT l_suppkey, l_partkey,
               ROW_NUMBER() OVER (PARTITION BY l_suppkey
                                  ORDER BY q DESC, l_partkey) AS rn
        FROM vol
      ) WHERE rn <= {COPURCHASE_TOP_PARTS}
    ),
    e0 AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM top_parts a JOIN top_parts b
        ON a.l_suppkey = b.l_suppkey AND a.l_partkey <> b.l_partkey
    ),
    nodes AS (SELECT DISTINCT u AS v FROM e0),
    deg AS (SELECT u AS v, COUNT(*) AS d FROM e0 GROUP BY u),
    basis AS (
      SELECT COUNT(*) AS n,
             (CAST({PR_SCALE} AS BIGINT) * ({PR_DAMP_DEN} - {PR_DAMP_NUM})
              // {PR_DAMP_DEN}) // COUNT(*) AS base,
             CAST({PR_SCALE} AS BIGINT) // COUNT(*) AS pr0
      FROM nodes
    ),
    p0 AS (SELECT v, b.pr0 AS pr FROM nodes CROSS JOIN basis b),
    {_pr_iter_sql('p0', 'p1')},
    {_pr_iter_sql('p1', 'p2')},
    {_pr_iter_sql('p2', 'p3')}
    SELECT v AS part, CAST(pr AS BIGINT) AS pagerank_ppb,
           ROW_NUMBER() OVER (ORDER BY pr DESC, v) AS rank
    FROM p3
    ORDER BY pr DESC, v
    """,
    tags=("J1", "A2", "EXT", "graph"),
)
def g10_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (Brin & Page 1998) over the part
    co-purchase graph — the NODE-scale companion to g2 (which iterates
    the O(types^2) event-type transition matrix through a broadcast
    join; here the graph has thousands of nodes, so each round is a
    per-node degree division + one shuffle on the target node, the
    shape that scales to billion-edge graphs).  INTEGER fixed point
    end to end so both engines agree
    bit-for-bit: pr is parts-per-billion, contrib = pr DIV outdeg,
    pr' = (1-d)·SCALE/N + d·Σcontrib with d = 85/100 — every operation
    integer, all values positive (Spark DIV truncates, DuckDB //
    floors; equal on non-negatives).  The directed-both-ways edge set
    has no dangling nodes (in-set == out-set), so no leak term.

    Shapes per round: contribs broadcast into the edge relation (one
    row per node — always the small side), one shuffle on the target
    node, one left join back onto the node set.  Fixed round count
    keeps lineage bounded; the billion-edge posture is the graph.py
    loop (pre-partitioned edges + periodic localCheckpoint)."""
    edges = _copurchase_edges(spark, sf_dir)
    nodes = edges.select(F.col("u").alias("v")).distinct()
    deg = edges.groupBy("u").agg(F.count("*").alias("d"))
    basis = nodes.agg(
        F.count("*").alias("n"),
        F.expr(
            f"(CAST({PR_SCALE} AS BIGINT) * ({PR_DAMP_DEN} - {PR_DAMP_NUM})"
            f" DIV {PR_DAMP_DEN}) DIV COUNT(*)"
        ).alias("base"),
        F.expr(f"CAST({PR_SCALE} AS BIGINT) DIV COUNT(*)").alias("pr0"),
    )
    pr = nodes.join(F.broadcast(basis)).select(
        "v", F.col("pr0").alias("pr")
    )
    for _ in range(PAGERANK_ITERS):
        contrib = pr.join(
            deg, pr.v == deg.u
        ).select(
            F.col("v").alias("cu"), F.expr("pr DIV d").alias("c")
        )
        inc = (
            edges.join(F.broadcast(contrib), edges.u == F.col("cu"))
            .groupBy("v")
            .agg(F.sum("c").alias("s"))
        )
        pr = (
            nodes.join(inc, "v", "left")
            .join(F.broadcast(basis))
            .select(
                "v",
                F.expr(
                    f"base + {PR_DAMP_NUM} * coalesce(s, 0)"
                    f" DIV {PR_DAMP_DEN}"
                ).alias("pr"),
            )
        )
    w = Window.orderBy(F.col("pr").desc(), "v")
    return pr.select(
        F.col("v").alias("part"),
        F.col("pr").alias("pagerank_ppb"),
        F.row_number().over(w).alias("rank"),
    ).orderBy(F.col("pagerank_ppb").desc(), "part")


WALK_LEN = 4


def _walk_hash_spark(step: int) -> str:
    """Engine-portable pseudo-random neighbor choice: md5 of
    'walk:step:cur' → 60-bit int (the l58 portable-hash idiom), mod
    outdeg.  Deterministic, identical in Spark and DuckDB."""
    return (
        f"CAST(conv(substring(md5(concat_ws(':', walk, {step}, cur)),"
        f" 1, 15), 16, 10) AS BIGINT)"
    )


def _walk_iter_sql(prev: str, out: str, step: int) -> str:
    return f"""
    {out} AS (
      SELECT w.walk, {step} AS step, a.v AS cur
      FROM {prev} w
      JOIN adj a
        ON a.u = w.cur
       AND a.rn = ('0x' || substr(md5(w.walk || ':' || {step} || ':'
                                      || w.cur), 1, 15))::BIGINT
                  % a.d + 1
    )"""


@register(
    "g11_random_walks",
    oracle=f"""
    WITH vol AS (
      SELECT l_suppkey, l_partkey, SUM({_Q.format(x='l_quantity')}) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    top_parts AS (
      SELECT * FROM (
        SELECT l_suppkey, l_partkey,
               ROW_NUMBER() OVER (PARTITION BY l_suppkey
                                  ORDER BY q DESC, l_partkey) AS rn
        FROM vol
      ) WHERE rn <= {COPURCHASE_TOP_PARTS}
    ),
    e0 AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM top_parts a JOIN top_parts b
        ON a.l_suppkey = b.l_suppkey AND a.l_partkey <> b.l_partkey
    ),
    adj AS (
      SELECT u, v,
             ROW_NUMBER() OVER (PARTITION BY u ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY u) AS d
      FROM e0
    ),
    s0 AS (SELECT DISTINCT u AS walk, 0 AS step, u AS cur FROM e0),
    {_walk_iter_sql('s0', 's1', 1)},
    {_walk_iter_sql('s1', 's2', 2)},
    {_walk_iter_sql('s2', 's3', 3)},
    {_walk_iter_sql('s3', 's4', 4)}
    SELECT walk, step, cur AS node
    FROM (SELECT * FROM s0 UNION ALL SELECT * FROM s1
          UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
          UNION ALL SELECT * FROM s4)
    ORDER BY walk, step
    """,
    tags=("J1", "W1", "EXT", "graph"),
)
def g11_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC random-walk corpus over the part co-purchase
    graph — the sampling stage of node2vec / DeepWalk (Grover &
    Leskovec 2016): one {WALK_LEN}-step walk per node, where step s
    from node c picks neighbor number md5('walk:s:c') mod outdeg(c)
    (the l58 engine-portable hash, so the walks — normally the
    untestable random part — are bit-reproducible and fully
    oracle-checked).  Output is the flat (walk, step, node) corpus a
    skip-gram trainer consumes.

    Shapes: the adjacency relation carries (neighbor rank, outdeg)
    from one window pass; each step is ONE equi-join on
    (cur, chosen_rank) — never a per-row sample() or UDF — so a
    billion-edge graph walks with the edge relation hash-partitioned
    on u and the walk frontier shuffled to it, step cost independent
    of walk count history.  Fixed length keeps lineage bounded."""
    edges = _copurchase_edges(spark, sf_dir)
    aw = Window.partitionBy("u").orderBy("v")
    adj = edges.select(
        "u",
        "v",
        F.row_number().over(aw).alias("rn"),
        F.count("*").over(Window.partitionBy("u")).alias("d"),
    )
    frontier = edges.select(F.col("u").alias("walk")).distinct().select(
        "walk", F.lit(0).alias("step"), F.col("walk").alias("cur")
    )
    out = frontier
    for s in range(1, WALK_LEN + 1):
        # fresh alias per step: the same adj relation joins repeatedly
        # against a frontier derived from itself, so unqualified refs
        # would be ambiguous from step 2 on
        a = adj.alias(f"a{s}")
        f_ = frontier.alias(f"f{s}")
        choice = F.expr(
            _walk_hash_spark(s).replace("walk", f"f{s}.walk")
            .replace("cur", f"f{s}.cur")
            + f" % a{s}.d + 1"
        )
        nxt = (
            f_.join(
                a,
                (F.col(f"f{s}.cur") == F.col(f"a{s}.u"))
                & (F.col(f"a{s}.rn") == choice),
            )
            .select(
                F.col(f"f{s}.walk").alias("walk"),
                F.lit(s).alias("step"),
                F.col(f"a{s}.v").alias("cur"),
            )
        )
        out = out.unionByName(nxt)
        frontier = nxt
    return out.select(
        "walk", "step", F.col("cur").alias("node")
    ).orderBy("walk", "step")


@register(
    "g12_khop_closeness",
    oracle=f"""
    WITH vol AS (
      SELECT l_suppkey, l_partkey, SUM({_Q.format(x='l_quantity')}) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    top_parts AS (
      SELECT * FROM (
        SELECT l_suppkey, l_partkey,
               ROW_NUMBER() OVER (PARTITION BY l_suppkey
                                  ORDER BY q DESC, l_partkey) AS rn
        FROM vol
      ) WHERE rn <= {COPURCHASE_TOP_PARTS}
    ),
    e0 AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM top_parts a JOIN top_parts b
        ON a.l_suppkey = b.l_suppkey AND a.l_partkey <> b.l_partkey
    ),
    n1 AS (SELECT u, COUNT(*) AS d1 FROM e0 GROUP BY u),
    h2 AS (
      SELECT DISTINCT a.u, b.v AS y
      FROM e0 a JOIN e0 b ON b.u = a.v
      WHERE b.v <> a.u
        AND NOT EXISTS (SELECT 1 FROM e0 x WHERE x.u = a.u AND x.v = b.v)
    ),
    n2 AS (SELECT u, COUNT(*) AS d2 FROM h2 GROUP BY u)
    SELECT n1.u AS part,
           CAST(n1.d1 AS BIGINT) AS deg1,
           CAST(COALESCE(n2.d2, 0) AS BIGINT) AS deg2,
           CAST(2 * n1.d1 + COALESCE(n2.d2, 0) AS BIGINT) AS harmonic_x2
    FROM n1 LEFT JOIN n2 ON n1.u = n2.u
    ORDER BY part
    """,
    tags=("J1", "A2", "EXT", "graph"),
)
def g12_khop_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-2 harmonic closeness over the co-purchase graph:
    Σ 1/d(u, y) truncated at two hops, scaled ×2 to stay integer
    (1-hop neighbors count 2, 2-hop count 1) — the bounded-radius
    centrality every production graph stack ships because FULL
    closeness needs all-pairs shortest paths (Boldi & Vigna's
    truncated-harmonic argument: at diameter-sized radii the tail
    contributes noise, and at 100 TB the frontier expansion past 2-3
    hops dwarfs its signal). Exact within the radius: the 2-hop set
    excludes self and 1-hop neighbors via an anti-join, never
    double-counts (DISTINCT frontier).

    Scale shape: the edge relation is _copurchase_edges' volume-pruned
    set (quadratic hazard cut BEFORE pairing); the 2-hop frontier is
    one self-join + anti-join on (u, v) keys — each hop is a bounded
    equi-join, no iterative driver loop."""
    edges = _copurchase_edges(spark, sf_dir)
    n1 = edges.groupBy("u").agg(F.count("*").alias("d1"))
    e1, e2 = edges.alias("e1"), edges.alias("e2")
    hop2 = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .filter(F.col("e2.v") != F.col("e1.u"))
        .select(F.col("e1.u").alias("u"), F.col("e2.v").alias("y"))
        .distinct()
        .join(
            edges.select("u", F.col("v").alias("y")),
            ["u", "y"],
            "left_anti",
        )
    )
    n2 = hop2.groupBy("u").agg(F.count("*").alias("d2"))
    return (
        n1.join(n2, "u", "left")
        .select(
            F.col("u").alias("part"),
            F.col("d1").cast("long").alias("deg1"),
            F.coalesce("d2", F.lit(0)).cast("long").alias("deg2"),
            (2 * F.col("d1") + F.coalesce("d2", F.lit(0)))
            .cast("long")
            .alias("harmonic_x2"),
        )
        .orderBy("part")
    )
