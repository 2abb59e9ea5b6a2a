"""Approximate (edit-distance) string join — the fuzzy-matching
operator behind entity resolution, catalog merging, and typo-tolerant
dimension joins.

The naive form is an all-pairs Levenshtein — O(n²) string comparisons,
a BroadcastNestedLoopJoin that no cluster survives at catalog scale.
The scale path here is the classic positional q-gram blocking of
Gravano et al., "Approximate String Joins in a Database (Almost) for
Free" (VLDB 2001), expressed as plain DataFrame ops:

  1. explode every distinct name into its positional q-grams
     (q = 2): one narrow (name, len, pos, gram) table;
  2. candidate generation is an EQUI-join on the gram text with a
     band predicate on the positions — Catalyst plans a hash join on
     ``gram``, never a cartesian product;
  3. the count filter keeps a pair only if it shares at least
     ``max(len_a, len_b) − q + 1 − q·t`` gram matches — a provable
     lower bound: one edit operation destroys at most q of the longer
     string's q-grams, and any surviving gram shifts position by at
     most t, so every true pair (edit distance ≤ t) passes;
  4. the exact ``levenshtein()`` (JVM codegen, no UDF) verifies only
     the survivors.

Because the filter is complete (never drops a true pair) the output is
bit-identical to the all-pairs oracle — the O(n²) scan exists only in
the DuckDB oracle SQL. Candidate cost is O(Σ gram-bucket²) instead of
O(n²). Two complete blocking schemes are implemented against the same
oracle: ``qgram_fuzzy_pairs`` (this count filter — joins on EVERY
gram, right for modest distinct-name domains) and
``edjoin_fuzzy_pairs`` (the Ed-Join prefix filter — caps join input
at q·t+1 rarest grams per string, the scheme the scale-up bench runs
at 10⁵-10⁶-name corpora where full-gram joins go quadratic on hot
grams; see SCALEUP.json's `fuzzy` section).

Reference anchor: the reference engine exposes joins only through its
query passthrough (reference __init__.py:26-43); fuzzy matching is a
capability-parity extension in the same family as J8/J9 (theta/range
joins in operators/joins.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register

FUZZY_Q = 2  # q-gram width
FUZZY_T = 2  # edit-distance threshold


def _deletion_neighborhood_expr(col: str, t: int) -> str:
    """SQL expr: array of every string reachable from ``col`` by
    removing up to ``t`` characters (the FastSS deletion
    neighborhood). Size is O(len^t) per string — the short-string
    branch of the gram schemes and the whole index for j19c/FastSS."""
    cur = f"array({col})"
    for _ in range(t):
        cur = (
            f"array_union({cur}, flatten(transform({cur}, s -> "
            f"transform(sequence(1, greatest(length(s), 1)), i -> "
            f"concat(substring(s, 1, i - 1), "
            f"substring(s, i + 1, length(s)))))))"
        )
    return f"array_distinct({cur})"


def _short_pairs(shorts: DataFrame, t: int) -> DataFrame:
    """Complete candidate pairs via deletion-neighborhood blocking
    (FastSS) — used as the short-string branch of the gram schemes
    (strings that may be within ``t`` edits yet share zero grams) and
    as the full index for j19c.
    Deletion-neighborhood blocking keeps this an EQUI-join: an optimal
    alignment of a true pair leaves ≤ t unmatched characters on each
    side, so the matched subsequence is in BOTH strings' ≤t-deletion
    neighborhoods — join on the variant key, never all-pairs.
    Returns distinct (name_a, name_b), unverified."""
    keys = shorts.select(
        "name",
        F.explode(F.expr(_deletion_neighborhood_expr("name", t))).alias(
            "key"
        ),
    )
    return (
        keys.alias("a")
        .join(
            keys.alias("b"),
            (F.col("a.key") == F.col("b.key"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
        )
        .distinct()
        .filter(
            F.abs(F.length("name_a") - F.length("name_b")) <= t
        )
    )


def qgram_fuzzy_pairs(
    names: DataFrame, col: str, q: int = FUZZY_Q, t: int = FUZZY_T
) -> DataFrame:
    """All unordered pairs of distinct ``col`` values within edit
    distance ``t``, via positional q-gram blocking + exact verify.

    Returns (name_a, name_b, dist) with name_a < name_b, dist ≥ 1.

    Completeness: the count lower bound ``max(len)−q+1−q·t`` is only a
    filter when it is ≥ 1, i.e. when the longer string has length
    ≥ q·(t+1). A pair of strings BOTH shorter than that can be within
    ``t`` edits while sharing ZERO q-grams (e.g. 'ab'/'cd' at q=2,
    t=2) — the gram equi-join would never generate it. Those strings
    form a tiny bounded domain (length < q·(t+1)), so they get an
    deletion-neighborhood equi-join (_short_pairs) with the same
    exact verify; the gram
    path excludes short-short pairs so the union stays duplicate-free.
    """
    min_len = q * (t + 1)  # longer side needs ≥ q·t+1 grams to lose
    distinct = names.select(F.col(col).alias("name")).distinct()
    grams = distinct.select(
        "name",
        F.length("name").alias("len"),
        F.posexplode(
            F.expr(
                f"transform(sequence(1, length(name) - {q} + 1),"
                f" i -> substring(name, i, {q}))"
            )
        ).alias("pos", "gram"),
    )
    a, b = grams.alias("a"), grams.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.abs(F.col("a.pos") - F.col("b.pos")) <= t)
            & (F.col("a.name") < F.col("b.name")),
        )
        .groupBy(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            F.col("a.len").alias("len_a"),
            F.col("b.len").alias("len_b"),
        )
        .agg(F.count("*").alias("m"))
        # count filter: lower bound on shared grams for a true pair;
        # short-short pairs (bound ≤ 0, i.e. no filtering power) are
        # excluded here and handled completely by the short branch
        .filter(
            (F.abs(F.col("len_a") - F.col("len_b")) <= t)
            & (F.greatest("len_a", "len_b") >= min_len)
            & (
                F.col("m")
                >= F.greatest("len_a", "len_b") - (q - 1) - q * t
            )
        )
        .select("name_a", "name_b")
    )
    short_pairs = _short_pairs(
        distinct.filter(F.length("name") < min_len), t
    )
    return _edjoin_verify(cand.unionAll(short_pairs), t)


@register(
    "j19_fuzzy_edit_join",
    oracle=f"""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    cnt AS (SELECT p_name, COUNT(*) AS c FROM part GROUP BY 1),
    pairs AS (
      SELECT a.p_name AS name_a, b.p_name AS name_b,
             CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
      FROM names a JOIN names b ON a.p_name < b.p_name
      WHERE abs(length(a.p_name) - length(b.p_name)) <= {FUZZY_T}
        AND levenshtein(a.p_name, b.p_name) BETWEEN 1 AND {FUZZY_T}
    )
    SELECT p.name_a, p.name_b, p.dist,
           ca.c AS cnt_a, cb.c AS cnt_b
    FROM pairs p
    JOIN cnt ca ON ca.p_name = p.name_a
    JOIN cnt cb ON cb.p_name = p.name_b
    ORDER BY name_a, name_b
    """,
    tags=("J8", "L2", "EXT", "fuzzy"),
)
def j19_fuzzy_edit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join of the part-name domain: every pair of DISTINCT
    names within Levenshtein distance 2, annotated with how many part
    rows carry each spelling — i.e. the merge plan a fuzzy dedup of the
    catalog would execute ('cold anvil' ↔ 'old anvil'). Candidates come
    from the positional q-gram equi-join (module docstring: provably
    complete, so the result is bit-identical to the all-pairs oracle);
    the exact Levenshtein runs JVM-side (codegen) on survivors only.
    The row-count joins are broadcasts of the distinct-name aggregate —
    at 100 TB the name domain is the small side by construction."""
    part = load_table(spark, sf_dir, "part")
    pairs = qgram_fuzzy_pairs(part, "p_name")
    cnt = part.groupBy(F.col("p_name").alias("name")).agg(
        F.count("*").alias("c")
    )
    return (
        pairs.join(
            F.broadcast(cnt.select(F.col("name"), F.col("c").alias("cnt_a"))),
            pairs.name_a == F.col("name"),
        )
        .drop("name")
        .join(
            F.broadcast(cnt.select(F.col("name"), F.col("c").alias("cnt_b"))),
            F.col("name_b") == F.col("name"),
        )
        .drop("name")
        .select("name_a", "name_b", "dist", "cnt_a", "cnt_b")
        .orderBy("name_a", "name_b")
    )


@register(
    "er1_fuzzy_entity_clusters",
    oracle=f"""
    WITH RECURSIVE names AS (SELECT DISTINCT p_name FROM part),
    cnt AS (SELECT p_name AS name, COUNT(*) AS c FROM part GROUP BY 1),
    e AS (
      SELECT a.p_name AS u, b.p_name AS v
      FROM names a JOIN names b ON a.p_name <> b.p_name
      WHERE abs(length(a.p_name) - length(b.p_name)) <= {FUZZY_T}
        AND levenshtein(a.p_name, b.p_name) BETWEEN 1 AND {FUZZY_T}
      UNION SELECT p_name, p_name FROM names
    ),
    reach AS (
      SELECT u AS src, v AS dst FROM e
      UNION
      SELECT r.src, e.v FROM reach r JOIN e ON e.u = r.dst
    ),
    comp AS (SELECT src AS name, MIN(dst) AS cluster_id FROM reach
             GROUP BY src),
    ranked AS (
      SELECT comp.cluster_id, comp.name, cnt.c,
             ROW_NUMBER() OVER (PARTITION BY comp.cluster_id
                                ORDER BY cnt.c DESC, comp.name) AS rn
      FROM comp JOIN cnt ON cnt.name = comp.name
    )
    SELECT cluster_id,
           MAX(CASE WHEN rn = 1 THEN name END) AS canonical,
           COUNT(*) AS n_spellings,
           SUM(c) AS n_rows
    FROM ranked GROUP BY cluster_id ORDER BY cluster_id
    """,
    tags=("L1", "L2", "EXT", "fuzzy"),
)
def er1_fuzzy_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: the j19 fuzzy pair graph collapsed
    into entities. Pipeline: q-gram-blocked edit-distance pairs →
    connected components (graph.py: per-partition union-find, then an
    exact driver finish — string node ids order by code point, which
    is Spark's UTF-8 byte order) →
    per-cluster canonical spelling = the variant carried by the most
    part rows (tie → smaller name), plus spelling and row counts. This
    is the standard catalog-merge recipe: the only O(n²) anywhere is
    the oracle's all-pairs + recursive reachability; the engine side
    is blocked candidates, a one-pass CC contraction, and broadcast count
    joins. Singleton names (no fuzzy twin) stay as their own entity —
    a merge plan must account for every input spelling."""
    from .graph import connected_components

    part = load_table(spark, sf_dir, "part")
    names = part.select(F.col("p_name").alias("id")).distinct()
    pairs = qgram_fuzzy_pairs(part, "p_name")
    edges = pairs.select(
        F.col("name_a").alias("u"), F.col("name_b").alias("v")
    )
    comp = connected_components(names, edges).select(
        F.col("doc_id").alias("name"), "cluster_id"
    )
    cnt = part.groupBy(F.col("p_name").alias("name")).agg(
        F.count("*").alias("c")
    )
    ranked = comp.join(F.broadcast(cnt), "name").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("cluster_id").orderBy(F.desc("c"), "name")
        ),
    )
    return (
        ranked.groupBy("cluster_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("name"))).alias(
                "canonical"
            ),
            F.count("*").alias("n_spellings"),
            F.sum("c").alias("n_rows"),
        )
        .orderBy("cluster_id")
    )


EDJOIN_Q = 3  # q-gram width for the prefix-filtered variant


def edjoin_fuzzy_pairs(
    names: DataFrame, col: str, q: int = EDJOIN_Q, t: int = FUZZY_T
) -> DataFrame:
    """Prefix-filtered edit-distance self-join — the Ed-Join candidate
    scheme (Xiao, Wang, Lin, "Ed-Join: an efficient algorithm for
    similarity joins with edit distance constraints", VLDB 2008),
    output-identical to ``qgram_fuzzy_pairs`` but with near-linear
    candidate generation at corpus scale.

    Why the count-filter variant stops scaling: joining on EVERY gram
    makes hot grams (common trigrams of a natural-language corpus)
    quadratic hot buckets. Ed-Join's Lemma 1: under ANY global gram
    ordering, two strings within edit distance t must share at least
    one gram among the FIRST q·t+1 grams of each (strings padded with
    q−1 sentinels, so every string has len+q−1 positional grams).
    Ordering grams rarest-first therefore (a) caps the join input at
    q·t+1 rows per string regardless of length and (b) systematically
    excludes the hot grams from prefixes — candidates are generated
    almost exclusively through rare grams with tiny buckets.

    Returns (name_a, name_b, dist), name_a < name_b, 1 ≤ dist ≤ t.

    Completeness: Lemma 1 needs the longer string to have MORE than
    q·t padded grams (len+q−1 > q·t), else t edits can destroy every
    gram and a true pair can share nothing. Pairs where both strings
    are below that bound (len ≤ q·(t−1)+1, a tiny bounded domain) get
    the deletion-neighborhood branch (_short_pairs), shared with
    qgram_fuzzy_pairs.
    """
    return _edjoin_verify(edjoin_candidates(names, col, q, t), t).distinct()


def edjoin_candidates(
    names: DataFrame, col: str, q: int = EDJOIN_Q, t: int = FUZZY_T
) -> DataFrame:
    """Ed-Join candidate generation only (no verify) — split out so
    the scale bench can attribute wall-clock between candidate
    generation and the levenshtein verify (SCALEUP.json `fuzzy`
    profiling columns).

    Returns (name_a, name_b) WITH multi-gram duplicates: a pair
    sharing k prefix grams appears k times. Deduplicating here costs
    a full shuffle of the ~100×-larger candidate set (measured 12.9 s
    vs 5.7 s end-to-end at 200 k names); the banded verify is cheaper
    per row than the dedup shuffle, so callers verify first and
    distinct() the small true-pair output instead. Length filters
    live INSIDE the join condition so non-candidates never reach the
    join output at all."""
    pad = "\x01" * (q - 1)
    prefix_len = q * t + 1
    min_len = q * (t - 1) + 2  # len+q−1 ≥ q·t+1 ⇔ lemma has force
    distinct = names.select(F.col(col).alias("name")).distinct()
    grams = (
        distinct.withColumn(
            "padded", F.concat(F.lit(pad), F.col("name"), F.lit(pad))
        )
        .select(
            "name",
            F.length("name").alias("len"),
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, length(name) + {q - 1}),"
                    f" i -> substring(padded, i, {q}))"
                )
            ).alias("pos", "gram"),
        )
    )
    freq = grams.groupBy("gram").agg(F.count("*").alias("freq"))
    pick = Window.partitionBy("name").orderBy("freq", "gram", "pos")
    prefixes = (
        # deliberately NOT broadcast(freq): the gram table feeds both
        # the frequency aggregate and the probe side, so a shuffle join
        # on gram lets Spark REUSE one exchange of the big table for
        # both (measured 2.6x faster at 50k names than forcing the
        # broadcast, which recomputes the explode and serializes the
        # collect onto the critical path)
        grams.join(freq, "gram")
        .withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") <= prefix_len)
        .select("name", "len", "gram")
    )
    a, b = prefixes.alias("a"), prefixes.alias("b")
    cand = a.join(
        b,
        (F.col("a.gram") == F.col("b.gram"))
        & (F.col("a.name") < F.col("b.name"))
        # length filters in the JOIN condition: non-candidates never
        # materialize in the join output (short-short pairs go
        # through the complete short branch below)
        & (F.abs(F.col("a.len") - F.col("b.len")) <= t)
        & (F.greatest(F.col("a.len"), F.col("b.len")) >= min_len),
    ).select(
        F.col("a.name").alias("name_a"),
        F.col("b.name").alias("name_b"),
    )
    short_pairs = _short_pairs(
        distinct.filter(F.length("name") < min_len), t
    )
    return cand.unionAll(short_pairs)


def _edjoin_verify(cand: DataFrame, t: int) -> DataFrame:
    """Exact verify of candidate pairs: JVM-codegen levenshtein (no
    UDF), keeping only true pairs 1 ≤ dist ≤ t.

    THRESHOLDED: ``levenshtein(a, b, t)`` runs the banded O(len·t) DP
    and returns -1 past the threshold, instead of the full O(len²)
    matrix — r6 profiling at 200 k names showed the unbounded verify
    was 84% of j19b's wall (44 s over 18.9 M candidates; the banded
    form cut the verify ~10×). Values within the threshold are the
    true distances, so the output is unchanged (-1 fails the
    between(1, t) filter like any out-of-band pair)."""
    return cand.select(
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b", t).cast("long").alias("dist"),
    ).filter(F.col("dist").between(1, t))


@register(
    "j19c_fastss_pairs",
    oracle=f"""
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM names a JOIN names b ON a.p_name < b.p_name
    WHERE abs(length(a.p_name) - length(b.p_name)) <= {FUZZY_T}
      AND levenshtein(a.p_name, b.p_name) BETWEEN 1 AND {FUZZY_T}
    ORDER BY name_a, name_b
    """,
    tags=("J8", "L2", "EXT", "fuzzy"),
)
def j19c_fastss_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same fuzzy pair set as j19/j19b via FULL deletion-
    neighborhood blocking (FastSS, Bocek et al. 2007) — the third
    complete scheme against the same all-pairs oracle, and the one
    with NO minimum-length precondition: every string joins on its
    ≤t-deletion variants (an optimal alignment leaves ≤t unmatched
    characters per side, so a true pair always shares the matched
    subsequence as a variant key — an EQUI-join, no all-pairs
    anywhere). Index size is O(n·len^t) keys, so this wins for SHORT
    string domains (codes, tokens, names) where gram filters have no
    force, and loses to Ed-Join on long strings where len² keys
    outgrow the q·t+1 gram prefix. Exact levenshtein verifies the
    survivors, same as the siblings."""
    part = load_table(spark, sf_dir, "part")
    names = part.select(F.col("p_name").alias("name")).distinct()
    return _edjoin_verify(_short_pairs(names, FUZZY_T), FUZZY_T).orderBy(
        "name_a", "name_b"
    )


@register(
    "l96_vocab_spellmap",
    oracle="""
    WITH words AS (
      SELECT word, COUNT(*) AS cnt FROM (
        SELECT UNNEST(STRING_SPLIT(p_name, ' ')) AS word FROM part
      ) GROUP BY word
    ),
    nbr AS (
      SELECT a.word AS w2, a.cnt, b.word AS cand, b.cnt AS cand_cnt,
             ROW_NUMBER() OVER (
               PARTITION BY a.word
               ORDER BY b.cnt DESC, b.word
             ) AS rn
      FROM words a JOIN words b
        ON a.word <> b.word
       AND abs(length(a.word) - length(b.word)) <= 1
       AND levenshtein(a.word, b.word) <= 1
      WHERE b.cnt > a.cnt OR (b.cnt = a.cnt AND b.word < a.word)
    )
    SELECT w.word, w.cnt,
           COALESCE(n.cand, w.word) AS corrected,
           COALESCE(n.cand_cnt, w.cnt) AS corrected_cnt
    FROM words w LEFT JOIN nbr n ON n.w2 = w.word AND n.rn = 1
    ORDER BY word
    """,
    tags=("L2", "L5", "EXT", "fuzzy"),
)
def l96_vocab_spellmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary spell-normalization — the token-cleanup pass a
    training-data pipeline runs before counting/dedup: every word maps
    to its most frequent neighbor within ONE edit (ties break
    lexicographically; words with no better neighbor map to
    themselves). Candidate neighbors come from the FastSS
    deletion-neighborhood equi-join (_short_pairs, t=1) — the scheme
    built for short-string domains like word vocabularies, where gram
    bounds have no force — so the plan is explode → count → variant-
    key join → window, no all-pairs anywhere; the O(|V|²) join exists
    only in the DuckDB oracle. Exact verify via the banded
    levenshtein(w, c, 1)."""
    part = load_table(spark, sf_dir, "part")
    words = (
        part.select(
            F.explode(F.split("p_name", " ")).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    pairs = _short_pairs(words.select(F.col("word").alias("name")), 1)
    directed = (
        pairs.select(
            F.col("name_a").alias("word"), F.col("name_b").alias("cand")
        )
        .unionAll(
            pairs.select(
                F.col("name_b").alias("word"),
                F.col("name_a").alias("cand"),
            )
        )
        .filter(F.levenshtein("word", "cand", 1) == 1)
    )
    w_cnt = words.select("word", "cnt")
    c_cnt = words.select(
        F.col("word").alias("cand"), F.col("cnt").alias("cand_cnt")
    )
    best = (
        directed.join(w_cnt, "word")
        .join(c_cnt, "cand")
        .filter(
            (F.col("cand_cnt") > F.col("cnt"))
            | (
                (F.col("cand_cnt") == F.col("cnt"))
                & (F.col("cand") < F.col("word"))
            )
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("word").orderBy(
                    F.col("cand_cnt").desc(), "cand"
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("word", "cand", "cand_cnt")
    )
    return (
        words.join(best, "word", "left")
        .select(
            "word",
            "cnt",
            F.coalesce("cand", "word").alias("corrected"),
            F.coalesce("cand_cnt", "cnt").alias("corrected_cnt"),
        )
        .orderBy("word")
    )


@register(
    "j19b_edjoin_pairs",
    oracle=f"""
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM names a JOIN names b ON a.p_name < b.p_name
    WHERE abs(length(a.p_name) - length(b.p_name)) <= {FUZZY_T}
      AND levenshtein(a.p_name, b.p_name) BETWEEN 1 AND {FUZZY_T}
    ORDER BY name_a, name_b
    """,
    tags=("J8", "L2", "EXT", "fuzzy"),
)
def j19b_edjoin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same fuzzy pair set as j19, produced by the Ed-Join prefix
    filter instead of the full-gram count filter (module functions for
    the trade-off) — two independent complete blocking schemes against
    one all-pairs oracle. This is the variant the scale-up bench runs
    at 10⁵-name corpora, where full-gram joins go quadratic on hot
    grams."""
    part = load_table(spark, sf_dir, "part")
    return edjoin_fuzzy_pairs(part, "p_name").orderBy("name_a", "name_b")


# ---- er2: blocking-scheme quality audit -------------------------------


@register(
    "er2_blocking_quality",
    oracle=f"""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    truth AS (
      SELECT a.p_name AS u, b.p_name AS v
      FROM names a JOIN names b ON a.p_name < b.p_name
      WHERE abs(length(a.p_name) - length(b.p_name)) <= {FUZZY_T}
        AND levenshtein(a.p_name, b.p_name) BETWEEN 1 AND {FUZZY_T}
    ),
    blk AS (
      SELECT p_name, string_split(p_name, ' ')[1] AS b FROM names
    ),
    cand AS (
      SELECT x.p_name AS u, y.p_name AS v
      FROM blk x JOIN blk y ON x.b = y.b AND x.p_name < y.p_name
    ),
    hit AS (
      SELECT COUNT(*) AS h
      FROM truth t JOIN cand c ON t.u = c.u AND t.v = c.v
    ),
    n AS (SELECT COUNT(*) AS n FROM names),
    tc AS (SELECT COUNT(*) AS t FROM truth),
    cc AS (SELECT COUNT(*) AS c FROM cand)
    SELECT n.n AS n_names,
           CAST(tc.t AS BIGINT) AS n_true_pairs,
           CAST(cc.c AS BIGINT) AS n_candidates,
           CAST(hit.h * 1000000 // GREATEST(tc.t, 1) AS BIGINT)
             AS pairs_completeness_ppm,
           CAST(1000000 - cc.c * 1000000 // (n.n * (n.n - 1) // 2)
                AS BIGINT) AS reduction_ratio_ppm
    FROM n, tc, cc, hit
    """,
    tags=("L2", "EXT", "fuzzy"),
)
def er2_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme AUDIT (Christen's pairs-completeness /
    reduction-ratio, the two numbers every entity-resolution blocking
    choice is judged by): score the naive first-token blocking — the
    lazy default every quick ER script starts with — against exact
    ground truth.  Ground truth is the full edit-distance-≤{FUZZY_T}
    pair set, which the engine computes WITHOUT an all-pairs scan via
    the provably-complete q-gram blocking (qgram_fuzzy_pairs: the
    count lower bound + bounded-domain short-string branch make the
    candidate set a superset of truth, and the verify is exact) — the
    oracle recomputes truth by brute force, so completeness of the
    engine's own blocking is re-proven here too.

    Reading: completeness < 1e6 means first-token blocking MISSES true
    matches (typos in the first word move a record to another block —
    the classic failure); the reduction ratio is what it buys.  At
    100 TB both metrics come from block-local joins and three 1-row
    aggregates — the audit costs one ER candidate pass, not n²."""
    part = load_table(spark, sf_dir, "part")
    names = part.select("p_name").distinct()
    truth = qgram_fuzzy_pairs(part, "p_name").select(
        F.col("name_a").alias("u"), F.col("name_b").alias("v")
    )
    blk = names.select(
        "p_name", F.element_at(F.split("p_name", " "), 1).alias("b")
    )
    x, y = blk.alias("x"), blk.alias("y")
    cand = x.join(
        y,
        (F.col("x.b") == F.col("y.b"))
        & (F.col("x.p_name") < F.col("y.p_name")),
    ).select(F.col("x.p_name").alias("u"), F.col("y.p_name").alias("v"))
    hit = truth.join(cand, ["u", "v"]).agg(F.count("*").alias("h"))
    n = names.agg(F.count("*").alias("n"))
    tc = truth.agg(F.count("*").alias("t"))
    cc = cand.agg(F.count("*").alias("c"))
    return (
        n.join(F.broadcast(tc))
        .join(F.broadcast(cc))
        .join(F.broadcast(hit))
        .select(
            "n",
            F.col("t").cast("long").alias("n_true_pairs"),
            F.col("c").cast("long").alias("n_candidates"),
            F.expr("h * 1000000 div greatest(t, 1)").alias(
                "pairs_completeness_ppm"
            ),
            F.expr(
                "1000000 - c * 1000000 div (n * (n - 1) div 2)"
            ).alias("reduction_ratio_ppm"),
        )
        .withColumnRenamed("n", "n_names")
    )
