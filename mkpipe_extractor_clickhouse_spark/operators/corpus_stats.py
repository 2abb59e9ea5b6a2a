"""Corpus-level statistics for pretraining-data analysis: collocation
mining (PMI) and rank-frequency (Zipf) profiling over the ``documents``
table — the vocabulary-design / tokenizer-diagnostics companions to
l5-l8's per-document text metrics.

Both are explode→aggregate pipelines: the corpus-wide counts collapse
map-side before any shuffle, the dictionaries that meet afterwards are
vocabulary-sized (AQE broadcasts them), and every logarithm follows the
repo's mirrored-LN + quantized-addend determinism discipline
(operators/_determinism.py, proven by ch_entropy/l35), so both queries
hash-match a DuckDB oracle despite being log-scale statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ._cache import ephemeral_cache
from ._determinism import _quantize
from ._ngrams import word_ngrams

PMI_MIN_COUNT = 20
PMI_TOP = 20


@register(
    "l44_bigram_pmi",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    bi AS (
      SELECT a.w AS w1, b.w AS w2
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    cxy AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bi GROUP BY w1, w2),
    cx AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
    tot AS (
      SELECT (SELECT COUNT(*) FROM toks) AS n_uni,
             (SELECT COUNT(*) FROM bi) AS n_bi
    ),
    scored AS (
      SELECT w1, w2, c_xy,
             ROUND(LN((CAST(c_xy AS DOUBLE) * CAST(n_uni AS DOUBLE)
                       * CAST(n_uni AS DOUBLE))
                      / (CAST(n_bi AS DOUBLE) * CAST(x.c AS DOUBLE)
                         * CAST(y.c AS DOUBLE))), 6) AS pmi
      FROM cxy
      JOIN cx x ON cxy.w1 = x.w
      JOIN cx y ON cxy.w2 = y.w
      CROSS JOIN tot
      WHERE c_xy >= {PMI_MIN_COUNT}
    )
    SELECT w1, w2, c_xy, pmi FROM scored
    ORDER BY pmi DESC, w1, w2 LIMIT {PMI_TOP}
    """,
    tags=("L5", "L6", "EXT", "collocation"),
)
def l44_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining — pointwise mutual information of adjacent
    word pairs, PMI = ln(p(x,y)/(p(x)p(y))), the classic statistic for
    discovering multi-word units before tokenizer training. Bigrams
    come from zipping each token array with its tail (no self-join —
    the SQL oracle's positional join is restated as an array zip);
    bigram and unigram counts collapse in partial aggregates; the two
    dictionary joins are vocabulary-sized (AQE broadcasts them at any
    corpus scale). The PMI log runs over exact integer counts with an
    identical parse tree in both engines, and the top-20 is totally
    ordered (pmi, w1, w2) — deterministic."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    # adjacent pairs: zip tokens with their own tail
    pairs = F.arrays_zip(
        F.slice(toks, 1, F.size(toks) - 1).alias("w1"),
        F.slice(toks, 2, F.size(toks) - 1).alias("w2"),
    )
    bi = d.select(F.explode(pairs).alias("p")).select(
        F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    uni = d.select(F.explode(toks).alias("w"))
    cxy = bi.groupBy("w1", "w2").agg(F.count("*").alias("c_xy"))
    cx = uni.groupBy("w").agg(F.count("*").alias("c"))
    tot = uni.agg(F.count("*").alias("n_uni")).join(
        bi.agg(F.count("*").alias("n_bi"))
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    scored = (
        cxy.filter(F.col("c_xy") >= PMI_MIN_COUNT)
        .join(cx.withColumnRenamed("w", "w1").withColumnRenamed("c", "c_x"), "w1")
        .join(cx.withColumnRenamed("w", "w2").withColumnRenamed("c", "c_y"), "w2")
        .join(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c_xy",
            F.round(
                F.log(
                    (dd("c_xy") * dd("n_uni") * dd("n_uni"))
                    / (dd("n_bi") * dd("c_x") * dd("c_y"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), "w1", "w2").limit(PMI_TOP)


ZIPF_TOP = 100


@register(
    "l47_zipf_fit",
    oracle=f"""
    WITH cx AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    freq AS (SELECT w, COUNT(*) AS c FROM cx GROUP BY w),
    ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS r
      FROM freq
      QUALIFY r <= {ZIPF_TOP}
    ),
    terms AS (
      SELECT
        CAST(TRUNC(LN(CAST(r AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS qx,
        CAST(TRUNC(LN(CAST(c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS qy,
        CAST(TRUNC(LN(CAST(r AS DOUBLE)) * LN(CAST(c AS DOUBLE)) * 1000000
                   + 0.5) AS BIGINT) AS qxy,
        CAST(TRUNC(LN(CAST(r AS DOUBLE)) * LN(CAST(r AS DOUBLE)) * 1000000
                   + 0.5) AS BIGINT) AS qxx
      FROM ranked
    )
    SELECT ROUND((COUNT(*) * CAST(SUM(qxy) AS DOUBLE) / 1000000.0
                  - (CAST(SUM(qx) AS DOUBLE) / 1000000.0)
                    * (CAST(SUM(qy) AS DOUBLE) / 1000000.0))
                 / (COUNT(*) * CAST(SUM(qxx) AS DOUBLE) / 1000000.0
                    - (CAST(SUM(qx) AS DOUBLE) / 1000000.0)
                      * (CAST(SUM(qx) AS DOUBLE) / 1000000.0)), 6) AS zipf_slope,
           COUNT(*) AS n_words
    FROM terms
    """,
    tags=("L5", "L7", "EXT"),
)
def l47_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus vocabulary: least-squares slope of
    ln(frequency) against ln(rank) over the top-100 words (a healthy
    natural-language corpus slopes ≈ −1; collapsed or templated text
    drifts far off — a cheap corpus-health gate). Ranks are total-order
    deterministic (count desc, word); the regression's Σx/Σy/Σxy/Σx²
    addends are mirrored LN chains over exact integers, quantized
    before summation (ch_entropy discipline), and the closed-form slope
    is evaluated once over the exact totals. One explode→count
    aggregation at corpus scale; everything after is 100 rows."""
    d = load_table(spark, sf_dir, "documents")
    uni = d.select(F.explode(F.split("text", " ")).alias("w"))
    freq = uni.groupBy("w").agg(F.count("*").alias("c"))
    ranked = (
        freq.withColumn(
            "r", F.row_number().over(Window.orderBy(F.col("c").desc(), "w"))
        )
        .filter(F.col("r") <= ZIPF_TOP)
        .select("r", "c")
    )
    lx = F.log(F.col("r").cast("double"))
    ly = F.log(F.col("c").cast("double"))
    terms = ranked.select(
        _quantize(lx).alias("qx"),
        _quantize(ly).alias("qy"),
        _quantize(lx * ly).alias("qxy"),
        _quantize(lx * lx).alias("qxx"),
    )
    n = F.count("*")
    sx = F.sum("qx").cast("double") / 1_000_000.0
    sy = F.sum("qy").cast("double") / 1_000_000.0
    sxy = F.sum("qxy").cast("double") / 1_000_000.0
    sxx = F.sum("qxx").cast("double") / 1_000_000.0
    return terms.agg(
        F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6).alias("zipf_slope"),
        n.alias("n_words"),
    )


PPB = 1_000_000_000


@register(
    "l52_bigram_lm_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    bi AS (
      SELECT a.doc_id, a.w AS w1, b.w AS w2
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    cxy AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2),
    cx AS (SELECT w, COUNT(*) AS c1 FROM toks GROUP BY w),
    vocab AS (SELECT COUNT(*) AS v FROM cx)
    SELECT bi.doc_id,
           COUNT(*) AS n_bigrams,
           (SUM(((c12 + 1) * {PPB}) // (c1 + v)) // COUNT(*))
             AS mean_cond_prob_ppb
    FROM bi
    JOIN cxy ON bi.w1 = cxy.w1 AND bi.w2 = cxy.w2
    JOIN cx ON bi.w1 = cx.w
    CROSS JOIN vocab
    GROUP BY bi.doc_id
    """,
    tags=("L8", "EXT", "quality"),
)
def l52_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring — each document's mean smoothed
    conditional probability P(w₂|w₁) = (c(w₁,w₂)+1)/(c(w₁)+V) under
    the corpus's own bigram model (add-one smoothing). The
    second-order upgrade of l35's unigram signal: repetitive or
    scrambled documents score high/low where a unigram model cannot
    tell them apart. All arithmetic is exact integer parts-per-billion
    with floor division mirrored on both engines — no logs, no floats,
    no quantization slack. Shapes: one explode→count per model table,
    then bigram-level dictionary joins (vocabulary-sized, AQE
    broadcasts) and a per-doc aggregation — the l6/l19 economics."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    pairs = F.arrays_zip(
        F.slice(toks, 1, F.size(toks) - 1).alias("w1"),
        F.slice(toks, 2, F.size(toks) - 1).alias("w2"),
    )
    bi = d.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    uni = d.select(F.explode(toks).alias("w"))
    cxy = bi.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    cx = uni.groupBy("w").agg(F.count("*").alias("c1"))
    vocab = cx.agg(F.count("*").alias("v"))
    j = (
        bi.join(cxy, ["w1", "w2"])
        .join(cx.withColumnRenamed("w", "w1"), "w1")
        .join(F.broadcast(vocab))
    )
    return j.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.expr(f"sum(((c12 + 1) * {PPB}) DIV (c1 + v)) DIV count(*)").alias(
            "mean_cond_prob_ppb"
        ),
    )


@register(
    "l70_shingle_novelty",
    oracle="""
    WITH parts AS (
      SELECT doc_id, string_split(text, ' ') AS p FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(p) - 1),
                    i -> p[i] || ' ' || p[i+1] || ' ' || p[i+2])) AS s
      FROM parts WHERE len(p) >= 3
    ),
    firsts AS (
      SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s
    )
    SELECT sh.doc_id,
           COUNT(*) AS n_shingles,
           SUM(CASE WHEN firsts.first_doc = sh.doc_id THEN 1 ELSE 0 END)
             AS novel_shingles,
           SUM(CASE WHEN firsts.first_doc = sh.doc_id THEN 1 ELSE 0 END)
             * 1000000 // COUNT(*) AS novelty_ppm
    FROM sh JOIN firsts ON sh.s = firsts.s
    GROUP BY sh.doc_id
    """,
    tags=("L2", "EXT", "dedup", "quality"),
)
def l70_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle novelty — for each document, the fraction of its 3-gram
    shingles appearing in NO lower-numbered document (processing-order
    novelty, the signal behind dedup-aware data ordering: train on
    high-novelty docs first, drop the near-zero tail). One global
    min-per-shingle aggregation (the first-seen dictionary), one
    dictionary join back, exact integer ppm. The shingles are the
    relation l23/l58 build (_ngrams.word_ngrams)."""
    d = load_table(spark, sf_dir, "documents")
    # pinned (r12): the first-seen dictionary AND the join back both
    # consume the shingle explode — it re-executed twice before
    sh = ephemeral_cache(word_ngrams(d, 3, "doc_id"))
    firsts = sh.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    j = sh.join(firsts, "gram")
    novel = (F.col("first_doc") == F.col("doc_id")).cast("long")
    return j.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum(novel).alias("novel_shingles"),
        F.expr(
            "sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)"
            " * 1000000 DIV count(*)"
        ).alias("novelty_ppm"),
    )


# ---- l113: novelty decay across the ingestion order ------------------

NOVELTY_DECILES = 10


@register(
    "l113_novelty_decay",
    oracle=f"""
    WITH bounds AS (
      SELECT MIN(doc_id) AS lo, MAX(doc_id) + 1 AS hi FROM documents
    ),
    parts AS (
      SELECT doc_id, string_split(text, ' ') AS p FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(p) - 1),
                    i -> p[i] || ' ' || p[i+1] || ' ' || p[i+2])) AS s
      FROM parts WHERE len(p) >= 3
    ),
    firsts AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s),
    per_doc AS (
      SELECT sh.doc_id,
             COUNT(*) AS n_sh,
             SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
               AS novel
      FROM sh JOIN firsts f ON sh.s = f.s
      GROUP BY sh.doc_id
    ),
    bucketed AS (
      SELECT LEAST((p.doc_id - b.lo) * {NOVELTY_DECILES}
                   // (b.hi - b.lo), {NOVELTY_DECILES - 1}) AS decile,
             p.n_sh, p.novel
      FROM per_doc p CROSS JOIN bounds b
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           COUNT(*) AS n_docs,
           CAST(SUM(n_sh) AS BIGINT) AS n_shingles,
           CAST(SUM(novel) AS BIGINT) AS novel_shingles,
           CAST(SUM(novel) * 1000000 // SUM(n_sh) AS BIGINT)
             AS novelty_ppm
    FROM bucketed GROUP BY decile ORDER BY decile
    """,
    tags=("L2", "EXT", "dedup", "quality"),
)
def l113_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The diminishing-returns curve of MORE DATA: bucket the corpus
    into ingestion-order deciles and measure what fraction of each
    decile's 3-gram shingles is genuinely NEW (first seen there) —
    the corpus-level decay behind data-scaling decisions ('the last
    30% of the crawl contributed 4% new content — dedup harder or
    crawl elsewhere').  l70 scores the same first-seen signal per
    document; this rolls it up into the planning curve.

    One global first-seen dictionary (min doc_id per shingle, over
    l70's shingle relation), one join back, one decile rollup; decile =
    integer position scaling, so every output is an exact integer in
    both engines."""
    d = load_table(spark, sf_dir, "documents")
    bounds = d.agg(
        F.min("doc_id").alias("lo"),
        (F.max("doc_id") + 1).alias("hi"),
    )
    # pinned (r12): same two-consumer shape as l70
    sh = ephemeral_cache(word_ngrams(d, 3, "doc_id"))
    firsts = sh.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(firsts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sh"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("novel"),
        )
    )
    bucketed = per_doc.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.expr(
                f"(doc_id - lo) * {NOVELTY_DECILES} div (hi - lo)"
            ),
            F.lit(NOVELTY_DECILES - 1),
        ).alias("decile"),
        "n_sh",
        "novel",
    )
    return (
        bucketed.groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_sh").alias("n_shingles"),
            F.sum("novel").alias("novel_shingles"),
            F.expr(
                "sum(novel) * 1000000 div sum(n_sh)"
            ).alias("novelty_ppm"),
        )
        .orderBy("decile")
    )
