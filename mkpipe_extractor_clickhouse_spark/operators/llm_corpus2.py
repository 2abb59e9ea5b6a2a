"""Round-10 corpus-analytics operators: vocabulary-growth law, split
n-gram coverage, per-source distribution divergence, span-corruption
planning, quality-prune tuning, Benford data-quality audit,
matryoshka-truncation fidelity, and supervised Fellegi-Sunter weights.

Reference parity: these extend the training-data-pipeline surface the
reference's extract stage feeds (mkpipe-extractor-clickhouse exposes
the raw tables; the analyses are what its downstream consumers run).
Every query carries a full DuckDB oracle; doubles follow the
_determinism quantization discipline (mirrored LN chains, half-up
1e-6 integers) so the driver's bit-sensitive hash matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ._determinism import _quantize
from .llm_training import M32, SPLIT_HASH
from .llm_dedup import CONTAIN_T, JACCARD_T

# ---- l117: Heaps'-law vocabulary growth ------------------------------

HEAPS_STEPS = 10


@register(
    "l117_heaps_law",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY doc_id) AS r,
             LEN(STRING_SPLIT(text, ' ')) AS ntok
      FROM documents
    ),
    n AS (SELECT COUNT(*) AS nd FROM docs),
    ckpt AS (
      SELECT s AS step, CAST(CEIL(nd * s / {HEAPS_STEPS}.0) AS BIGINT) AS rmax
      FROM n, UNNEST(GENERATE_SERIES(1, {HEAPS_STEPS})) AS g(s)
    ),
    cumtok AS (
      SELECT r, SUM(ntok) OVER (ORDER BY r) AS cum FROM docs
    ),
    words AS (
      SELECT doc_id, unnest(STRING_SPLIT(text, ' ')) AS w FROM documents
    ),
    firsts AS (
      SELECT MIN(d.r) AS fr
      FROM words t JOIN docs d USING (doc_id)
      GROUP BY t.w
    )
    SELECT c.step,
           CAST(ct.cum AS BIGINT) AS n_tokens,
           (SELECT COUNT(*) FROM firsts WHERE fr <= c.rmax) AS n_types,
           CAST(TRUNC(LN(CAST(ct.cum AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
             AS ln_tokens_micro,
           CAST(TRUNC(LN(CAST((SELECT COUNT(*) FROM firsts
                               WHERE fr <= c.rmax) AS DOUBLE))
                      * 1000000 + 0.5) AS BIGINT) AS ln_types_micro
    FROM ckpt c JOIN cumtok ct ON ct.r = c.rmax
    ORDER BY c.step
    """,
    tags=("L5", "L7", "EXT"),
)
def l117_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law growth curve: distinct vocabulary size V(N) against
    cumulative token count N at {HEAPS_STEPS} ingestion checkpoints
    (docs ordered by doc_id — ingestion order). A natural corpus grows
    V ≈ K·N^β with β ≈ 0.4-0.6; a templated or looping corpus
    flattens early, and the curve is the planning input for vocabulary
    sizing and dedup-benefit forecasts (l110/l113's companion at the
    TYPE level). The ln columns are quantized so a Heaps exponent fit
    downstream is engine-exact.

    Scale shape: one explode → (word, first-rank) aggregation, one
    running token sum, and a {HEAPS_STEPS}-row broadcast range join —
    the type counts come from bucketing each word's FIRST occurrence,
    never from re-counting distinct per checkpoint."""
    d = load_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        F.row_number().over(Window.orderBy("doc_id")).alias("r"),
        F.size(F.split("text", " ")).cast("long").alias("ntok"),
    )
    nd = docs.agg(F.count("*").alias("nd"))
    steps = spark.range(1, HEAPS_STEPS + 1).select(
        F.col("id").cast("long").alias("step")
    )
    ckpt = (
        F.broadcast(steps)
        .crossJoin(F.broadcast(nd))
        .select(
            "step",
            F.ceil(F.col("nd") * F.col("step") / float(HEAPS_STEPS))
            .cast("long")
            .alias("rmax"),
        )
    )
    cumtok = docs.select(
        "r",
        F.sum("ntok").over(
            Window.orderBy("r").rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
    )
    firsts = (
        d.join(docs.select("doc_id", "r"), "doc_id")
        .select(F.explode(F.split("text", " ")).alias("w"), "r")
        .groupBy("w")
        .agg(F.min("r").alias("fr"))
    )
    types_per = (
        F.broadcast(ckpt)
        .join(firsts, F.col("fr") <= F.col("rmax"))
        .groupBy("step", "rmax")
        .agg(F.count("*").alias("n_types"))
    )
    return (
        types_per.join(cumtok, F.col("r") == F.col("rmax"))
        .select(
            "step",
            F.col("cum").alias("n_tokens"),
            "n_types",
            _quantize(F.log(F.col("cum").cast("double"))).alias(
                "ln_tokens_micro"
            ),
            _quantize(F.log(F.col("n_types").cast("double"))).alias(
                "ln_types_micro"
            ),
        )
        .orderBy("step")
    )


# ---- l119: split n-gram coverage --------------------------------------


@register(
    "l119_ngram_coverage",
    oracle=f"""
    WITH split AS (
      SELECT doc_id, source, text,
             CASE WHEN (doc_id * {SPLIT_HASH}) % {M32} % 1000 < 900
                  THEN 'train' ELSE 'val' END AS split
      FROM documents
    ),
    toks AS (
      SELECT doc_id, source, split,
             unnest(STRING_SPLIT(text, ' ')) AS w,
             generate_subscripts(STRING_SPLIT(text, ' '), 1) AS pos
      FROM split
    ),
    bi AS (
      SELECT a.doc_id, a.source, a.split, a.w || ' ' || b.w AS bg
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    train_bg AS (SELECT DISTINCT bg FROM bi WHERE split = 'train'),
    val_bg AS (
      SELECT DISTINCT source, bg FROM bi WHERE split = 'val'
    )
    SELECT v.source,
           COUNT(*) AS n_val_bigrams,
           COUNT(t.bg) AS covered_bigrams,
           COUNT(t.bg) * 1000000 // COUNT(*) AS coverage_ppm
    FROM val_bg v LEFT JOIN train_bg t ON v.bg = t.bg
    GROUP BY v.source ORDER BY v.source
    """,
    tags=("L5", "EXT", "split"),
)
def l119_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of the validation split's bigram inventory the train
    split already contains, per val source — the leakage-adjacent twin
    of l24/l104: HIGH coverage here is expected and healthy (val drawn
    from the same distribution), while a source whose val bigrams are
    mostly UNSEEN in train signals a mixture hole the loss will
    surface as out-of-domain perplexity. Uses l26's deterministic
    multiplicative-hash split, so membership is reproducible across
    engines and appends.

    Scale shape: bigrams distinct per split (two hash aggregations),
    one left join val→train on the bigram key; nothing quadratic."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * SPLIT_HASH) % M32 % 1000
    split = d.withColumn(
        "split", F.when(bucket < 900, "train").otherwise("val")
    # Pre-explode repartition (r12): the train-side explode+concat of
    # ~1.5 M bigrams otherwise runs entirely on the scan task (the
    # fixtures ship one row group), measured 2.57 s of the 2.29 s full
    # query; shuffling the 5 k docs once parallelizes it 32-way —
    # 2.59 → 0.83 s end-to-end, identical result (OPTIMIZATION_r12.md).
    # The r12 refutation for shingles (pre-explode repartition LOSES
    # end-to-end for the PPJoin family) does not transfer: l119's
    # explode feeds a DISTINCT — its own shuffle boundary — so no
    # downstream consumer re-runs the widened stage.
    ).repartition(spark.sparkContext.defaultParallelism)
    p = F.split("text", " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(p) - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(p, i), F.element_at(p, i + 1)
        ),
    )
    # NOT pinned (r12, considered and rejected): train_bg and val_bg
    # filter DISJOINT split halves below the explode (pushdown), so the
    # two consumers together explode each doc once — a checkpoint would
    # materialize the full bigram relation to save only a duplicate
    # 5k-row scan + split-hash projection.
    bi = (
        split.select(
            "source",
            "split",
            F.explode(
                F.when(F.size(p) >= 2, grams).otherwise(
                    F.array().cast("array<string>")
                )
            ).alias("bg"),
        )
    )
    train_bg = (
        bi.filter(F.col("split") == "train").select("bg").distinct()
        .withColumn("seen", F.lit(1))
    )
    val_bg = (
        bi.filter(F.col("split") == "val").select("source", "bg").distinct()
    )
    return (
        val_bg.join(train_bg, "bg", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_val_bigrams"),
            F.count("seen").alias("covered_bigrams"),
            F.expr("count(seen) * 1000000 div count(*)").alias(
                "coverage_ppm"
            ),
        )
        .orderBy("source")
    )


# ---- l120: per-source unigram KL divergence ---------------------------


@register(
    "l120_source_kl",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(STRING_SPLIT(text, ' ')) AS w FROM documents
    ),
    sw AS (SELECT source, w, COUNT(*) AS csw FROM toks GROUP BY source, w),
    s AS (SELECT source, SUM(csw) AS ns FROM sw GROUP BY source),
    cw AS (SELECT w, SUM(csw) AS cweff FROM sw GROUP BY w),
    tot AS (SELECT SUM(csw) AS n FROM sw),
    terms AS (
      SELECT sw.source,
             CAST(TRUNC((CAST(csw AS DOUBLE) / ns)
                        * LN((CAST(csw AS DOUBLE) * n)
                             / (CAST(ns AS DOUBLE) * cweff))
                        * 1000000
                        + CASE WHEN (CAST(csw AS DOUBLE) / ns)
                                    * LN((CAST(csw AS DOUBLE) * n)
                                         / (CAST(ns AS DOUBLE) * cweff))
                                    >= 0 THEN 0.5 ELSE -0.5 END)
                  AS BIGINT) AS q
      FROM sw JOIN s USING (source) JOIN cw USING (w) CROSS JOIN tot
    )
    SELECT source, CAST(SUM(q) AS BIGINT) AS kl_micro,
           COUNT(*) AS n_terms
    FROM terms GROUP BY source ORDER BY source
    """,
    tags=("L7", "EXT"),
)
def l120_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source ‖ corpus) over unigram distributions — the standard
    domain-shift scalar for mixture design (DoReMi/DSIR pipelines rank
    domains by exactly this): a source with near-zero KL is redundant
    with the mixture; a high-KL source carries distribution mass
    nothing else covers. Terms p·ln(p/q) are quantized half-away
    per (source, word) BEFORE summation (mirrored LN chains, the
    ch_entropy discipline) so both engines sum identical integers.
    Every source term has q > 0 by construction (the corpus contains
    the source), so no smoothing is needed.

    Scale shape: two hash aggregations over the exploded token
    relation and one join on the word key — inverted-index sized."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split("text", " ")).alias("w"))
    sw = toks.groupBy("source", "w").agg(F.count("*").alias("csw"))
    s = sw.groupBy("source").agg(F.sum("csw").alias("ns"))
    cw = sw.groupBy("w").agg(F.sum("csw").alias("cweff"))
    tot = sw.agg(F.sum("csw").alias("n"))
    term = (
        F.col("csw").cast("double") / F.col("ns")
    ) * F.log(
        (F.col("csw").cast("double") * F.col("n"))
        / (F.col("ns").cast("double") * F.col("cweff"))
    )
    return (
        sw.join(s, "source")
        .join(cw, "w")
        .crossJoin(F.broadcast(tot))
        .select("source", _quantize(term).alias("q"))
        .groupBy("source")
        .agg(
            F.sum("q").cast("long").alias("kl_micro"),
            F.count("*").alias("n_terms"),
        )
        .orderBy("source")
    )


# ---- l123: deterministic span-corruption plan -------------------------

SPAN_RATE = 150  # span-start probability, out of 1000
SPAN_LEN = 3


@register(
    "l123_span_corruption",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             generate_subscripts(STRING_SPLIT(text, ' '), 1) AS pos
      FROM documents
    ),
    marked AS (
      -- both factors reduced mod 2^31-range BEFORE the multiply so the
      -- product stays under 2^63 at any doc_id (found by running at
      -- sf0.1: the unreduced form overflows BIGINT)
      SELECT doc_id, source, pos,
             CAST((((doc_id * 1000003 + pos) % 2147483647)
                   * ({SPLIT_HASH} % 2147483647)) % {M32}
                  % 1000 < {SPAN_RATE} AS BIGINT) AS is_start
      FROM toks
    ),
    cov AS (
      SELECT doc_id, source, is_start,
             MAX(is_start) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN {SPAN_LEN - 1} PRECEDING AND CURRENT ROW
             ) AS corrupted
      FROM marked
    )
    SELECT source,
           COUNT(*) AS n_tokens,
           CAST(SUM(is_start) AS BIGINT) AS n_spans,
           CAST(SUM(corrupted) AS BIGINT) AS corrupted_tokens,
           CAST(SUM(corrupted) * 1000000 // COUNT(*) AS BIGINT)
             AS corrupted_ppm
    FROM cov GROUP BY source ORDER BY source
    """,
    tags=("L5", "EXT", "split"),
)
def l123_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption PLAN, deterministically: each token
    position starts a {SPAN_LEN}-token corruption span with probability
    {SPAN_RATE}/1000 decided by a multiplicative hash of
    (doc_id, pos) — no RNG state, so the plan is reproducible across
    engines, reruns, and appends (the l26/l16b discipline applied to
    denoising-objective planning). Reports the realized corruption
    rate per source — the number that must hit the objective's target
    (~15 %) before a training run is launched; overlapping spans make
    the realized rate < rate·len, which is exactly why it needs
    measuring rather than assuming.

    Scale shape: one map-side hash per token and a bounded
    {SPAN_LEN}-row window per doc — no joins, no shuffle beyond the
    per-doc window and the final per-source aggregate."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.posexplode(F.split("text", " ")).alias("pos0", "w"),
    ).select("doc_id", "source", (F.col("pos0") + 1).alias("pos"))
    # reduce both factors below 2^31 before multiplying: the product
    # must fit a long at ANY doc_id (the unreduced form overflowed at
    # sf0.1 — caught by the full sweep, not the sf0.01 driver sim)
    is_start = (
        (
            ((F.col("doc_id") * 1000003 + F.col("pos")) % 2147483647)
            * (SPLIT_HASH % 2147483647)
        )
        % M32
        % 1000
        < SPAN_RATE
    ).cast("long")
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(SPAN_LEN - 1), 0)
    )
    cov = toks.select(
        "source",
        is_start.alias("is_start"),
        F.max(is_start).over(w).alias("corrupted"),
    )
    return (
        cov.groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("is_start").cast("long").alias("n_spans"),
            F.sum("corrupted").cast("long").alias("corrupted_tokens"),
            F.expr("sum(corrupted) * 1000000 div count(*)").alias(
                "corrupted_ppm"
            ),
        )
        .orderBy("source")
    )


# ---- dq13: Benford first-digit audit ----------------------------------


@register(
    "dq13_benford_audit",
    oracle="""
    WITH digits AS (
      SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS d
      FROM orders WHERE o_totalprice >= 1
    ),
    n AS (SELECT COUNT(*) AS n FROM digits)
    SELECT d,
           COUNT(*) AS n_orders,
           COUNT(*) * 1000000 // MAX(n.n) AS observed_ppm,
           CAST(TRUNC(LN(1.0 + 1.0 / d) / LN(10.0) * 1000000 + 0.5)
                AS BIGINT) AS benford_ppm
    FROM digits CROSS JOIN n
    GROUP BY d ORDER BY d
    """,
    tags=("EXT", "quality", "A2"),
)
def dq13_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fabricated-data screen (auditing, fraud detection, synthetic-data
    QA): organically-generated magnitudes follow P(d) = log10(1+1/d);
    uniform or hand-entered values don't. Reports observed vs Benford
    ppm per leading digit; a reader compares the two columns (TPC-H
    prices are uniform-ish, so this SHOWS the deviation — the audit's
    point is measuring it, not asserting conformance). LN chain
    quantized half-up, identical in both engines.

    Scale shape: one map-side digit extraction + a 9-group aggregate."""
    o = load_table(spark, sf_dir, "orders")
    digits = o.filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("d")
    )
    n = digits.agg(F.count("*").alias("n"))
    benford = _quantize(
        F.log(1.0 + 1.0 / F.col("d")) / F.log(F.lit(10.0))
    )
    return (
        digits.crossJoin(F.broadcast(n))
        .groupBy("d")
        .agg(
            F.count("*").alias("n_orders"),
            F.expr("count(*) * 1000000 div max(n)").alias("observed_ppm"),
            F.max(benford).alias("benford_ppm"),
        )
        .orderBy("d")
    )

# ---- l121: matryoshka truncation fidelity -----------------------------

MRL_DIMS = (8, 16, 32)


def _mrl_oracle() -> str:
    dims_sel = []
    for dim in MRL_DIMS:
        dims_sel.append(
            f"SUM(p) FILTER (WHERE j <= {dim}) AS p{dim},\n"
            f"             SUM(aa) FILTER (WHERE j <= {dim}) AS aa{dim},\n"
            f"             SUM(bb) FILTER (WHERE j <= {dim}) AS bb{dim}"
        )
    qcols = ",\n           ".join(
        f"CAST(TRUNC(p{dim} / (SQRT(aa{dim}) * SQRT(bb{dim})) * 1000000"
        f" + CASE WHEN p{dim} >= 0 THEN 0.5 ELSE -0.5 END) AS BIGINT)"
        f" AS q{dim}"
        for dim in (*MRL_DIMS, 64)
    )
    mads = ",\n           ".join(
        f"CAST(SUM(ABS(q{dim} - q64)) // COUNT(*) AS BIGINT)"
        f" AS mad_micro_d{dim}"
        for dim in MRL_DIMS
    )
    return f"""
    WITH ea AS (
      SELECT vec_id,
             CAST(unnest(embedding) AS DOUBLE) AS e,
             generate_subscripts(embedding, 1) AS j
      FROM embeddings
    ),
    prods AS (
      SELECT a.vec_id AS vec_a, a.j,
             a.e * b.e AS p, a.e * a.e AS aa, b.e * b.e AS bb
      FROM ea a JOIN ea b ON b.vec_id = a.vec_id + 1 AND b.j = a.j
    ),
    sums AS (
      SELECT vec_a,
             {",".join(dims_sel)},
             SUM(p) AS p64, SUM(aa) AS aa64, SUM(bb) AS bb64
      FROM prods GROUP BY vec_a
    ),
    qs AS (
      SELECT {qcols}
      FROM sums
    )
    SELECT COUNT(*) AS n_pairs,
           {mads}
    FROM qs
    """


@register(
    "l121_matryoshka_fidelity",
    oracle=_mrl_oracle(),
    tags=("L9", "EXT"),
)
def l121_matryoshka_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation fidelity: how much cosine structure
    survives when the 64-dim embeddings are cut to their first
    8/16/32 dims — the measurement behind MRL-style 'store the prefix,
    rerank with the tail' serving (l94's calibration input). Probe
    pairs are consecutive vec_ids (deterministic, corpus-spanning, no
    RNG); per pair each truncated cosine and the full cosine quantize
    to 1e-6 micro ints, and the report is the mean absolute deviation
    per dim — micro-cosine units, exact integers in both engines.

    Scale shape: one self-join on vec_id+1 (sort-merge on the key),
    map-side slicing and folds; no pair relation beyond the probe."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    pairs = (
        e.alias("a")
        .join(e.alias("b"), F.col("b.vec_id") == F.col("a.vec_id") + 1)
        .select(
            F.col("a.v").alias("va"), F.col("b.v").alias("vb")
        )
    )

    def qcos(dim: int | None):
        va = F.col("va") if dim is None else F.slice("va", 1, dim)
        vb = F.col("vb") if dim is None else F.slice("vb", 1, dim)
        dot = F.aggregate(
            F.zip_with(va, vb, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        nrm = lambda c: F.sqrt(  # noqa: E731
            F.aggregate(
                F.zip_with(c, c, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        return _quantize(dot / (nrm(va) * nrm(vb)))

    cols = [qcos(None).alias("q64")] + [
        qcos(d).alias(f"q{d}") for d in MRL_DIMS
    ]
    scored = pairs.select(*cols)
    return scored.agg(
        F.count("*").alias("n_pairs"),
        *[
            F.expr(f"sum(abs(q{d} - q64)) div count(*)")
            .cast("long")
            .alias(f"mad_micro_d{d}")
            for d in MRL_DIMS
        ],
    )


# ---- l128: quality-prune tuning curve ---------------------------------

PRUNE_CUTS = (300_000, 400_000, 500_000, 600_000, 700_000)  # ttr micro


@register(
    "l128_quality_prune_curve",
    oracle=f"""
    WITH scored AS (
      SELECT LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) * 1000000
               // LEN(STRING_SPLIT(text, ' ')) AS ttr_micro,
             LEN(STRING_SPLIT(text, ' ')) AS ntok
      FROM documents
    ),
    cuts AS (SELECT * FROM (VALUES {", ".join(f"({c})" for c in PRUNE_CUTS)})
             AS c(cut))
    SELECT cut,
           COUNT(CASE WHEN ttr_micro >= cut THEN 1 END) AS docs_kept,
           CAST(COALESCE(SUM(CASE WHEN ttr_micro >= cut THEN ntok END), 0)
                AS BIGINT) AS tokens_kept,
           COUNT(CASE WHEN ttr_micro >= cut THEN 1 END) * 1000000
             // (SELECT COUNT(*) FROM scored) AS docs_kept_ppm
    FROM cuts LEFT JOIN scored ON ttr_micro >= cut
    GROUP BY cut ORDER BY cut
    """,
    tags=("EXT", "quality"),
)
def l128_quality_prune_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-prune tuning curve: docs and tokens retained at each
    candidate type-token-ratio cutoff, in ONE pass — the l81 shape
    applied to quality filtering ('how much corpus does tightening the
    TTR gate to 0.5 cost?'). TTR is the repetition-sensitive member of
    the l11 rule set; the integer micro form keeps both engines'
    bucketing identical. At 100 TB this is a map-side score plus a
    5-row broadcast join — the tuning curve costs one scan, not one
    full filter run per candidate threshold."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    scored = d.select(
        F.expr(
            "size(array_distinct(split(text, ' '))) * 1000000"
            " div size(split(text, ' '))"
        ).alias("ttr_micro"),
        F.size(toks).cast("long").alias("ntok"),
    )
    total = scored.agg(F.count("*").alias("nd"))
    cuts = spark.createDataFrame(
        [(int(c),) for c in PRUNE_CUTS], ["cut"]
    )
    keep = F.when(F.col("ttr_micro") >= F.col("cut"), 1)
    return (
        F.broadcast(cuts)
        .join(scored, F.col("ttr_micro") >= F.col("cut"), "left")
        .crossJoin(F.broadcast(total))
        .groupBy("cut")
        .agg(
            F.count(keep).alias("docs_kept"),
            F.coalesce(
                F.sum(F.when(F.col("ttr_micro") >= F.col("cut"), F.col("ntok"))),
                F.lit(0),
            )
            .cast("long")
            .alias("tokens_kept"),
            F.expr(
                "count(case when ttr_micro >= cut then 1 end) * 1000000"
                " div max(nd)"
            ).alias("docs_kept_ppm"),
        )
        .orderBy("cut")
    )


# ---- er3: supervised Fellegi-Sunter agreement weights -----------------

FS_LEN_TOL = 10


@register(
    "er3_fs_weights",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS token
      FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    ov AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS o
      FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT doc_a, doc_b
      FROM ov JOIN sizes sa ON doc_a = sa.doc_id
              JOIN sizes sb ON doc_b = sb.doc_id
      WHERE o * 1.0 / (sa.n + sb.n - o) >= 0.7
    ),
    recs AS (
      SELECT doc_id, lang, source, n_chars,
             STRING_SPLIT(text, ' ')[1] AS ft
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(a.lang = b.lang AS BIGINT) AS f_lang,
             CAST(a.source = b.source AS BIGINT) AS f_source,
             CAST(ABS(a.n_chars - b.n_chars) <= {FS_LEN_TOL} AS BIGINT)
               AS f_len,
             CAST(t.doc_a IS NOT NULL AS BIGINT) AS ism
      FROM recs a
      JOIN recs b ON a.ft = b.ft AND a.doc_id < b.doc_id
      LEFT JOIN truth t ON t.doc_a = a.doc_id AND t.doc_b = b.doc_id
    ),
    stats AS (
      SELECT CAST(SUM(ism) AS BIGINT) AS nm,
             CAST(COUNT(*) - SUM(ism) AS BIGINT) AS nu,
             CAST(SUM(f_lang * ism) AS BIGINT) AS ml,
             CAST(SUM(f_lang * (1 - ism)) AS BIGINT) AS ul,
             CAST(SUM(f_source * ism) AS BIGINT) AS ms,
             CAST(SUM(f_source * (1 - ism)) AS BIGINT) AS us,
             CAST(SUM(f_len * ism) AS BIGINT) AS mn,
             CAST(SUM(f_len * (1 - ism)) AS BIGINT) AS un
      FROM pairs
    ),
    rows_ AS (
      SELECT 'lang' AS feature,
             ml * 1000000 // GREATEST(nm, 1) AS m_ppm,
             ul * 1000000 // GREATEST(nu, 1) AS u_ppm FROM stats
      UNION ALL
      SELECT 'len',
             mn * 1000000 // GREATEST(nm, 1),
             un * 1000000 // GREATEST(nu, 1) FROM stats
      UNION ALL
      SELECT 'source',
             ms * 1000000 // GREATEST(nm, 1),
             us * 1000000 // GREATEST(nu, 1) FROM stats
    )
    SELECT feature,
           CAST(m_ppm AS BIGINT) AS m_ppm,
           CAST(u_ppm AS BIGINT) AS u_ppm,
           CAST(TRUNC(LN((m_ppm + 1.0) / (u_ppm + 1.0)) * 1000000
                      + CASE WHEN m_ppm >= u_ppm THEN 0.5 ELSE -0.5 END)
                AS BIGINT) AS weight_micro
    FROM rows_ ORDER BY feature
    """,
    tags=("J8", "EXT", "er"),
)
def er3_fs_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised Fellegi-Sunter agreement weights: for each comparison
    feature (same lang / same source / length within {FS_LEN_TOL}),
    estimate m = P(agree | matched pair) and u = P(agree | unmatched
    pair) over the BLOCKED candidate space, and the log-odds weight
    ln(m/u) a probabilistic record-linkage scorer would assign. Ground
    truth is the exact token-Jaccard ≥ 0.7 relation (the engine's own
    near-dup join), so the weights are calibrated on verified matches,
    not hand labels — the ER-pipeline calibration step that turns
    er2's blocking audit into a usable match scorer. Both sides
    laplace-shift the ppm ratio by +1, and the LN chain quantizes
    half-away, so the weights are exact integers in both engines.

    Scale shape: first-token blocking bounds the pair space (er2's
    scheme); ground truth is scored INLINE per blocked candidate —
    exact token-set Jaccard via array_intersect on the pair's own
    token arrays. r12 (one-shot sweep, measurement-fix protocol): the
    previous shape computed the truth relation with a corpus-wide
    PPJoin at τ=0.7 and LEFT-JOINED it onto the blocked pairs — every
    truth pair whose first tokens differ was discarded by that join,
    yet the dense fixture made the corpus-wide join emit tens of
    millions of candidate collisions (15.6 s one-shot, the registry's
    slowest). Scoring only the blocked candidate space is algebraically
    identical (the left join restricted truth to it anyway), is the
    shape a real ER pipeline uses (score each blocked candidate), and
    needs no pinned truth relation at all. The double comparison
    overlap*1.0/union >= τ is byte-for-byte the PPJoin verify's (and
    the oracle's), so the hash match is preserved exactly.
    One aggregation row unpivots to three output rows."""
    from ._cache import ephemeral_cache

    d = load_table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    recs = d.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.element_at(t, 1).alias("ft"),
        F.array_distinct(t).alias("ts"),
    )
    a, b = recs.alias("a"), recs.alias("b")
    overlap = F.size(F.array_intersect(F.col("a.ts"), F.col("b.ts")))
    union = F.size(F.col("a.ts")) + F.size(F.col("b.ts")) - overlap
    pairs = (
        a.join(
            b,
            (F.col("a.ft") == F.col("b.ft"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (F.col("a.lang") == F.col("b.lang"))
            .cast("long")
            .alias("f_lang"),
            (F.col("a.source") == F.col("b.source"))
            .cast("long")
            .alias("f_source"),
            (
                F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= FS_LEN_TOL
            )
            .cast("long")
            .alias("f_len"),
            (overlap * F.lit(1.0) / union >= F.lit(0.7))
            .cast("long")
            .alias("ism"),
        )
    )
    # One-row aggregate referenced once PER FEATURE by the unpivot
    # below — without pinning, the whole blocked-pair join + aggregate
    # re-executes three times (r12 plan audit: 6 documents scans).
    st = ephemeral_cache(pairs.agg(
        F.sum("ism").cast("long").alias("nm"),
        (F.count("*") - F.sum("ism")).cast("long").alias("nu"),
        F.sum(F.col("f_lang") * F.col("ism")).cast("long").alias("ml"),
        F.sum(F.col("f_lang") * (1 - F.col("ism"))).cast("long").alias("ul"),
        F.sum(F.col("f_source") * F.col("ism")).cast("long").alias("ms"),
        F.sum(F.col("f_source") * (1 - F.col("ism"))).cast("long").alias("us"),
        F.sum(F.col("f_len") * F.col("ism")).cast("long").alias("mn"),
        F.sum(F.col("f_len") * (1 - F.col("ism"))).cast("long").alias("un"),
    ))
    rows = None
    for feat, mc, uc in (("lang", "ml", "ul"), ("len", "mn", "un"),
                         ("source", "ms", "us")):
        part = st.select(
            F.lit(feat).alias("feature"),
            F.expr(f"{mc} * 1000000 div greatest(nm, 1)").alias("m_ppm"),
            F.expr(f"{uc} * 1000000 div greatest(nu, 1)").alias("u_ppm"),
        )
        rows = part if rows is None else rows.unionAll(part)
    return rows.select(
        "feature",
        "m_ppm",
        "u_ppm",
        _quantize(
            F.log((F.col("m_ppm") + 1.0) / (F.col("u_ppm") + 1.0))
        ).alias("weight_micro"),
    ).orderBy("feature")


# ---- l129: source-pair unigram cosine ---------------------------------


@register(
    "l129_source_cosine",
    oracle="""
    WITH sw AS (
      SELECT source, w, COUNT(*) AS c
      FROM (SELECT source, unnest(STRING_SPLIT(text, ' ')) AS w
            FROM documents)
      GROUP BY source, w
    ),
    nrm AS (
      SELECT source, SQRT(CAST(SUM(c * c) AS DOUBLE)) AS n FROM sw
      GROUP BY source
    ),
    dots AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(SUM(a.c * b.c) AS BIGINT) AS dot
      FROM sw a JOIN sw b ON a.w = b.w AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b,
           ROUND(CAST(dot AS DOUBLE) / (na.n * nb.n), 6) AS cosine
    FROM dots
    JOIN nrm na ON source_a = na.source
    JOIN nrm nb ON source_b = nb.source
    ORDER BY source_a, source_b
    """,
    tags=("L7", "A2", "EXT"),
)
def l129_source_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-source unigram count
    vectors — the symmetric companion to l120's KL: KL ranks how much
    NEW mass a source adds, cosine clusters sources into redundancy
    groups (two crawls of the same site cosine ≈ 1; merging them
    before mixture design avoids double-weighting). Deterministic to
    the bit: dot products and squared norms are exact integer sums,
    sqrt is IEEE-correctly-rounded on both engines, so the rounded
    double agrees without quantization machinery.

    Scale shape: the source×source matrix is K² (tiny); the dot join
    is inverted-index shaped on the word key — sparse vectors never
    densify, nothing quadratic in the corpus."""
    d = load_table(spark, sf_dir, "documents")
    sw = (
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").alias("c"))
    )
    nrm = sw.groupBy("source").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c")).cast("double")).alias("n")
    )
    a, b = sw.alias("a"), sw.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.sum(F.col("a.c") * F.col("b.c")).cast("long").alias("dot"))
    )
    return (
        dots.join(nrm.withColumnRenamed("source", "source_a").withColumnRenamed("n", "na"), "source_a")
        .join(nrm.withColumnRenamed("source", "source_b").withColumnRenamed("n", "nb"), "source_b")
        .select(
            "source_a",
            "source_b",
            F.round(
                F.col("dot").cast("double") / (F.col("na") * F.col("nb")), 6
            ).alias("cosine"),
        )
        .orderBy("source_a", "source_b")
    )


# ---- dq14: column completeness matrix ---------------------------------

DQ14_COLS = (
    ("customer", "c_name"),
    ("customer", "c_mktsegment"),
    ("documents", "text"),
    ("documents", "lang"),
    ("orders", "o_orderstatus"),
    ("orders", "o_orderpriority"),
)


@register(
    "dq14_completeness_matrix",
    oracle=" UNION ALL ".join(
        f"""
    SELECT '{t}' AS table_name, '{c}' AS column_name,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null,
           CAST(SUM(CASE WHEN {c} = '' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_blank,
           CAST(SUM(CASE WHEN {c} IS NOT NULL AND {c} <> ''
                         THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
                AS BIGINT) AS complete_ppm
    FROM {t}"""
        for t, c in DQ14_COLS
    )
    + " ORDER BY table_name, column_name",
    tags=("EXT", "quality", "A2"),
)
def dq14_completeness_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column completeness matrix over the catalog's string columns:
    null count, blank count, and completeness ppm per (table, column)
    — the first screen every data-quality framework (Deequ/GE
    'completeness') runs before anything semantic, and the baseline
    the ingest contract asserts against (a column that is 100 %
    complete today and 97 % tomorrow is an upstream regression even
    though every individual row is 'valid'). One aggregate per table,
    outputs unioned — each table is scanned once with only the audited
    columns read (column pruning does the rest)."""
    out = None
    for t, c in DQ14_COLS:
        df = load_table(spark, sf_dir, t)
        part = df.agg(
            F.lit(t).alias("table_name"),
            F.lit(c).alias("column_name"),
            F.count("*").alias("n_rows"),
            F.sum(F.col(c).isNull().cast("long"))
            .cast("long")
            .alias("n_null"),
            F.sum((F.col(c) == "").cast("long")).cast("long").alias("n_blank"),
            F.expr(
                f"sum(case when {c} is not null and {c} <> ''"
                " then 1 else 0 end) * 1000000 div count(*)"
            ).alias("complete_ppm"),
        ).select(
            "table_name", "column_name", "n_rows", "n_null", "n_blank",
            "complete_ppm",
        )
        out = part if out is None else out.unionAll(part)
    return out.orderBy("table_name", "column_name")


# ---- l130: dedup-method Venn audit ------------------------------------


@register(
    "l130_dedup_method_venn",
    oracle=f"""
    WITH ex AS (
      SELECT doc_id,
             CAST(doc_id > MIN(doc_id) OVER (PARTITION BY MD5(text))
                  AS BIGINT) AS f_exact
      FROM documents
    ),
    tok AS (
      SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS token
      FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    ov AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS o
      FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jd AS (
      SELECT DISTINCT doc_b AS doc_id
      FROM ov JOIN sizes sa ON doc_a = sa.doc_id
              JOIN sizes sb ON doc_b = sb.doc_id
      WHERE o * 1.0 / (sa.n + sb.n - o) >= {JACCARD_T}
    ),
    toks3 AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
      FROM toks3, UNNEST(GENERATE_SERIES(1, LEN(t) - 2)) AS s(i)
    ),
    shs AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    cd AS (
      SELECT DISTINCT a.doc_id
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id <> b.doc_id
      JOIN shs sa ON a.doc_id = sa.doc_id
      GROUP BY a.doc_id, b.doc_id, sa.n
      HAVING COUNT(*) * 1.0 / sa.n >= {CONTAIN_T}
    )
    SELECT ex.f_exact,
           CAST(jd.doc_id IS NOT NULL AS BIGINT) AS f_jaccard,
           CAST(cd.doc_id IS NOT NULL AS BIGINT) AS f_contain,
           COUNT(*) AS n_docs
    FROM ex
    LEFT JOIN jd USING (doc_id)
    LEFT JOIN cd USING (doc_id)
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
    tags=("L1", "L2", "EXT", "dedup"),
)
def l130_dedup_method_venn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-method agreement Venn: every document flagged by each of
    three removal policies — exact (non-canonical copy of an identical
    text), token-Jaccard ≥ JACCARD_T (the higher id of a near-dup pair,
    keep-lowest), shingle containment ≥ CONTAIN_T (a doc essentially covered
    by ANOTHER doc) — and the count of docs in each of the 2³ regions.
    This is the audit that decides a dedup STACK: a region where
    containment fires alone is quote-inclusion mass Jaccard misses; a
    near-empty jaccard-only region says the cheaper exact+containment
    pair suffices for this corpus. Flags ride the engine's own
    relations (l1's md5 grouping, ppjoin_pairs, _containment_pairs) —
    the oracle recomputes all three naively.

    Scale shape: three flag relations (each already inverted-index or
    hash-group shaped), two left joins on doc_id, an 8-row output."""
    from ._cache import ephemeral_cache
    from .llm_dedup import (
        JACCARD_T,
        _containment_pairs,
        _doc_tokens,
        ppjoin_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    ex = d.select(
        "doc_id",
        (
            F.col("doc_id")
            > F.min("doc_id").over(Window.partitionBy(F.md5("text")))
        )
        .cast("long")
        .alias("f_exact"),
    )
    jd = ephemeral_cache(
        ppjoin_pairs(_doc_tokens(spark, sf_dir), JACCARD_T)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("fj", F.lit(1))
    )
    cd = ephemeral_cache(
        _containment_pairs(d)
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("fc", F.lit(1))
    )
    return (
        ex.join(jd, "doc_id", "left")
        .join(cd, "doc_id", "left")
        .groupBy(
            "f_exact",
            F.coalesce("fj", F.lit(0)).cast("long").alias("f_jaccard"),
            F.coalesce("fc", F.lit(0)).cast("long").alias("f_contain"),
        )
        .agg(F.count("*").alias("n_docs"))
        .orderBy("f_exact", "f_jaccard", "f_contain")
    )
