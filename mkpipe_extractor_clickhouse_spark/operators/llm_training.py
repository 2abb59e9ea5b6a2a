"""Training-set assembly operators — the last mile between a curated
corpus and a trainer: benchmark decontamination, sequence packing,
deterministic train/val splitting, and weighted mixture sampling.

All four are pure built-in-function plans (no Python in the hot path)
and every randomized-looking step is a deterministic integer hash, so
each has an exact DuckDB oracle: reruns are bit-stable and the split /
sample / pack assignment of any document can be recomputed from its key
alone — the property a resumable 100 TB ingestion run needs (no stored
RNG state, no order dependence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ._cache import ephemeral_cache
from ._ngrams import md5_hash60, word_ngrams

# Benchmark decontamination: any training document sharing a word
# n-gram with the held-out set is dropped. 5-grams calibrated on this
# fixture's ~40-word vocabulary: 3-grams flag ~everything (degenerate
# vocab), 5-grams flag ~1-6% — the regime a real 13-gram pipeline
# (public GPT-3 appendix-C / Llama methodology) operates in.
DECON_N = 5
EVAL_SOURCES = ("src18", "src19")

PACK_BUDGET = 256  # tokens per packed training sequence

# Knuth multiplicative hashes for split/sample decisions. Chosen over
# xxhash64 ONLY because the oracle must be expressible in portable SQL;
# at production doc_id ranges (>2^33) the multiply would overflow ANSI
# long arithmetic — swap in F.xxhash64 there (no cross-engine oracle).
SPLIT_HASH = 2654435761
SAMPLE_HASH = 1099087573
M32 = 4294967296


def _gram_sql(n: int) -> str:
    ids = " || ' ' || ".join(f"t[i+{k}]" for k in range(n))
    return f"""
      SELECT DISTINCT doc_id, source, {ids} AS gram
      FROM (SELECT doc_id, source, STRING_SPLIT(text, ' ') AS t FROM documents),
           UNNEST(GENERATE_SERIES(1, LEN(t) - {n - 1})) AS s(i)
    """


@register(
    "l24_decontaminate",
    oracle=f"""
    WITH sh AS ({_gram_sql(DECON_N)}),
    eval_sh AS (
      SELECT DISTINCT gram FROM sh WHERE source IN {EVAL_SOURCES!r}
    ),
    contaminated AS (
      SELECT DISTINCT s.doc_id FROM sh s JOIN eval_sh e USING (gram)
      WHERE s.source NOT IN {EVAL_SOURCES!r}
    )
    SELECT doc_id, source FROM documents
    WHERE source NOT IN {EVAL_SOURCES!r}
      AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    """,
    tags=("L1", "J6", "decontamination"),
)
def l24_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: drop every training document that
    shares any word 5-gram with the held-out sources (src18/src19 play
    the benchmark). Plan mirrors the production shape: the eval set is
    small by nature, so its distinct-gram table BROADCASTS; training
    grams semi-join against it (flagging), and the surviving corpus is
    a left-anti join on doc_id. The corpus is never shuffled on gram —
    only flagged doc_ids move. At 100 TB: eval grams ≈ MBs broadcast,
    one map-side semi join + one anti join on the (tiny) flag set."""
    d = load_table(spark, sf_dir, "documents")
    train = d.filter(~F.col("source").isin(*EVAL_SOURCES))
    sh = word_ngrams(d, DECON_N, "doc_id", "source")
    eval_grams = (
        sh.filter(F.col("source").isin(*EVAL_SOURCES)).select("gram").distinct()
    )
    contaminated = (
        sh.filter(~F.col("source").isin(*EVAL_SOURCES))
        .join(F.broadcast(eval_grams), "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        train.join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "source")
    )


@register(
    "l25_pack_sequences",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    cum AS (
      SELECT doc_id, source, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS cum_before
      FROM tok
    )
    SELECT doc_id, source, n_tokens,
           CAST(FLOOR(cum_before / {PACK_BUDGET}.0) AS BIGINT) AS pack_id,
           cum_before % {PACK_BUDGET} AS pack_offset
    FROM cum
    """,
    tags=("W5", "packing"),
)
def l25_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: within each source, documents
    concatenate in doc_id order and split into fixed 256-token training
    sequences; each doc gets (pack_id, pack_offset) — docs straddle
    pack boundaries, exactly like GPT-style pretraining packing (no
    padding waste, unlike greedy bin-packing). One exclusive-prefix-sum
    window per source: the shuffle key is the source, sequences stream
    out sorted, and the assignment is a pure function of (source,
    doc_id order) — a resumed or re-partitioned run packs identically.
    At 100 TB, per-source skew is the hazard: a dominant source should
    be pre-split by a date/shard subkey folded into the partition key
    (same plan, finer key)."""
    d = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        d.select(
            "doc_id",
            "source",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        )
        .withColumn("cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.floor(F.col("cum_before") / float(PACK_BUDGET))
            .cast("long")
            .alias("pack_id"),
            (F.col("cum_before") % PACK_BUDGET).alias("pack_offset"),
        )
    )


@register(
    "l26_train_val_split",
    oracle=f"""
    SELECT CASE WHEN (doc_id * {SPLIT_HASH}) % {M32} % 1000 < 900
                THEN 'train' ELSE 'val' END AS split,
           lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY split, lang
    ORDER BY split, lang
    """,
    tags=("A2", "split"),
)
def l26_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 train/val split by multiplicative key hash —
    membership is a pure function of doc_id, so the split is stable
    under reruns, repartitioning, and incremental appends (new docs
    land in a split without touching old ones — no stored RNG state).
    Reported per (split, lang) so drift in the language mix between
    splits is visible. Pure map-side decision + one tiny aggregate."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * SPLIT_HASH) % M32 % 1000
    return (
        d.withColumn("split", F.when(bucket < 900, "train").otherwise("val"))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split", "lang")
    )


# Mixture weights: sources sampled at different rates (out of 10000).
# CASE order matters and is identical in both engines: src1 hits the
# first branch before the LIKE 'src1%' family catch-all.
_MIX_SQL = """CASE WHEN source IN ('src0', 'src1', 'src2') THEN 10000
         WHEN source LIKE 'src1%' THEN 5000
         ELSE 2500 END"""


@register(
    "l27_mixture_sample",
    oracle=f"""
    SELECT doc_id, source, lang
    FROM documents
    WHERE (doc_id * {SAMPLE_HASH}) % {M32} % 10000 < {_MIX_SQL}
    """,
    tags=("P6", "sampling"),
)
def l27_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mixture sampling: each source family is kept at its own
    rate (100% / 50% / 25%) via a per-document hash threshold — the way
    a pretraining mix upsamples curated sources against crawl. Being
    hash-gated (not rand()-gated) the sample is deterministic,
    partition-order-independent, and composable with the l26 split
    (independent hash multipliers). Pure map-side filter: pushes to the
    scan, no shuffle at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("source").isin("src0", "src1", "src2"), 10000)
        .when(F.col("source").startswith("src1"), 5000)
        .otherwise(2500)
    )
    keep = ((F.col("doc_id") * SAMPLE_HASH) % M32 % 10000) < rate
    return d.filter(keep).select("doc_id", "source", "lang")


from ._determinism import DAVG, _Q, _quantize, davg  # noqa: E402

RESAMPLE_HASH = 2246822519  # a third independent multiplicative hash


@register(
    "l31_importance_resample",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, source,
             LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) * 1.0
               / LEN(STRING_SPLIT(text, ' ')) AS ttr
      FROM documents
    ),
    kept AS (
      SELECT * FROM scored
      WHERE (doc_id * {RESAMPLE_HASH}) % {M32} % 10000
            < CAST(TRUNC(LEAST(GREATEST(ttr, 0.1), 0.9) * 10000) AS BIGINT)
    )
    SELECT lang, COUNT(*) AS n_kept,
           {DAVG.format(x='ROUND(ttr, 6)')} AS avg_ttr
    FROM kept GROUP BY lang ORDER BY lang
    """,
    tags=("P6", "sampling", "EXT"),
)
def l31_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-proportional resampling: each document is accepted with
    probability equal to its (clamped) type-token ratio — the
    importance-weighting step quality-aware curation pipelines apply
    after scoring. Acceptance is a pure function of (doc_id, score)
    via multiplicative key hashing, so the sample is deterministic,
    rerun-stable, and append-stable — no RNG state, no shuffle; the
    decision executes map-side inside the scan stage. Both engines
    compute the same IEEE double for the score and truncate the same
    product, so the oracle is exact."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    ttr = F.size(F.array_distinct(toks)) * F.lit(1.0) / F.size(toks)
    accept_below = (
        F.least(F.greatest(ttr, F.lit(0.1)), F.lit(0.9)) * 10000
    ).cast("long")
    bucket = (F.col("doc_id") * RESAMPLE_HASH) % M32 % 10000
    return (
        d.select("doc_id", "lang", "source", ttr.alias("ttr"))
        .filter(bucket < accept_below)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_kept"),
            davg(F.round("ttr", 6)).alias("avg_ttr"),
        )
        .orderBy("lang")
    )


SHUFFLE_HASH = 2484345967  # fourth independent multiplicative hash
N_SHARDS = 16


@register(
    "l33_global_shuffle",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source,
             (doc_id * {SHUFFLE_HASH}) % {M32} AS k
      FROM documents
    )
    SELECT doc_id, source,
           k % {N_SHARDS} AS shard_id,
           ROW_NUMBER() OVER (
             PARTITION BY k % {N_SHARDS} ORDER BY k // {N_SHARDS}, doc_id
           ) AS pos
    FROM keyed ORDER BY shard_id, pos
    """,
    tags=("W1", "O1", "EXT", "sampling"),
)
def l33_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: assign every
    document a pseudo-random 32-bit key by multiplicative hashing, put
    it in shard `key mod S`, and number it within the shard by the
    remaining key bits — the reproducible epoch permutation a trainer
    consumes (shard files read round-robin give a uniform shuffle).

    Spark-first scale shape: NO global sort.  The shard assignment is
    map-side arithmetic; the within-shard ordering is a row_number
    window partitioned by shard — one hash shuffle into S independent
    partitions, each sorted locally (exactly how the shard files would
    be written with partitionBy(shard_id) + sortWithinPartitions).
    Rerun-stable and append-stable: any document's (shard, pos) is a
    pure function of the key set, no RNG state — and using the high
    key bits for in-shard order keeps shard and order decorrelated."""
    d = load_table(spark, sf_dir, "documents")
    k = (F.col("doc_id") * SHUFFLE_HASH) % M32
    keyed = d.select(
        "doc_id",
        "source",
        (k % N_SHARDS).alias("shard_id"),
        F.expr(f"(doc_id * {SHUFFLE_HASH}) % {M32} div {N_SHARDS}").alias(
            "subkey"
        ),
    )
    w = Window.partitionBy("shard_id").orderBy("subkey", "doc_id")
    return keyed.select(
        "doc_id",
        "source",
        "shard_id",
        F.row_number().over(w).alias("pos"),
    )


TEMP_HASH = 2654435761  # Knuth multiplicative, independent of the others


@register(
    "l46_temperature_mixture",
    oracle=f"""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source
    ),
    tot AS (
      SELECT SUM(n_s) AS n,
             CAST(SUM(CAST(TRUNC(SQRT(CAST(n_s AS DOUBLE)) * 1000000 + 0.5)
                      AS BIGINT)) AS DOUBLE) / 1000000.0 AS s_sqrt
      FROM counts
    ),
    rates AS (
      SELECT source, n_s,
             CAST(TRUNC(LEAST(
               (CAST(n AS DOUBLE) / 2.0) * SQRT(CAST(n_s AS DOUBLE))
                 / (s_sqrt * CAST(n_s AS DOUBLE)),
               1.0) * 10000) AS BIGINT) AS rate_bp
      FROM counts CROSS JOIN tot
    )
    SELECT r.source, MAX(r.n_s) AS n_docs, MAX(r.rate_bp) AS rate_bp,
           SUM(CASE WHEN (d.doc_id * {TEMP_HASH}) % {M32} % 10000 < r.rate_bp
                    THEN 1 ELSE 0 END) AS kept
    FROM documents d JOIN rates r ON d.source = r.source
    GROUP BY r.source
    """,
    tags=("P6", "EXT", "sampling"),
)
def l46_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixture (the Gopher/PaLM τ=0.5 recipe):
    sampling weights ∝ (source share)^τ flatten the source distribution
    — small curated sources get upsampled relative to bulk crawl —
    then each source keeps documents at rate min(1, target·w_s/n_s)
    via the deterministic doc-hash gate (composable with l26/l27's
    independent multipliers). τ=0.5 means the weight is √n_s, so the
    only non-rational op is SQRT — IEEE-exact in both engines, no libm
    pow. The √n_s normalizer sums QUANTIZED addends (dsum rule), rates
    truncate to integer basis points, and the per-doc keep test is
    pure integer hashing — end-to-end reproducible. Counts + a tiny
    broadcast rate table + a map-side filter: no extra shuffle at any
    corpus size."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n_s"))
    from ._determinism import _quantize

    sqrt_n = F.sqrt(F.col("n_s").cast("double"))
    tot = counts.agg(
        F.sum("n_s").alias("n"),
        (F.sum(_quantize(sqrt_n)).cast("double") / 1_000_000.0).alias("s_sqrt"),
    )
    rate = F.least(
        (F.col("n").cast("double") / 2.0)
        * F.sqrt(F.col("n_s").cast("double"))
        / (F.col("s_sqrt") * F.col("n_s").cast("double")),
        F.lit(1.0),
    )
    rates = counts.join(F.broadcast(tot)).select(
        "source", "n_s", (rate * 10000).cast("bigint").alias("rate_bp")
    )
    j = d.join(F.broadcast(rates), "source")
    keep = ((F.col("doc_id") * TEMP_HASH) % M32 % 10000 < F.col("rate_bp")).cast(
        "long"
    )
    return j.groupBy("source").agg(
        F.max("n_s").alias("n_docs"),
        F.max("rate_bp").alias("rate_bp"),
        F.sum(keep).alias("kept"),
    )


CTX_LEN = 64  # tokens per training context window


@register(
    "l74_truncation_loss",
    oracle=f"""
    WITH t AS (
      SELECT source,
             LEN(STRING_SPLIT(text, ' ')) AS n_tok
      FROM documents
    )
    SELECT source,
           COUNT(*) AS docs,
           SUM(n_tok) AS total_tokens,
           SUM(LEAST(n_tok, {CTX_LEN})) AS kept_tokens,
           SUM(CASE WHEN n_tok > {CTX_LEN} THEN 1 ELSE 0 END)
             AS docs_truncated,
           SUM(CASE WHEN n_tok > {CTX_LEN} THEN n_tok - {CTX_LEN}
                    ELSE 0 END) * 1000000 // SUM(n_tok) AS loss_ppm
    FROM t GROUP BY source ORDER BY source
    """,
    tags=("L5", "EXT", "packing"),
)
def l74_truncation_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length truncation planning: per source, how many
    whitespace tokens survive a hard cut at CTX_LEN and what fraction
    of the corpus mass is lost — the stat that decides between
    truncate-vs-chunk (l15) and sizes the packing run (l25) BEFORE
    paying for tokenization. Pure integer arithmetic (counts, floor
    ppm); one partial→final aggregation over a row-local token count,
    no shuffle beyond the group-by."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("source", F.size(F.split("text", " ")).alias("n_tok"))
    return (
        t.groupBy("source")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum(F.least(F.col("n_tok"), F.lit(CTX_LEN))).alias(
                "kept_tokens"
            ),
            F.sum(
                F.when(F.col("n_tok") > CTX_LEN, 1).otherwise(0)
            ).alias("docs_truncated"),
            F.expr(
                f"SUM(CASE WHEN n_tok > {CTX_LEN} THEN n_tok - {CTX_LEN} "
                f"ELSE 0 END) * 1000000 DIV SUM(n_tok)"
            ).alias("loss_ppm"),
        )
        .orderBy("source")
    )


CANARIES = ("window spark order", "hash value table part", "zz-never-present")


@register(
    "l78_canary_scan",
    oracle=f"""
    WITH canaries AS (
      SELECT * FROM (VALUES
        ('{CANARIES[0]}'), ('{CANARIES[1]}'), ('{CANARIES[2]}')
      ) AS t(canary)
    )
    SELECT c.canary,
           COUNT(d.doc_id) AS hits,
           COALESCE(SUM(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                    * 1000000 // (SELECT COUNT(*) FROM documents), 0)
             AS hit_ppm,
           MIN(d.doc_id) AS first_doc
    FROM canaries c
    LEFT JOIN documents d ON contains(d.text, c.canary)
    GROUP BY c.canary ORDER BY c.canary
    """,
    tags=("L1", "EXT", "decontamination"),
)
def l78_canary_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canary-string contamination scan: how many training documents
    contain each of a set of probe strings (eval-set canaries,
    secrets, watermarks) — the direct-substring complement of l24's
    n-gram decontamination. The canary table BROADCASTS and each doc
    is tested row-locally (substring match in JVM codegen), so the
    scan stays one pass over the corpus with no shuffle; at thousands
    of canaries the same shape swaps in an Aho–Corasick pandas UDF
    (one automaton pass per doc) without changing the plan. Counts
    and floor-ppm rates are exact integers."""
    d = load_table(spark, sf_dir, "documents")
    canaries = spark.createDataFrame(
        [(c,) for c in CANARIES], ["canary"]
    )
    total = d.count()  # single scalar, like g1's type count
    j = F.broadcast(canaries).join(
        d, F.contains(F.col("text"), F.col("canary")), "left"
    )
    return (
        j.groupBy("canary")
        .agg(
            F.count("doc_id").alias("hits"),
            F.coalesce(
                F.expr(
                    "SUM(CASE WHEN doc_id IS NOT NULL THEN 1 ELSE 0 END)"
                    f" * 1000000 DIV {total}"
                ),
                F.lit(0),
            ).alias("hit_ppm"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("canary")
    )


LEAK_TAU = 0.5  # near-dup threshold for leakage (l23's separation point)


@register(
    "l84_leakage_free_split",
    oracle=f"""
    WITH split0 AS (
      SELECT doc_id, source,
             CASE WHEN (doc_id * {SPLIT_HASH}) % {M32} % 1000 < 900
                  THEN 'train' ELSE 'val' END AS split
      FROM documents
    ),
    toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM toks, UNNEST(GENERATE_SERIES(1, LEN(t) - 2)) AS g(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS o
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    dup AS (
      SELECT p.doc_a, p.doc_b FROM pairs p
      JOIN sizes sa ON p.doc_a = sa.doc_id
      JOIN sizes sb ON p.doc_b = sb.doc_id
      WHERE p.o * 1.0 / (sa.n + sb.n - p.o) >= {LEAK_TAU}
    ),
    leaky AS (
      -- a val doc is leaky if ANY near-dup partner sits in train
      SELECT DISTINCT v.doc_id
      FROM split0 v
      JOIN (SELECT doc_a AS x, doc_b AS y FROM dup
            UNION ALL SELECT doc_b, doc_a FROM dup) e ON v.doc_id = e.x
      JOIN split0 tr ON tr.doc_id = e.y AND tr.split = 'train'
      WHERE v.split = 'val'
    )
    SELECT s.source,
           COUNT(CASE WHEN s.split = 'train' THEN 1 END) AS train_docs,
           COUNT(CASE WHEN s.split = 'val' AND l.doc_id IS NULL THEN 1 END)
             AS val_docs,
           COUNT(l.doc_id) AS quarantined
    FROM split0 s LEFT JOIN leaky l ON s.doc_id = l.doc_id
    GROUP BY s.source ORDER BY s.source
    """,
    tags=("L1", "L2", "EXT", "split", "decontamination"),
)
def l84_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val split: the deterministic 90/10 hash
    split (l26) hardened with a near-dup guard — any val doc with a
    shingle-Jaccard ≥ τ partner in train is QUARANTINED (neither
    split), because a near-copy across the boundary silently inflates
    eval scores (the leakage l24 guards against an EXTERNAL benchmark,
    applied to the split's own internal boundary). Near-dup pairs come
    from the l23 PPJoin machinery, so the guard costs one inverted-
    index pass, not an all-pairs; the report is per-source counts.
    Everything is integer/deterministic — rerunning reproduces the
    exact same split and quarantine set."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * SPLIT_HASH) % M32 % 1000
    split0 = d.select(
        "doc_id",
        "source",
        F.when(bucket < 900, "train").otherwise("val").alias("split"),
    )
    sh = word_ngrams(d, 3, "doc_id").withColumnRenamed("gram", "token")
    from .llm_dedup import ppjoin_pairs

    dup = ppjoin_pairs(sh, LEAK_TAU).select("doc_a", "doc_b")
    edges = dup.select(
        F.col("doc_a").alias("x"), F.col("doc_b").alias("y")
    ).unionAll(dup.select(F.col("doc_b"), F.col("doc_a")))
    train_ids = split0.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("y")
    )
    leaky = (
        split0.filter(F.col("split") == "val")
        .join(edges, split0.doc_id == edges.x)
        .join(train_ids, "y")
        .select(F.col("doc_id"))
        .distinct()
        .withColumn("is_leaky", F.lit(1))
    )
    j = split0.join(leaky, "doc_id", "left")
    return (
        j.groupBy("source")
        .agg(
            F.count(F.when(F.col("split") == "train", 1)).alias("train_docs"),
            F.count(
                F.when(
                    (F.col("split") == "val") & F.col("is_leaky").isNull(), 1
                )
            ).alias("val_docs"),
            F.count("is_leaky").alias("quarantined"),
        )
        .orderBy("source")
    )


TE_FOLDS = 5


@register(
    "l85_target_encoding",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey, o_orderpriority AS cat,
             (o_orderkey * {SPLIT_HASH}) % {M32} % {TE_FOLDS} AS fold,
             {_Q.format(x='o_totalprice')} AS yq
      FROM orders
    ),
    per_fold AS (
      SELECT cat, fold, COUNT(*) AS cnt, SUM(yq) AS s
      FROM base GROUP BY cat, fold
    ),
    per_cat AS (
      SELECT cat, SUM(cnt) AS cnt_all, SUM(s) AS s_all
      FROM per_fold GROUP BY cat
    )
    SELECT b.o_orderkey,
           b.cat,
           CAST(b.fold AS INT) AS fold,
           ROUND(CAST(c.s_all - f.s AS DOUBLE) / 1000000.0
                 / (c.cnt_all - f.cnt), 6) AS target_enc
    FROM base b
    JOIN per_fold f ON b.cat = f.cat AND b.fold = f.fold
    JOIN per_cat c ON b.cat = c.cat
    WHERE b.o_orderkey <= 20000
    ORDER BY b.o_orderkey
    """,
    tags=("A2", "J2", "EXT", "ml-prep"),
)
def l85_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold target encoding with leakage protection — the ML-prep
    idiom for high-cardinality categoricals: each row's category is
    encoded as the target mean computed WITHOUT the row's own fold
    (out-of-fold mean), so the feature never sees its own label
    (l84's split-boundary discipline applied to feature construction).
    Exact: quantized target sums aggregate per (category, fold) — an
    O(categories × folds) table that BROADCASTS back onto the fact —
    and each encoded value is one IEEE division of exact integers,
    rounded. Deterministic fold assignment by the l26 hash, so
    encodings are reproducible across reruns and cluster sizes."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("cat"),
        ((F.col("o_orderkey") * SPLIT_HASH) % M32 % TE_FOLDS).alias("fold"),
        _quantize("o_totalprice").alias("yq"),
    )
    per_fold = base.groupBy("cat", "fold").agg(
        F.count("*").alias("cnt"), F.sum("yq").alias("s")
    )
    per_cat = per_fold.groupBy("cat").agg(
        F.sum("cnt").alias("cnt_all"), F.sum("s").alias("s_all")
    )
    enc = (
        base.filter(F.col("o_orderkey") <= 20000)
        .join(F.broadcast(per_fold), ["cat", "fold"])
        .join(F.broadcast(per_cat), "cat")
        .select(
            "o_orderkey",
            "cat",
            F.col("fold").cast("int").alias("fold"),
            F.round(
                (F.col("s_all") - F.col("s")).cast("double")
                / 1_000_000.0
                / (F.col("cnt_all") - F.col("cnt")),
                6,
            ).alias("target_enc"),
        )
    )
    return enc.orderBy("o_orderkey")


@register(
    "l86_fitted_scaling",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey,
             CASE WHEN (o_orderkey * {SPLIT_HASH}) % {M32} % 1000 < 900
                  THEN 'train' ELSE 'val' END AS split,
             {_Q.format(x='o_totalprice')} AS yq
      FROM orders
    ),
    fit AS (
      -- statistics fitted on TRAIN ONLY (the fit/transform separation
      -- that keeps val statistics out of the features)
      SELECT MIN(yq) AS mn, MAX(yq) AS mx,
             COUNT(*) AS n, SUM(yq) AS s,
             SUM(CAST(yq AS DECIMAL(38,0)) * yq) AS ssq
      FROM base WHERE split = 'train'
    )
    SELECT b.o_orderkey, b.split,
           ROUND(CAST(b.yq - f.mn AS DOUBLE) / (f.mx - f.mn), 6)
             AS minmax_scaled,
           ROUND((CAST(b.yq AS DOUBLE) / 1000000.0
                  - CAST(f.s AS DOUBLE) / 1000000.0 / f.n)
                 / SQRT((CAST(f.ssq AS DOUBLE) / 1000000000000.0
                         - (CAST(f.s AS DOUBLE) / 1000000.0)
                           * (CAST(f.s AS DOUBLE) / 1000000.0) / f.n)
                        / (f.n - 1)), 6) AS z_scaled
    FROM base b CROSS JOIN fit f
    WHERE b.o_orderkey <= 20000
    ORDER BY b.o_orderkey
    """,
    tags=("A10", "J2", "EXT", "ml-prep"),
)
def l86_fitted_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature scaling with the fit/transform separation: min-max and
    z-score parameters are FITTED on the train split only, then
    applied to every row — val rows scale by train statistics, never
    their own (the subtle leak most naive pipelines ship). The fitted
    stats are ONE broadcast row of exact integer moments
    (DECIMAL(38,0) for Σy²); each scaled value is a single IEEE tree
    over them, rounded — so transform is map-side, deterministic, and
    at 100 TB the fit is one partial→final aggregate, the transform a
    free projection on the scan."""
    o = load_table(spark, sf_dir, "orders")
    bucket = (F.col("o_orderkey") * SPLIT_HASH) % M32 % 1000
    base = o.select(
        "o_orderkey",
        F.when(bucket < 900, "train").otherwise("val").alias("split"),
        _quantize("o_totalprice").alias("yq"),
    )
    fit = base.filter(F.col("split") == "train").agg(
        F.min("yq").alias("mn"),
        F.max("yq").alias("mx"),
        F.count("*").alias("n"),
        F.sum("yq").alias("s"),
        F.sum(F.col("yq").cast("decimal(38,0)") * F.col("yq")).alias("ssq"),
    )
    mean = F.col("s").cast("double") / 1_000_000.0 / F.col("n")
    var = (
        F.col("ssq").cast("double") / 1_000_000_000_000.0
        - (F.col("s").cast("double") / 1_000_000.0)
        * (F.col("s").cast("double") / 1_000_000.0)
        / F.col("n")
    ) / (F.col("n") - 1)
    return (
        base.filter(F.col("o_orderkey") <= 20000)
        .join(F.broadcast(fit))
        .select(
            "o_orderkey",
            "split",
            F.round(
                (F.col("yq") - F.col("mn")).cast("double")
                / (F.col("mx") - F.col("mn")),
                6,
            ).alias("minmax_scaled"),
            F.round(
                (F.col("yq").cast("double") / 1_000_000.0 - mean)
                / F.sqrt(var),
                6,
            ).alias("z_scaled"),
        )
        .orderBy("o_orderkey")
    )


BUDGET_TOKENS = 100_000


@register(
    "l88_token_budget_allocation",
    oracle=f"""
    WITH avail AS (
      SELECT source, SUM(LEN(STRING_SPLIT(text, ' '))) AS tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(tokens) AS t FROM avail),
    shares AS (
      SELECT a.source, a.tokens,
             a.tokens * {BUDGET_TOKENS} // t.t AS floor_alloc,
             a.tokens * {BUDGET_TOKENS} % t.t AS remainder
      FROM avail a CROSS JOIN tot t
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY remainder DESC, source)
               AS remainder_rank,
             {BUDGET_TOKENS} - SUM(floor_alloc) OVER () AS leftover
      FROM shares
    )
    SELECT source, tokens AS tokens_available,
           floor_alloc + CASE WHEN remainder_rank <= leftover
                              THEN 1 ELSE 0 END AS tokens_allocated
    FROM ranked ORDER BY source
    """,
    tags=("L5", "A2", "EXT", "sampling"),
)
def l88_token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget allocation across sources by the largest-remainder
    (Hamilton) method: proportional floor shares, then the leftover
    tokens go one each to the largest fractional remainders
    (source-name tiebreak) — so the allocations are INTEGERS that sum
    EXACTLY to the budget, deterministically, which naive per-source
    rounding cannot promise (off-by-k budgets are how mixture configs
    drift between runs). Pure integer arithmetic end to end; the
    apportionment runs over O(sources) rows after one corpus
    aggregation. Compose with l27/l46 for weighted/temperature
    mixtures."""
    d = load_table(spark, sf_dir, "documents")
    avail = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).alias("tokens")
    )
    tot = avail.agg(F.sum("tokens").alias("t"))
    shares = avail.join(F.broadcast(tot)).select(
        "source",
        "tokens",
        F.expr(f"tokens * {BUDGET_TOKENS} DIV t").alias("floor_alloc"),
        F.expr(f"tokens * {BUDGET_TOKENS} % t").alias("remainder"),
    )
    ranked = shares.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("remainder").desc(), "source"))
        .alias("remainder_rank"),
        (
            F.lit(BUDGET_TOKENS)
            - F.sum("floor_alloc").over(Window.partitionBy())
        ).alias("leftover"),
    )
    return ranked.select(
        "source",
        F.col("tokens").alias("tokens_available"),
        (
            F.col("floor_alloc")
            + F.when(F.col("remainder_rank") <= F.col("leftover"), 1).otherwise(0)
        ).alias("tokens_allocated"),
    ).orderBy("source")


_ESS_MIX = """CASE WHEN source IN ('src0', 'src1', 'src2') THEN 10000
         WHEN source LIKE 'src1%' THEN 5000
         ELSE 2500 END"""


@register(
    "l89_effective_sample_size",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_ESS_MIX} AS wt FROM documents
    )
    SELECT COUNT(*) AS docs,
           SUM(wt) AS total_weight,
           -- Kish ESS = (Σw)² / Σw² on exact integers, one final division
           ROUND(CAST(SUM(wt) AS DOUBLE) * SUM(wt)
                 / SUM(CAST(wt AS DECIMAL(38,0)) * wt), 6)
             AS effective_sample_size,
           ROUND(CAST(SUM(wt) AS DOUBLE) * SUM(wt)
                 / SUM(CAST(wt AS DECIMAL(38,0)) * wt) / COUNT(*), 6)
             AS efficiency
    FROM w
    """,
    tags=("A2", "EXT", "sampling"),
)
def l89_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size of the mixture weights (l27's rate
    table): ESS = (Σw)²/Σw² — the importance-sampling diagnostic that
    says how many EQUAL-WEIGHT documents the weighted corpus is worth
    (efficiency = ESS/n; a skewed mixture can pay for 5M docs and
    train like 1M). Integer weight moments (DECIMAL for Σw² — ppm
    weights square past int64), one final IEEE division chain. The
    number to check BEFORE accepting a temperature/mixture config
    (l46/l27) — at 100 TB it is one partial→final aggregate."""
    d = load_table(spark, sf_dir, "documents")
    w = d.select(F.expr(_ESS_MIX).alias("wt"))
    s_w = F.sum("wt")
    s_w2 = F.sum(F.col("wt").cast("decimal(38,0)") * F.col("wt"))
    ess = s_w.cast("double") * s_w / s_w2
    return w.agg(
        F.count("*").alias("docs"),
        s_w.alias("total_weight"),
        F.round(ess, 6).alias("effective_sample_size"),
        F.round(ess / F.count("*"), 6).alias("efficiency"),
    )


@register(
    "l95_curriculum_phases",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             NTILE(4) OVER (ORDER BY n_chars, doc_id) AS phase
      FROM documents
    ),
    agg AS (
      SELECT phase, source, COUNT(*) AS n_docs,
             SUM(n_chars) AS chars_sum
      FROM ranked GROUP BY phase, source
    )
    SELECT phase, source, n_docs, chars_sum,
           n_docs * 1000000 // SUM(n_docs) OVER (PARTITION BY phase)
             AS share_ppm
    FROM agg ORDER BY phase, source
    """,
    tags=("L7", "EXT", "curation", "curriculum"),
)
def l95_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum construction — the easy→hard training schedule
    (Bengio et al., ICML'09; used by most staged pretraining recipes):
    documents order by difficulty (length here; swap in any scalar
    score) and cut into 4 equal phases with NTILE, then each phase's
    SOURCE MIX is audited in ppm — the number a curriculum designer
    watches, because naive difficulty sorting silently front-loads
    whichever source writes short documents. Fully deterministic
    ((difficulty, doc_id) total order; both engines give NTILE's extra
    rows to the earliest buckets; integer ppm shares). Scale shape:
    the global NTILE is the one inherently serial cut — at 100 TB
    replace it with rank-by-quantile against the a14 percentile sketch
    and everything downstream (the per-phase mix audit, one grouped
    aggregate) is unchanged."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    ranked = docs.withColumn(
        "phase", F.ntile(4).over(Window.orderBy("n_chars", "doc_id"))
    )
    agg = ranked.groupBy("phase", "source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("chars_sum")
    )
    return agg.select(
        "phase",
        "source",
        "n_docs",
        "chars_sum",
        F.expr(
            "n_docs * 1000000 DIV SUM(n_docs) OVER (PARTITION BY phase)"
        ).alias("share_ppm"),
    ).orderBy("phase", "source")


NEG_BATCHES = 8  # training micro-batches (hash-assigned)
NEG_K = 3  # shared negatives per batch
NEG_ANCHOR_MOD = 10  # doc_id % this == 0 → anchor


@register(
    "l99_inbatch_negatives",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % {NEG_BATCHES} AS batch,
             doc_id % {NEG_ANCHOR_MOD} = 0 AS is_anchor
      FROM documents
    ),
    negs AS (
      SELECT batch, doc_id AS neg_doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY batch
               ORDER BY ('0x' || substr(md5('n' || CAST(doc_id AS VARCHAR)),
                                        1, 15))::BIGINT,
                        doc_id
             ) AS neg_rank
      FROM docs WHERE NOT is_anchor
    )
    SELECT a.doc_id AS anchor_doc_id, a.batch,
           CAST(n.neg_rank AS BIGINT) AS neg_rank, n.neg_doc_id
    FROM docs a JOIN negs n USING (batch)
    WHERE a.is_anchor AND n.neg_rank <= {NEG_K}
    ORDER BY anchor_doc_id, neg_rank
    """,
    tags=("EXT", "W8", "training"),
)
def l99_inbatch_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-batch negative sampling for contrastive training: docs are
    hash-assigned to micro-batches (portable md5-affine idiom, same
    family as l2b_portable/a16b), and every anchor in a batch shares
    the batch's K pseudo-random negatives — the standard in-batch
    scheme (each batch's negatives are computed ONCE and reused by all
    its anchors), reproducible bit-for-bit across engines and runs.
    Plan shape at 100 TB: one hash projection, one per-batch window
    bounded at K rows (WindowGroupLimit), one equi-join on batch id —
    no anchor×corpus cross join anywhere; negatives-per-anchor stays
    O(K) regardless of corpus size."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    docs = d.select(
        "doc_id",
        (md5_hash60(F.col("doc_id").cast("string")) % NEG_BATCHES).alias(
            "batch"
        ),
        (F.col("doc_id") % NEG_ANCHOR_MOD == 0).alias("is_anchor"),
    )
    order_h = md5_hash60(F.concat(F.lit("n"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("batch").orderBy(order_h, "doc_id")
    negs = (
        docs.filter(~F.col("is_anchor"))
        .withColumn("neg_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("neg_rank") <= NEG_K)
        .select("batch", F.col("doc_id").alias("neg_doc_id"), "neg_rank")
    )
    return (
        docs.filter("is_anchor")
        .join(F.broadcast(negs), "batch")
        .select(
            F.col("doc_id").alias("anchor_doc_id"),
            "batch",
            "neg_rank",
            "neg_doc_id",
        )
        .orderBy("anchor_doc_id", "neg_rank")
    )


@register(
    "l100_padding_waste",
    oracle="""
    WITH toks AS (
      SELECT source, doc_id,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS tok
      FROM documents
    ),
    batched AS (
      SELECT source, tok,
             (ROW_NUMBER() OVER (
                PARTITION BY source ORDER BY doc_id) - 1) // 32
               AS batch_arrival,
             (ROW_NUMBER() OVER (
                PARTITION BY source ORDER BY tok DESC, doc_id) - 1) // 32
               AS batch_sorted
      FROM toks
    ),
    wa AS (
      SELECT source, SUM(pad) AS waste_arrival
      FROM (
        SELECT source, COUNT(*) * MAX(tok) - SUM(tok) AS pad
        FROM batched GROUP BY source, batch_arrival
      ) GROUP BY source
    ),
    ws AS (
      SELECT source, SUM(pad) AS waste_sorted
      FROM (
        SELECT source, COUNT(*) * MAX(tok) - SUM(tok) AS pad
        FROM batched GROUP BY source, batch_sorted
      ) GROUP BY source
    ),
    tot AS (
      SELECT source, COUNT(*) AS n_docs, SUM(tok) AS tokens_total
      FROM toks GROUP BY source
    )
    SELECT t.source,
           t.n_docs,
           CAST(t.tokens_total AS BIGINT) AS tokens_total,
           CAST(wa.waste_arrival AS BIGINT) AS waste_arrival,
           CAST(ws.waste_sorted AS BIGINT) AS waste_sorted,
           CAST(CASE WHEN wa.waste_arrival <= 0 THEN 0
                WHEN ws.waste_sorted <= wa.waste_arrival
                THEN 1000000 * (wa.waste_arrival - ws.waste_sorted)
                     // wa.waste_arrival
                ELSE -(1000000 * (ws.waste_sorted - wa.waste_arrival)
                       // wa.waste_arrival)
                END AS BIGINT) AS saving_ppm
    FROM tot t JOIN wa USING (source) JOIN ws USING (source)
    """,
    tags=("EXT", "W1", "training"),
)
def l100_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-batching padding audit — the token bill a trainer pays
    for batch shape.  Fixed-size batches of 32 docs are formed two
    ways per source: ARRIVAL order (doc_id) and LENGTH-SORTED order
    (the standard dynamic-batching trick); each batch pads every doc
    to the batch max, so its waste is ``count·max(tok) − Σtok``, and
    the per-source saving of sorting over arrival order is reported in
    exact ppm.  Plan: one exchange on source serves BOTH row_number
    windows (same partition key, two sort orders), the per-batch and
    per-source aggregates reuse that partitioning, and the final
    three-way join is over the ~25-row source relation.  All integer
    arithmetic end-to-end — no float in the metric.  At 100 TB the
    shape holds: everything keys on source; a skewed giant source
    salts the window by a doc_id prefix the same way z1/z2 do."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("tok"),
    )
    wA = Window.partitionBy("source").orderBy("doc_id")
    wS = Window.partitionBy("source").orderBy(F.desc("tok"), "doc_id")
    batched = d.select(
        "source",
        "tok",
        ((F.row_number().over(wA) - 1) / 32).cast("long").alias("ba"),
        ((F.row_number().over(wS) - 1) / 32).cast("long").alias("bs"),
    )

    def _waste(frame: DataFrame, batch_col: str, out: str) -> DataFrame:
        return (
            frame.groupBy("source", batch_col)
            .agg(
                (F.count("*") * F.max("tok") - F.sum("tok")).alias("pad")
            )
            .groupBy("source")
            .agg(F.sum("pad").cast("long").alias(out))
        )

    tot = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("tok").cast("long").alias("tokens_total"),
    )
    wa = _waste(batched, "ba", "waste_arrival")
    ws = _waste(batched, "bs", "waste_sorted")
    return (
        tot.join(wa, "source")
        .join(ws, "source")
        .select(
            "source",
            "n_docs",
            "tokens_total",
            "waste_arrival",
            "waste_sorted",
            # sign-magnitude integer division: floor (DuckDB //) and
            # truncate (Spark DIV) agree on non-negative operands, so
            # a sorted-batching regression (negative saving) can never
            # skew the two engines by one ppm
            F.when(F.col("waste_arrival") <= 0, F.lit(0))
            .when(
                F.col("waste_sorted") <= F.col("waste_arrival"),
                F.expr(
                    "1000000L * (waste_arrival - waste_sorted)"
                    " DIV waste_arrival"
                ),
            )
            .otherwise(
                -F.expr(
                    "1000000L * (waste_sorted - waste_arrival)"
                    " DIV waste_arrival"
                )
            )
            .cast("long")
            .alias("saving_ppm"),
        )
    )


# ---- l104: graded contamination report -------------------------------

CONTAM_PARTIAL_PPM = 200_000  # <20% dirty shingles = "partial"


@register(
    "l104_contamination_report",
    oracle=f"""
    WITH sh AS ({_gram_sql(DECON_N)}),
    eval_sh AS (
      SELECT DISTINCT gram FROM sh WHERE source IN {EVAL_SOURCES!r}
    ),
    per_doc AS (
      SELECT s.doc_id,
             COUNT(*) AS n_grams,
             SUM(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END) AS dirty
      FROM sh s LEFT JOIN eval_sh e USING (gram)
      WHERE s.source NOT IN {EVAL_SOURCES!r}
      GROUP BY s.doc_id
    ),
    graded AS (
      SELECT d.source,
             COALESCE(p.dirty * 1000000 // p.n_grams, 0) AS dirty_ppm
      FROM documents d LEFT JOIN per_doc p USING (doc_id)
      WHERE d.source NOT IN {EVAL_SOURCES!r}
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN dirty_ppm = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clean,
           CAST(SUM(CASE WHEN dirty_ppm > 0
                     AND dirty_ppm < {CONTAM_PARTIAL_PPM}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_partial,
           CAST(SUM(CASE WHEN dirty_ppm >= {CONTAM_PARTIAL_PPM}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_dirty,
           CAST(SUM(dirty_ppm) // COUNT(*) AS BIGINT) AS mean_dirty_ppm
    FROM graded GROUP BY source ORDER BY source
    """,
    tags=("L1", "J6", "decontamination", "EXT"),
)
def l104_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRADED benchmark-contamination report (the GPT-3 appendix-C
    methodology): where l24 makes the binary keep/drop call, this
    measures HOW contaminated each training document is — the fraction
    of its word 5-grams that appear in the held-out sources — and
    rolls severity counts up per source (clean / partial < 20% /
    dirty >= 20%), the artifact a data audit actually publishes before
    deciding drop thresholds.

    Plan shape is l24's with the semi-join upgraded to a counting left
    join: the eval-source gram dictionary is small by nature so it
    BROADCASTS; training grams probe it map-side and collapse to one
    row per doc; docs too short to have any 5-gram join back as clean.
    Everything integer (trunc-division ppm), so parity is exact. At
    100 TB: one broadcast probe + two partial-agg shuffles (doc, then
    source) — the corpus text never shuffles."""
    d = load_table(spark, sf_dir, "documents")
    train = d.filter(~F.col("source").isin(*EVAL_SOURCES))
    sh = word_ngrams(d, DECON_N, "doc_id", "source")
    eval_grams = (
        sh.filter(F.col("source").isin(*EVAL_SOURCES)).select("gram").distinct()
    )
    per_doc = (
        sh.filter(~F.col("source").isin(*EVAL_SOURCES))
        .join(
            F.broadcast(eval_grams.withColumn("hit", F.lit(1))),
            "gram",
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("dirty"),
        )
    )
    graded = train.join(per_doc, "doc_id", "left").select(
        "source",
        F.coalesce(
            F.expr("dirty * 1000000 div n_grams"), F.lit(0)
        ).alias("dirty_ppm"),
    )
    return (
        graded.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("dirty_ppm") == 0, 1).otherwise(0)).alias(
                "n_clean"
            ),
            F.sum(
                F.when(
                    (F.col("dirty_ppm") > 0)
                    & (F.col("dirty_ppm") < CONTAM_PARTIAL_PPM),
                    1,
                ).otherwise(0)
            ).alias("n_partial"),
            F.sum(
                F.when(F.col("dirty_ppm") >= CONTAM_PARTIAL_PPM, 1).otherwise(0)
            ).alias("n_dirty"),
            F.expr("sum(dirty_ppm) div count(*)").alias("mean_dirty_ppm"),
        )
        .orderBy("source")
    )


# ---- l106: SoftDeDup — reweight duplicates instead of dropping -------


@register(
    "l106_softdedup_weights",
    oracle="""
    WITH docs AS (
      SELECT doc_id, source, md5(text) AS fp,
             len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS n_words
      FROM documents
    ),
    mult AS (SELECT fp, COUNT(*) AS n FROM docs GROUP BY fp),
    weighted AS (
      SELECT d.source, d.n_words, 1000000 // m.n AS weight_ppm
      FROM docs d JOIN mult m USING (fp)
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS raw_tokens,
           CAST(SUM(n_words * weight_ppm) AS BIGINT)
             AS effective_tokens_e6,
           CAST(1000000 - SUM(n_words * weight_ppm)
                // GREATEST(SUM(n_words), 1) AS BIGINT) AS discount_ppm
    FROM weighted GROUP BY source ORDER BY source
    """,
    tags=("L1", "A2", "EXT", "training-prep"),
)
def l106_softdedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup — reweight duplicates instead of deleting them: each
    document in an exact-duplicate cluster of size n keeps sampling
    weight 1/n, so the cluster contributes exactly one document's
    worth of gradient signal while every copy stays available (the
    soft deduplication studied as an alternative to hard dedup, e.g.
    SlimPajama ablations / "softdedup" loss reweighting).  The output
    is the per-source token budget ledger: raw tokens, EFFECTIVE
    tokens after 1/n weighting (1e-6 units, exact integers), and the
    dedup discount in ppm — the number a mixture planner (l31/l88)
    consumes instead of a post-hard-dedup recount.

    Scale shape: fingerprint groupBy on a 16-byte md5 key (l1's
    shuffle), multiplicity joins back on the same key — two narrow
    shuffles and a per-source rollup; no text ever moves twice."""
    d = load_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        "source",
        F.md5("text").alias("fp"),
        F.size(
            F.filter(F.split("text", " "), lambda w: w != "")
        ).alias("n_words"),
    )
    mult = docs.groupBy("fp").agg(F.count("*").alias("n"))
    weighted = docs.join(mult, "fp").select(
        "source",
        "n_words",
        F.expr("1000000 div n").alias("weight_ppm"),
    )
    return (
        weighted.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("raw_tokens"),
            F.sum(F.col("n_words") * F.col("weight_ppm")).alias(
                "effective_tokens_e6"
            ),
        )
        .select(
            "source",
            "n_docs",
            "raw_tokens",
            "effective_tokens_e6",
            (
                F.lit(1000000)
                - F.expr(
                    "effective_tokens_e6 div greatest(raw_tokens, 1)"
                )
            ).cast("long").alias("discount_ppm"),
        )
        .orderBy("source")
    )


# ---- l109: DoReMi-style domain reweighting ---------------------------

DOREMI_ROUNDS = 3


def _doremi_round_sql(r: int, p: str = "") -> str:
    """One unrolled multiplicative-weights round: excess = loss minus
    the current weighted mean, multiplier (1e6 + excess)/1e6, then
    re-normalize to a 1e6 total.  All integer (trunc division on
    non-negative values, so DuckDB // == Spark div).  ``p`` prefixes
    the CTE names so two chains can coexist (l115 runs the recurrence
    on the full corpus AND the deduped corpus in one query)."""
    return f"""
    {p}m{r} AS (
      SELECT SUM(w * loss_ppm) // SUM(w) AS mean_loss FROM {p}w{r - 1}
    ),
    {p}u{r} AS (
      SELECT source, loss_ppm,
             w * (1000000 + (loss_ppm - mean_loss)) // 1000000 AS w
      FROM {p}w{r - 1} CROSS JOIN {p}m{r}
    ),
    {p}t{r} AS (SELECT SUM(w) AS tot FROM {p}u{r}),
    {p}w{r} AS (
      SELECT source, loss_ppm, w * 1000000 // tot AS w
      FROM {p}u{r} CROSS JOIN {p}t{r}
    )"""


@register(
    "l109_doremi_mixture",
    oracle=f"""
    WITH toks AS (
      SELECT source, w AS word
      FROM (SELECT source, unnest(string_split(text, ' ')) AS w
            FROM documents)
      WHERE w <> ''
    ),
    loss AS (
      SELECT source,
             COUNT(DISTINCT word) * 1000000 // COUNT(*) AS loss_ppm
      FROM toks GROUP BY source
    ),
    w0 AS (
      SELECT source, loss_ppm, CAST(1000000 AS BIGINT) AS w FROM loss
    ),
    {",".join(_doremi_round_sql(r) for r in range(1, DOREMI_ROUNDS + 1))}
    SELECT source, CAST(loss_ppm AS BIGINT) AS loss_ppm,
           CAST(w AS BIGINT) AS weight_ppm
    FROM w{DOREMI_ROUNDS} ORDER BY source
    """,
    tags=("L7", "A2", "EXT", "training-prep"),
)
def l109_doremi_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain reweighting by multiplicative updates — the DoReMi
    (Xie et al. 2023) training-mixture loop re-expressed as a query:
    domains whose proxy loss exceeds the mixture-weighted mean gain
    sampling weight each round, below-mean domains lose it, and the
    weights re-normalize — {DOREMI_ROUNDS} unrolled rounds of
    exponentiated-gradient ascent in its linearized (integer) form.
    The loss proxy here is lexical diversity (type/token ratio, the
    predictability signal available without a reference model); a
    per-domain LM loss column slots into the same recurrence.

    Scale shape: ONE corpus-sized aggregation produces the per-domain
    loss table; every update round then runs on the domain relation
    (tens of rows — the 1-row mean and total broadcast back, the
    pattern real mixture planners use).  All arithmetic is trunc-
    division integer ppm, so the oracle unrolls to the bit."""
    d = load_table(spark, sf_dir, "documents")
    w = _doremi_weights(d)
    return w.select(
        "source", "loss_ppm", F.col("w").alias("weight_ppm")
    ).orderBy("source")


def _doremi_weights(d: DataFrame) -> DataFrame:
    """The l109 recurrence over an arbitrary documents relation:
    per-source TTR loss proxy, then DOREMI_ROUNDS integer
    multiplicative-weight updates.  Returns (source, loss_ppm, w)."""
    toks = (
        d.select("source", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    loss = toks.groupBy("source").agg(
        F.expr(
            "count(distinct word) * 1000000 div count(*)"
        ).alias("loss_ppm")
    )
    loss = ephemeral_cache(loss)  # domain relation (tens of rows): the
    # update rounds' 1-row aggregates must reuse it, not re-scan the
    # corpus per round
    w = loss.select(
        "source", "loss_ppm", F.lit(1000000).cast("long").alias("w")
    )
    for _ in range(DOREMI_ROUNDS):
        m = w.agg(
            F.expr("sum(w * loss_ppm) div sum(w)").alias("mean_loss")
        )
        u = w.crossJoin(F.broadcast(m)).select(
            "source",
            "loss_ppm",
            F.expr(
                "w * (1000000 + (loss_ppm - mean_loss)) div 1000000"
            ).alias("w"),
        )
        t = u.agg(F.sum("w").alias("tot"))
        w = u.crossJoin(F.broadcast(t)).select(
            "source",
            "loss_ppm",
            F.expr("w * 1000000 div tot").alias("w"),
        )
    return w


# ---- l115: how dedup shifts the training mixture ----------------------

_L115_LOSS = """
      SELECT source,
             COUNT(DISTINCT word) * 1000000 // COUNT(*) AS loss_ppm
      FROM (
        SELECT d.source, w AS word
        FROM ({docs}) d, UNNEST(string_split(d.text, ' ')) AS t(w)
        WHERE w <> ''
      ) GROUP BY source
"""


@register(
    "l115_dedup_mixture_shift",
    oracle=f"""
    WITH floss AS ({_L115_LOSS.format(docs="SELECT * FROM documents")}),
    fw0 AS (
      SELECT source, loss_ppm, CAST(1000000 AS BIGINT) AS w FROM floss
    ),
    {",".join(_doremi_round_sql(r, "f") for r in range(1, DOREMI_ROUNDS + 1))},
    survivors AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    dloss AS ({_L115_LOSS.format(
        docs="SELECT d.* FROM documents d JOIN survivors USING (doc_id)")}),
    dw0 AS (
      SELECT source, loss_ppm, CAST(1000000 AS BIGINT) AS w FROM dloss
    ),
    {",".join(_doremi_round_sql(r, "d") for r in range(1, DOREMI_ROUNDS + 1))}
    SELECT f.source,
           CAST(f.w AS BIGINT) AS weight_full_ppm,
           CAST(d.w AS BIGINT) AS weight_dedup_ppm,
           CAST(d.w - f.w AS BIGINT) AS shift_ppm
    FROM fw{DOREMI_ROUNDS} f JOIN dw{DOREMI_ROUNDS} d USING (source)
    ORDER BY f.source
    """,
    tags=("L1", "L7", "EXT", "training-prep"),
)
def l115_dedup_mixture_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup × mixture INTERACTION every pipeline has to audit:
    exact dedup changes per-source token statistics (duplicate-heavy
    sources lose mass and lexical-diversity proxies move), so mixture
    weights computed BEFORE dedup are stale AFTER it.  This runs the
    l109 multiplicative-weights recurrence twice — once on the full
    corpus, once on the exact-dedup survivors (keep-min per md5, l1's
    rule) — and reports the per-source weight shift, the number that
    tells a planner whether dedup silently re-weighted its mixture.

    Two corpus-sized aggregations (one per arm — the survivor arm's
    join is l1's 16-byte-hash shuffle), then two domain-relation
    recurrences; everything integer, both unrolled chains
    prefix-named so one oracle query verifies both arms and the
    join of their outputs."""
    d = load_table(spark, sf_dir, "documents")
    full = _doremi_weights(d)
    survivors = d.groupBy(F.md5("text")).agg(
        F.min("doc_id").alias("doc_id")
    )
    dedup = _doremi_weights(d.join(survivors.select("doc_id"), "doc_id"))
    f, g = full.alias("f"), dedup.alias("g")
    return (
        f.join(g, F.col("f.source") == F.col("g.source"))
        .select(
            F.col("f.source").alias("source"),
            F.col("f.w").cast("long").alias("weight_full_ppm"),
            F.col("g.w").cast("long").alias("weight_dedup_ppm"),
            (F.col("g.w") - F.col("f.w")).cast("long").alias("shift_ppm"),
        )
        .orderBy("source")
    )
