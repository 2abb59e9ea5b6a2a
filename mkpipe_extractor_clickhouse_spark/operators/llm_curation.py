"""Training-data curation operators: document chunking, corpus
sampling, stratified sampling, text normalization — the remaining
preprocessing stages a pretraining pipeline runs between raw corpus
and tokenizer (alongside dedup/quality/similarity in the sibling
modules).

All chunking/normalization stays in array built-ins (sequence/slice/
array_join) — row-local, no shuffle, codegen'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ._ngrams import md5_hash60

CHUNK_TOKENS = 16
CHUNK_STRIDE = 8  # 50% overlap


@register(
    "l15_doc_chunking",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS toks,
             LEN(STRING_SPLIT(text, ' ')) AS n
      FROM documents
    )
    SELECT doc_id,
           CAST((start - 1) / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           ARRAY_TO_STRING(toks[start : LEAST(start + {CHUNK_TOKENS} - 1, n)], ' ')
             AS chunk_text,
           CAST(LEAST(start + {CHUNK_TOKENS} - 1, n) - start + 1 AS BIGINT)
             AS chunk_len
    FROM tok CROSS JOIN LATERAL (
      SELECT UNNEST(RANGE(1, n + 1, {CHUNK_STRIDE})) AS start
    ) s
    WHERE start = 1 OR start + {CHUNK_TOKENS} - 1 <= n + {CHUNK_STRIDE} - 1
    """,
    tags=("EXT", "chunking"),
)
def l15_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (16-token chunks, stride 8 —
    50% overlap), the context-window prep step for LLM training.
    Pure array ops: sequence of starts → slice → join."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    chunks = d.select(
        "doc_id",
        toks.alias("toks"),
        F.size(toks).alias("n"),
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(CHUNK_STRIDE))
        ).alias("start"),
    )
    chunk_end = F.least(F.col("start") + CHUNK_TOKENS - 1, F.col("n"))
    return (
        chunks.filter(
            (F.col("start") == 1)
            | (F.col("start") + CHUNK_TOKENS - 1 <= F.col("n") + CHUNK_STRIDE - 1)
        )
        .select(
            "doc_id",
            ((F.col("start") - 1) / CHUNK_STRIDE).cast("long").alias("chunk_id"),
            F.array_join(
                F.slice("toks", F.col("start"), chunk_end - F.col("start") + 1), " "
            ).alias("chunk_text"),
            (chunk_end - F.col("start") + 1).cast("long").alias("chunk_len"),
        )
    )


@register(
    "l16_stratified_sample",
    oracle=None,  # sampling is seed/partitioning-dependent → rows-only;
    # per-stratum proportions asserted in tests/test_llm.py
    tags=("EXT", "sampling"),
)
def l16_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus sampling (sampleBy): downsample the dominant
    language, keep the tail — the data-mixing step of corpus curation.
    Returns per-language kept-counts (the mixing report)."""
    d = load_table(spark, sf_dir, "documents")
    fractions = {"en": 0.5, "es": 1.0, "de": 1.0, "fr": 1.0, "zh": 1.0}
    sampled = d.sampleBy("lang", fractions, seed=42)
    return (
        sampled.groupBy("lang")
        .agg(F.count("*").alias("n_kept"))
        .orderBy("lang")
    )


@register(
    "l17_text_normalize",
    oracle="""
    SELECT doc_id,
           ARRAY_TO_STRING(
             LIST_FILTER(STRING_SPLIT(LOWER(TRIM(text)), ' '),
                         t -> NOT t IN ('the', 'a') AND t <> ''),
             ' ') AS normalized,
           CAST(LEN(LIST_FILTER(STRING_SPLIT(LOWER(TRIM(text)), ' '),
                                t -> NOT t IN ('the', 'a') AND t <> '')) AS BIGINT)
             AS n_kept_tokens
    FROM documents
    """,
    tags=("EXT", "normalize"),
)
def l17_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization: lowercase, trim, drop stopwords/empties —
    row-local filter-transform over the token array."""
    d = load_table(spark, sf_dir, "documents")
    kept = F.filter(
        F.split(F.lower(F.trim("text")), " "),
        lambda t: ~t.isin("the", "a") & (t != ""),
    )
    return d.select(
        "doc_id",
        F.array_join(kept, " ").alias("normalized"),
        F.size(kept).cast("long").alias("n_kept_tokens"),
    )


@register(
    "a14_approx_percentile",
    oracle=None,  # sketch-based → rows-only (exact a9 is the oracle twin)
    tags=("A9", "A4"),
)
def a14_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (ClickHouse quantileTDigest analogue):
    percentile_approx's mergeable sketch — the 100 TB path where exact
    percentiles would need a full sort; accuracy vs a9 asserted in
    tests/test_llm.py.  Full-oracle portable twin:
    a14b_quantile_deterministic below."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.9, 1000).alias("p90_approx"),
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("p50_approx"),
    )


QDET_MOD = 16  # deterministic-sample modulus (~6.25% of rows kept)


@register(
    "a14b_quantile_deterministic",
    oracle=f"""
    WITH samp AS (
      SELECT l_returnflag, l_extendedprice
      FROM lineitem
      WHERE ('0x' || substr(md5(CAST(l_orderkey * 10 + l_linenumber
                                     AS VARCHAR)), 1, 15))::BIGINT
            % {QDET_MOD} = 0
    )
    SELECT l_returnflag,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.90), 6) AS p90_det,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.50), 6) AS p50_det,
           COUNT(*) AS n_sample
    FROM samp GROUP BY l_returnflag
    """,
    tags=("A9", "A4", "EXT", "sketch"),
)
def a14b_quantile_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-oracle portable twin of a14 (the a16b/l2b pattern):
    ClickHouse ``quantileDeterministic(value, determinator)`` —
    approximate percentiles from a hash-DETERMINED row sample instead
    of an implementation-defined sketch.  The determinator is the
    unique row key (l_orderkey·10 + l_linenumber); rows whose portable
    md5 hash ≡ 0 (mod {QDET_MOD}) survive, and the exact interpolated
    percentile runs over that ~1/{QDET_MOD} subset.  Same map-side
    shape as percentile_approx at 100 TB — the sample filter is
    pushed to the scan and the sort is over n/{QDET_MOD} rows — but
    every engine computing the same hash keeps the SAME rows, so the
    estimate hash-matches DuckDB instead of settling for rows-only."""
    li = load_table(spark, sf_dir, "lineitem")
    key = (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("string")
    h = md5_hash60(key)
    samp = li.filter(h % QDET_MOD == 0)
    return samp.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.90)), 6).alias(
            "p90_det"
        ),
        F.round(F.percentile("l_extendedprice", F.lit(0.50)), 6).alias(
            "p50_det"
        ),
        F.count("*").alias("n_sample"),
    )


from ._determinism import DAVG  # noqa: E402
from .llm_dedup import JACCARD_T as _T  # noqa: E402
from .llm_text import _STOP_IN  # noqa: E402

_L22_CTES = f"""
WITH scored AS (
  SELECT doc_id, lang, text,
         LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
         LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) * 1.0
           / LEN(STRING_SPLIT(text, ' ')) AS ttr,
         LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t IN ({_STOP_IN}))) * 1.0
           / LEN(STRING_SPLIT(text, ' ')) AS stop_ratio
  FROM documents
),
gated AS (
  SELECT * FROM scored
  WHERE stop_ratio >= 0.05 AND n_tokens BETWEEN 10 AND 200 AND ttr > 0.3
),
canonical AS (
  SELECT * FROM gated
  WHERE doc_id IN (SELECT MIN(doc_id) FROM gated GROUP BY MD5(text))
),
tok AS (
  SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS token
  FROM canonical
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS overlap
  FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
neardup AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM pairs
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE overlap * 1.0 / (sa.n + sb.n - overlap) >= {_T}
),
final AS (
  SELECT * FROM canonical WHERE doc_id NOT IN (SELECT doc_id FROM neardup)
)
"""

_L22_ORACLE = (
    _L22_CTES
    + f"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       {DAVG.format(x='ROUND(ttr, 6)')} AS avg_ttr
FROM final GROUP BY lang ORDER BY lang
"""
)


@register(
    "l22_curation_pipeline",
    oracle=_L22_ORACLE,
    tags=("EXT", "pipeline", "L1", "L2"),
)
def l22_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus curation run a pretraining user executes:

      language gate (l10) → quality gate (l11) → exact dedup keeping
      the canonical copy (l1) → near-dup prune dropping the larger
      doc of every Jaccard≥t pair (l2's PPJoin) → per-language corpus
      report (docs, whitespace tokens, mean type-token ratio).

    Composition is the point: every stage is the declared operator's
    own plan — the gates are row-local codegen, exact dedup shuffles a
    16-byte hash, the near-dup join is prefix-filtered over survivors
    only, and the report aggregates a handful of rows. Nothing in the
    chain materializes to the driver, so the pipeline runs unchanged
    on the full corpus."""
    from .llm_dedup import JACCARD_T, ppjoin_pairs
    from .llm_text import EN_STOPWORDS
    from ._determinism import davg

    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    ttr = F.size(F.array_distinct(toks)) * F.lit(1.0) / n_tok
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
        * F.lit(1.0)
        / n_tok
    )
    scored = d.select(
        "doc_id", "lang", "text",
        n_tok.cast("long").alias("n_tokens"),
        ttr.alias("ttr"),
        stop_ratio.alias("stop_ratio"),
    )
    gated = scored.filter(
        (F.col("stop_ratio") >= 0.05)
        & F.col("n_tokens").between(10, 200)
        & (F.col("ttr") > 0.3)
    )
    canonical_ids = gated.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    canonical = gated.join(
        canonical_ids.select("doc_id"), "doc_id", "left_semi"
    )
    tok = canonical.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("token"),
    )
    drop = (
        ppjoin_pairs(tok, JACCARD_T)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    final = canonical.join(drop, "doc_id", "left_anti")
    return (
        final.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            davg(F.round("ttr", 6)).alias("avg_ttr"),
        )
        .orderBy("lang")
    )




@register(
    "l38_balanced_cluster_sample",
    oracle="""
    SELECT label, vec_id, rk
    FROM (
      SELECT label, vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY label
               ORDER BY (vec_id * 2654435761) % 4294967296, vec_id) AS rk
      FROM embeddings
    ) WHERE rk <= 20
    """,
    tags=("L9", "W8", "EXT"),
)
def l38_balanced_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-balanced subset selection: exactly ≤20 vectors per
    cluster/label, chosen by a deterministic key-hash order — the
    "equal representation per cluster" sampling step of embedding-based
    curation (the companion to l32's SemDeDup removal: after near-dups
    go, balance what remains).  The hash order makes the pick
    reproducible across runs and engines with no stored random column
    (same Knuth-multiplicative arithmetic as ch_sample_key).  One hash
    exchange on label + per-partition top-k — w8's scalable shape, no
    global sort."""
    e = load_table(spark, sf_dir, "embeddings")
    h = F.pmod(F.col("vec_id") * F.lit(2654435761), F.lit(1 << 32))
    w = Window.partitionBy("label").orderBy(h, "vec_id")
    return (
        e.select("label", "vec_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
    )


# PII patterns kept deliberately RE2-compatible (DuckDB) AND java.util
# .regex-compatible (Spark): no backrefs, no lookaround.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+1-555-[0-9]{4}"


@register(
    "l41_pii_redact",
    oracle=f"""
    WITH synth AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or call +1-555-'
                  || LPAD(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
               AS text
      FROM documents
    )
    SELECT doc_id,
           REGEXP_REPLACE(
             REGEXP_REPLACE(text, '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
             '{PII_PHONE_RE}', '[PHONE]', 'g') AS redacted,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '{PII_EMAIL_RE}')) AS BIGINT)
             AS n_emails,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '{PII_PHONE_RE}')) AS BIGINT)
             AS n_phones
    FROM synth
    """,
    tags=("F1", "EXT", "pii"),
)
def l41_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the compliance pass every training-data
    pipeline runs before tokenization: redact email addresses and
    phone numbers, count what was removed (the audit metric). The
    fixture text carries no PII, so deterministic synthetic contact
    strings are injected first and then redacted — the operator is
    exercised on real matches, not vacuous zero-counts.

    Pure row-local regexp built-ins (JVM codegen, no UDF, no
    shuffle) — at 100 TB this is a map-only stage that fuses into
    whatever scan precedes it. Patterns are restricted to the
    RE2 ∩ java.util.regex common subset so engine and oracle agree."""
    d = load_table(spark, sf_dir, "documents")
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call +1-555-"),
        F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
    )
    t = d.select("doc_id", synth.alias("text"))
    return t.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", PII_EMAIL_RE, "[EMAIL]"),
            PII_PHONE_RE,
            "[PHONE]",
        ).alias("redacted"),
        F.regexp_count("text", F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count("text", F.lit(PII_PHONE_RE)).cast("long").alias("n_phones"),
    )


# Per-language keep fractions, in parts-per-1024 for exact integer
# comparison (Knuth multiplicative hash over doc_id — identical pure
# integer arithmetic in Spark and DuckDB, no RNG, no partition
# dependence).
SAMPLE_PPK = {"en": 512, "es": 1024, "de": 1024, "fr": 1024, "zh": 1024}
_KNUTH = 2654435761  # 2^32 / golden ratio


def _sample_case_sql() -> str:
    whens = " ".join(
        f"WHEN lang = '{k}' THEN {v}" for k, v in SAMPLE_PPK.items()
    )
    return f"CASE {whens} ELSE 1024 END"


@register(
    "l16b_reproducible_sample",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE (doc_id * {_KNUTH}) % 4294967296 % 1024 < {_sample_case_sql()}
    """,
    tags=("EXT", "sampling"),
)
def l16b_reproducible_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible stratified sampling — the deterministic sibling of
    l16's sampleBy: membership is a pure function of doc_id (Knuth
    multiplicative hash to a 10-bit lane, compared against the
    stratum's parts-per-1024 keep rate), so the SAME corpus subset
    falls out on any engine, partitioning, or retry — the property a
    resumable training-data pipeline actually needs from its sampler
    (seed-based Bernoulli sampling is partition-order-dependent and
    cannot be oracle-checked; this can, and is). Map-only, no shuffle;
    scales as a pushed-down filter."""
    d = load_table(spark, sf_dir, "documents")
    ppk = F.lit(1024)
    for k, v in SAMPLE_PPK.items():
        ppk = F.when(F.col("lang") == k, F.lit(v)).otherwise(ppk)
    lane = (F.col("doc_id") * _KNUTH) % 4294967296 % 1024
    return d.filter(lane < ppk).select("doc_id", "lang")


def curation_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The l22 pipeline's survivor set (doc_id, lang, n_tokens) —
    shared by the l22 report and the x26 manifest publication."""
    from ._determinism import davg  # noqa: F401  (kept for parity)
    from .llm_dedup import JACCARD_T, ppjoin_pairs
    from .llm_text import EN_STOPWORDS

    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    ttr = F.size(F.array_distinct(toks)) * F.lit(1.0) / n_tok
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
        * F.lit(1.0)
        / n_tok
    )
    scored = d.select(
        "doc_id", "lang", "text", n_tok.cast("long").alias("n_tokens"),
        ttr.alias("ttr"), stop_ratio.alias("stop_ratio"),
    )
    gated = scored.filter(
        (F.col("stop_ratio") >= 0.05)
        & F.col("n_tokens").between(10, 200)
        & (F.col("ttr") > 0.3)
    )
    canonical_ids = gated.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    canonical = gated.join(
        canonical_ids.select("doc_id"), "doc_id", "left_semi"
    )
    tok = canonical.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("token"),
    )
    drop = (
        ppjoin_pairs(tok, JACCARD_T)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    return canonical.join(drop, "doc_id", "left_anti").select(
        "doc_id", "lang", "n_tokens"
    )


X26_LO, X26_HI = 100, 300


@register(
    "x26_curated_manifest",
    oracle=_L22_CTES
    + f"""
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens
    FROM final WHERE doc_id BETWEEN {X26_LO} AND {X26_HI}
    ORDER BY doc_id
    """,
    tags=("EXT", "pipeline", "S7", "pruning", "L1", "L2"),
)
def x26_curated_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone composition: the l22 curation pipeline's survivors
    PUBLISHED to a manifest table (atomic snapshot, zone maps on
    doc_id) and read back through metadata pruning for a doc_id range
    — corpus curation and the lakehouse layer as ONE flow, which is
    what a production pretraining-data pipeline actually ships. Four
    survivor batches land by doc_id buckets so the range read can
    skip whole batch dirs; the hash-match against the pure-SQL
    survivor set proves the curation → commit → pruned-read chain is
    lossless end to end."""
    import atexit
    import os
    import shutil
    import tempfile

    from ..sources.manifest import ManifestedTable

    workdir = tempfile.mkdtemp(prefix="x26_cur_")
    atexit.register(shutil.rmtree, workdir, ignore_errors=True)
    # stage the survivor set once — the curation chain (gates + PPJoin)
    # must not re-execute per bucketed append
    stage = os.path.join(workdir, "survivors.parquet")
    curation_survivors(spark, sf_dir).write.mode("overwrite").parquet(stage)
    surv = spark.read.parquet(stage)
    t = ManifestedTable(
        os.path.join(workdir, "curated"), stats_cols=("doc_id",)
    )
    mx = surv.agg(F.max("doc_id")).first()[0]
    step = max(mx // 4, 1)
    bounds = [0, step, 2 * step, 3 * step, mx + 1]
    for lo, hi in zip(bounds, bounds[1:]):
        batch = surv.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        )
        t.commit_append(batch)
    back = t.read_pruned(spark, "doc_id", X26_LO, X26_HI)
    return back.select(
        "doc_id", "lang", F.col("n_tokens").cast("long").alias("n_tokens")
    ).orderBy("doc_id")


@register(
    "l90_curation_waterfall",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source, text,
             LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
             LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) * 1.0
               / LEN(STRING_SPLIT(text, ' ')) AS ttr,
             LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                 t -> t IN ({_STOP_IN}))) * 1.0
               / LEN(STRING_SPLIT(text, ' ')) AS stop_ratio
      FROM documents
    ),
    gated AS (
      SELECT * FROM scored
      WHERE stop_ratio >= 0.05 AND n_tokens BETWEEN 10 AND 200
        AND ttr > 0.3
    ),
    canonical AS (
      SELECT * FROM gated
      WHERE doc_id IN (SELECT MIN(doc_id) FROM gated GROUP BY MD5(text))
    ),
    tok AS (
      SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS token
      FROM canonical
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS overlap
      FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    neardup AS (
      SELECT DISTINCT doc_b AS doc_id
      FROM pairs
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE overlap * 1.0 / (sa.n + sb.n - overlap) >= {_T}
    )
    SELECT s.source,
           COUNT(*) AS n_total,
           COUNT(g.doc_id) AS after_quality_gate,
           COUNT(c.doc_id) AS after_exact_dedup,
           COUNT(CASE WHEN c.doc_id IS NOT NULL
                       AND nd.doc_id IS NULL THEN 1 END) AS after_near_dedup
    FROM scored s
    LEFT JOIN gated g ON s.doc_id = g.doc_id
    LEFT JOIN canonical c ON s.doc_id = c.doc_id
    LEFT JOIN neardup nd ON s.doc_id = nd.doc_id
    GROUP BY s.source ORDER BY s.source
    """,
    tags=("EXT", "pipeline", "L1", "L2", "dq"),
)
def l90_curation_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation waterfall — per-source survivor counts after EACH gate
    of the l22 pipeline (quality gate → exact dedup → near-dup prune):
    the observability report that says WHERE a source's mass dies,
    which is the first question when a mixture (l27/l88) comes up
    short. Stage memberships are flags joined back to the full corpus
    (left-semi shapes), so the report reconciles: every count is a
    prefix of the one before it. Same PPJoin machinery as l22 — one
    extra aggregation, no recomputation of pair logic."""
    from .llm_dedup import JACCARD_T, ppjoin_pairs
    from .llm_text import EN_STOPWORDS

    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    ttr = F.size(F.array_distinct(toks)) * F.lit(1.0) / n_tok
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
        * F.lit(1.0)
        / n_tok
    )
    scored = d.select(
        "doc_id", "source", "text",
        n_tok.cast("long").alias("n_tokens"),
        ttr.alias("ttr"), stop_ratio.alias("stop_ratio"),
    )
    gated = scored.filter(
        (F.col("stop_ratio") >= 0.05)
        & F.col("n_tokens").between(10, 200)
        & (F.col("ttr") > 0.3)
    )
    canonical_ids = gated.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    canonical = gated.join(
        canonical_ids.select("doc_id"), "doc_id", "left_semi"
    )
    tok = canonical.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("token"),
    )
    neardup = (
        ppjoin_pairs(tok, JACCARD_T)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    flag = lambda df, name: df.select("doc_id").withColumn(  # noqa: E731
        name, F.lit(1)
    )
    j = (
        scored.select("doc_id", "source")
        .join(flag(gated, "g"), "doc_id", "left")
        .join(flag(canonical, "c"), "doc_id", "left")
        .join(flag(neardup, "nd"), "doc_id", "left")
    )
    return (
        j.groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.count("g").alias("after_quality_gate"),
            F.count("c").alias("after_exact_dedup"),
            F.count(
                F.when(F.col("c").isNotNull() & F.col("nd").isNull(), 1)
            ).alias("after_near_dedup"),
        )
        .orderBy("source")
    )


# ---- l105: hashed linear quality classifier (fasttext-style apply) ---

CLF_BUCKETS = 64  # hashing-trick feature space
CLF_BIAS_Q = -250_000  # bias, quantized at 1e-6 (score units)


# Deterministic stand-in for trained weights: a Knuth-hash spread of
# the bucket id into [-0.5, 0.5), quantized at 1e-6.  Both engines
# derive it from the same integer arithmetic, so the "model" is
# bit-identical without shipping a weights file.
def _clf_weight_q_sql(bucket: str) -> str:
    return f"(({bucket} * 2654435761) % 1000000) - 500000"


_CLF_BUCKET_SQL = (
    f"CAST(('0x' || substr(md5(word), 1, 8))::BIGINT % {CLF_BUCKETS}"
    " AS BIGINT)"
)


@register(
    "l105_quality_classifier",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, w AS word
      FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
            FROM documents)
      WHERE w <> ''
    ),
    feat AS (
      SELECT doc_id, source, {_CLF_BUCKET_SQL} AS bucket
      FROM toks
    ),
    scored AS (
      SELECT doc_id, source,
             {CLF_BIAS_Q} + SUM({_clf_weight_q_sql("bucket")}) AS score_q
      FROM feat GROUP BY doc_id, source
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN score_q > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keep,
           CAST(SUM(score_q) // COUNT(*) AS BIGINT) AS mean_score_q,
           CAST(MIN(score_q) AS BIGINT) AS min_score_q,
           CAST(MAX(score_q) AS BIGINT) AS max_score_q
    FROM scored GROUP BY source ORDER BY source
    """,
    tags=("L8", "A2", "EXT", "quality"),
)
def l105_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier INFERENCE at corpus scale — the
    fasttext-style keep/drop model every modern curation pipeline runs
    (CCNet, FineWeb-Edu, Llama's quality filters): hashing-trick
    featurization (token -> md5-derived bucket in a {CLF_BUCKETS}-wide
    feature space), a sparse dot product against the weight vector,
    bias, and a sign-threshold keep decision, rolled up per source.

    The weight vector is a deterministic integer spread of the bucket
    id standing in for trained parameters — the COMPUTATION under
    test is the featurize/score/threshold pipeline, which is identical
    whatever the weights.  Scores stay in 1e-6-quantized integer units
    end-to-end (the classifier margin is what matters, and sigmoid is
    monotone, so thresholding the raw margin avoids cross-engine
    exp() drift entirely).

    Scale shape: tokenize-explode is row-local and codegen'd; the
    bucket weight is computed INLINE (no join — the model lives in the
    expression, the way a broadcast weight array would at 100 TB);
    one partial-agg shuffle per doc, one per source."""
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id", "source", F.explode(F.split("text", " ")).alias("word")
        )
        .filter(F.col("word") != "")
    )
    feat = toks.select(
        "doc_id",
        "source",
        (
            F.conv(F.substring(F.md5("word"), 1, 8), 16, 10).cast("long")
            % CLF_BUCKETS
        ).alias("bucket"),
    )
    scored = feat.groupBy("doc_id", "source").agg(
        (
            F.lit(CLF_BIAS_Q)
            + F.sum(F.expr(_clf_weight_q_sql("bucket")))
        ).alias("score_q")
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("score_q") > 0, 1).otherwise(0)).alias(
                "n_keep"
            ),
            F.expr("sum(score_q) div count(*)").alias("mean_score_q"),
            F.min("score_q").alias("min_score_q"),
            F.max("score_q").alias("max_score_q"),
        )
        .orderBy("source")
    )
