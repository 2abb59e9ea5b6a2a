"""Corpus-level statistical signals for training-data curation:
unigram language-model scoring and cross-source contamination overlap.

Both are standard large-corpus pipeline stages (CCNet/RefinedWeb-style
LM quality filtering; inter-dump / inter-source overlap audits before
mixing datasets) restated Spark-first:

* l35: the corpus unigram distribution IS a DataFrame aggregate; the
  per-document score is one equi-join of the token relation against it
  (hash join on token — build side is one row per vocabulary entry, so
  hot tokens raise probe fan-in, never row blowup) and one re-aggregate
  by doc.  All arithmetic is integer (parts-per-billion), because
  log()/float accumulation differs across engines in the last ulp —
  the mean token likelihood is a monotone quality proxy with the same
  ordering, exactly reproducible in both engines.
* l37: overlap works on 3-gram shingles (this corpus has no *exact*
  cross-source duplicates — checked — so exact-hash overlap would be
  vacuous).  Ubiquitous shingles are capped (appear in > _STOP_SRC
  sources → dropped) the same way overlap audits drop stop-grams, and
  the capped source set per shingle is expanded to pairs by an array
  expression (≤ _STOP_SRC²/2 structs per row) — the plan contains no
  self-join at all, so pair generation is linear in the shingle
  relation at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ._cache import ephemeral_cache
from ._ngrams import word_ngrams

_PPB = 1_000_000_000
_STOP_SRC = 8  # shingles seen in more than this many sources are stop-grams


@register(
    "l35_unigram_logprob",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token
      FROM documents
    ),
    freq AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
    tot AS (SELECT SUM(cnt) AS total FROM freq)
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST((SUM((f.cnt * {_PPB}) // tot.total) // COUNT(*))
                / {_PPB}.0 AS DOUBLE) AS mean_token_prob
    FROM tok t JOIN freq f USING (token) CROSS JOIN tot
    GROUP BY t.doc_id
    """,
    tags=("L8", "EXT"),
)
def l35_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM document quality score (the CCNet/KenLM filtering
    stage with the LM reduced to corpus unigram statistics): each
    document scores the mean corpus-likelihood of its tokens, low =
    out-of-distribution.  Plan: explode tokens once, aggregate the
    vocabulary (shuffle 1, on token), join tokens back to their corpus
    frequency (reuses the token partitioning), re-aggregate per doc
    (shuffle 2, on doc_id).  Probabilities are parts-per-billion longs
    — integer div in both engines — so the score is exact and
    engine-independent, unlike a float log-prob sum (the ADVICE.md
    BM25 fragility does not apply here)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    freq = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("total"))
    return (
        tok.join(freq, "token")
        .join(F.broadcast(total))
        .select(
            "doc_id",
            F.expr(f"cnt * {_PPB} div total").alias("addend"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            (
                F.expr("sum(addend) div count(*)") / float(_PPB)
            ).cast("double").alias("mean_token_prob"),
        )
    )


@register(
    "l37_source_overlap",
    oracle=f"""
    WITH toks AS (SELECT doc_id, source, STRING_SPLIT(text, ' ') AS t
                  FROM documents),
    sh AS (
      SELECT DISTINCT source,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM toks, UNNEST(GENERATE_SERIES(1, LEN(t) - 2)) AS g(i)
    ),
    rare AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING COUNT(*) <= {_STOP_SRC}
    ),
    shr AS (SELECT s.source, s.shingle FROM sh s JOIN rare USING (shingle)),
    sizes AS (SELECT source, COUNT(*) AS n FROM shr GROUP BY source)
    SELECT a.source AS src_a, b.source AS src_b,
           COUNT(*) AS shared_shingles,
           ROUND(COUNT(*) * 1.0 / (sa.n + sb.n - COUNT(*)), 6)
             AS jaccard
    FROM shr a
    JOIN shr b ON a.shingle = b.shingle AND a.source < b.source
    JOIN sizes sa ON a.source = sa.source
    JOIN sizes sb ON b.source = sb.source
    GROUP BY a.source, b.source, sa.n, sb.n
    """,
    tags=("L2", "A2", "EXT"),
)
def l37_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination audit: the pairwise shingle-Jaccard
    matrix between document sources (run before mixing datasets, or
    between crawl dumps, to find near-duplicate feeds).  Distinct
    (source, 3-gram) relation → drop stop-grams seen in > _STOP_SRC
    sources (bounds the equi-self-join fan-out at _STOP_SRC² pairs per
    shingle — the generation stays linear in shingles at any corpus
    size) → count shared shingles per source pair.  Sources are a
    bounded dimension (like l9's labels), so the output is a small
    matrix no matter the corpus row count."""
    d = load_table(spark, sf_dir, "documents")
    sh = word_ngrams(d, 3, "source").distinct()
    # One aggregation collects each shingle's (sorted, ≤_STOP_SRC-bound)
    # source set; pair expansion is then a per-row ARRAY EXPRESSION —
    # the oracle's equi-self-join never appears in the plan at all, and
    # the hash-match proves the expansion is equivalent to it.
    capped = ephemeral_cache(
        sh.groupBy("gram")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .filter(F.size("srcs") <= _STOP_SRC)
    )
    pairs = (
        capped.select(
            F.explode(
                F.expr(
                    "flatten(transform(srcs, (x, i) -> "
                    "transform(slice(srcs, i + 2, size(srcs)), y -> "
                    "named_struct('src_a', x, 'src_b', y))))"
                )
            ).alias("p")
        )
        .select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("shared_shingles"))
    )
    # `capped` feeds both the pair expansion and the per-source sizes —
    # pinned above (r12) so the shingle + group pass runs once, the
    # checkpoint this comment used to defer to production.
    sizes = (
        capped.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count("*").alias("n"))
    )
    sa = sizes.select(
        F.col("source").alias("src_a"), F.col("n").alias("na")
    )
    sb = sizes.select(
        F.col("source").alias("src_b"), F.col("n").alias("nb")
    )
    return (
        pairs.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "shared_shingles",
            F.round(
                F.col("shared_shingles")
                / (F.col("na") + F.col("nb") - F.col("shared_shingles")),
                6,
            ).alias("jaccard"),
        )
    )
