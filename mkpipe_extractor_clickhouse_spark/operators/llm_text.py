"""Text-analysis operators for LLM training-data pipelines
(SURVEY §2.11 L5-L8 + EXT): tokenization/wordcount, TF-IDF, corpus
profiling, lexicon scoring, language-ID heuristic, quality scoring,
token counting, document fingerprinting.

Everything stays in built-in JVM expressions (split/explode/regexp/
md5) — no Python UDFs — so the hot path is whole-stage-codegen'd and
the only shuffles are the final aggregations. At 100 TB the explode
multiplies rows ~50× but map-side partial aggregation collapses them
before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ._cache import ephemeral_cache
from ._determinism import DAVG, DSUM, davg, dsum
from ._ngrams import md5_hash60

# Tiny sentiment-style lexicon over the fixture vocabulary (SURVEY L8,
# lexicon-join pattern). Kept inline so Spark and the oracle agree.
LEXICON: list[tuple[str, float]] = [
    ("fast", 1.0),
    ("slow", -1.0),
    ("big", 0.5),
    ("small", -0.25),
    ("error", -2.0),
    ("merge", 0.25),
]

_LEX_VALUES = ", ".join(f"('{w}', {s})" for w, s in LEXICON)

# English function words present in the fixture vocabulary.
EN_STOPWORDS = ["the", "a"]
_STOP_IN = ", ".join(f"'{w}'" for w in EN_STOPWORDS)


def _tokens(df: DataFrame) -> DataFrame:
    return df.withColumn("token", F.explode(F.split("text", " ")))


@register(
    "l5_wordcount",
    oracle="""
    SELECT token, COUNT(*) AS n
    FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents)
    GROUP BY token
    """,
    tags=("L5",),
    bench=True,
)
def l5_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic wordcount: tokenize → explode → hash agg."""
    d = load_table(spark, sf_dir, "documents")
    return _tokens(d).groupBy("token").agg(F.count("*").alias("n"))


@register(
    "l6_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
    ),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
    ),
    df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.token,
           ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
    FROM tf JOIN df USING (token) CROSS JOIN n
    """,
    tags=("L6",),
)
def l6_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: term frequency per doc × ln(N/df). The df relation is
    vocabulary-sized — no broadcast hint: AQE broadcasts it while the
    vocabulary fits (always at fixture scale) and falls back to a
    shuffle hash join when Heaps'-law growth outruns executor memory;
    the doc count is a broadcast scalar, never a driver-side collect."""
    d = load_table(spark, sf_dir, "documents")
    tok = _tokens(d).select("doc_id", "token")
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.agg(F.count("*").alias("n_docs"))
    return (
        tf.join(dfreq, "token")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )


@register(
    "l7_corpus_profile",
    oracle=f"""
    SELECT lang, source, COUNT(*) AS n_docs,
           {DAVG.format(x='CAST(n_chars AS DOUBLE)')} AS avg_chars,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
           {DSUM.format(x="CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE)")} AS total_tokens
    FROM documents
    GROUP BY lang, source
    """,
    tags=("L7",),
)
def l7_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language/source corpus profiling — per-slice doc counts, char
    stats, token totals."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        davg(F.col("n_chars").cast("double")).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        dsum(F.size(F.split("text", " ")).cast("double")).alias("total_tokens"),
    )


@register(
    "l8_lexicon_score",
    oracle=f"""
    WITH lex(word, score) AS (VALUES {_LEX_VALUES}),
    tok AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
    )
    SELECT t.doc_id,
           {DSUM.format(x='COALESCE(l.score, 0.0)')} AS sentiment,
           COUNT(l.word) AS n_matched,
           COUNT(*) AS n_tokens
    FROM tok t LEFT JOIN lex l ON t.token = l.word
    GROUP BY t.doc_id
    """,
    tags=("L8",),
)
def l8_lexicon_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based token scoring (public EDBT'16-style sentiment
    pattern, PAPERS.md): broadcast the lexicon, left-join tokens,
    aggregate per document."""
    d = load_table(spark, sf_dir, "documents")
    lex = spark.createDataFrame(LEXICON, ["word", "score"])
    tok = _tokens(d).select("doc_id", "token")
    return (
        tok.join(F.broadcast(lex), tok.token == lex.word, "left")
        .groupBy("doc_id")
        .agg(
            dsum(F.coalesce(F.col("score"), F.lit(0.0))).alias("sentiment"),
            F.count("word").alias("n_matched"),
            F.count("*").alias("n_tokens"),
        )
    )


@register(
    "l10_language_id",
    oracle=f"""
    SELECT doc_id, lang,
           ROUND(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t IN ({_STOP_IN})))
                 * 1.0 / LEN(STRING_SPLIT(text, ' ')), 6) AS en_stop_ratio,
           CASE WHEN LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t IN ({_STOP_IN})))
                     * 1.0 / LEN(STRING_SPLIT(text, ' ')) >= 0.05
                THEN 'en' ELSE 'other' END AS predicted_lang
    FROM documents
    """,
    tags=("EXT", "language-id"),
)
def l10_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: function-word (stopword) density — the
    word-level analogue of char-n-gram profiling. Pure array built-ins,
    no shuffle at all (row-local)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stops = F.filter(toks, lambda t: t.isin(*EN_STOPWORDS))
    ratio = F.size(stops) * F.lit(1.0) / F.size(toks)
    return d.select(
        "doc_id",
        "lang",
        F.round(ratio, 6).alias("en_stop_ratio"),
        F.when(ratio >= 0.05, "en").otherwise("other").alias("predicted_lang"),
    )


@register(
    "l11_quality_score",
    oracle=f"""
    SELECT doc_id,
           LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
           LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS n_distinct,
           ROUND(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' ')))
                 * 1.0 / LEN(STRING_SPLIT(text, ' ')), 6) AS ttr,
           ROUND(CAST(n_chars AS DOUBLE) / LEN(STRING_SPLIT(text, ' ')), 6) AS avg_token_len,
           ROUND(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t IN ({_STOP_IN})))
                 * 1.0 / LEN(STRING_SPLIT(text, ' ')), 6) AS stop_ratio,
           CAST(LEN(STRING_SPLIT(text, ' ')) BETWEEN 10 AND 200
                AND LEN(LIST_DISTINCT(STRING_SPLIT(text, ' ')))
                    * 1.0 / LEN(STRING_SPLIT(text, ' ')) > 0.3 AS BIGINT) AS keep
    FROM documents
    """,
    tags=("EXT", "quality"),
)
def l11_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring for pretraining filters: token count,
    type-token ratio, mean token length, stopword density, and a
    keep/drop verdict — the Gopher-rules shape, row-local."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    n_dis = F.size(F.array_distinct(toks))
    ttr = n_dis * F.lit(1.0) / n_tok
    stop_ratio = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS))) * F.lit(1.0) / n_tok
    return d.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        n_dis.cast("long").alias("n_distinct"),
        F.round(ttr, 6).alias("ttr"),
        F.round(F.col("n_chars").cast("double") / n_tok, 6).alias("avg_token_len"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        (n_tok.between(10, 200) & (ttr > 0.3)).cast("long").alias("keep"),
    )


@register(
    "l12_token_count",
    oracle="""
    SELECT doc_id,
           LEN(STRING_SPLIT(text, ' ')) AS ws_tokens,
           LEN(REGEXP_EXTRACT_ALL(text, '[a-z]+|[0-9]+')) AS re_tokens,
           CAST(CEIL(n_chars / 4.0) AS BIGINT) AS approx_bpe_tokens
    FROM documents
    """,
    tags=("EXT", "token-count"),
)
def l12_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, BPE-ish regex
    word/number pieces, and the chars/4 heuristic."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.size(F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)")).cast("long")
        .alias("re_tokens"),
        F.ceil(F.col("n_chars") / 4.0).cast("long").alias("approx_bpe_tokens"),
    )


@register(
    "l13_fingerprint",
    oracle="""
    SELECT doc_id,
           MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(STRING_SPLIT(text, ' '))), ' ')) AS token_set_fp,
           MD5(text) AS exact_fp
    FROM documents
    """,
    tags=("EXT", "fingerprint"),
)
def l13_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: exact md5 and an order/multiplicity-
    insensitive token-set fingerprint (bag-of-words collision key —
    the first stage of shingle-free dedup)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(
            F.array_join(F.array_sort(F.array_distinct(F.split("text", " "))), " ")
        ).alias("token_set_fp"),
        F.md5("text").alias("exact_fp"),
    )


BM25_QUERY_TERMS = ["query", "join", "merge"]
BM25_K1 = 1.2
BM25_B = 0.75
_BM25_TERMS_IN = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)


@register(
    "l19_bm25",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
    ),
    doclen AS (
      SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) FROM doclen) AS avgdl
      FROM documents
    ),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok
      WHERE token IN ({_BM25_TERMS_IN})
      GROUP BY doc_id, token
    ),
    df AS (
      SELECT token, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
      FROM tok WHERE token IN ({_BM25_TERMS_IN}) GROUP BY token
    )
    SELECT tf.doc_id,
           {DSUM.format(x=f'''LN(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * ({BM25_K1} + 1)
             / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * doclen.dl / stats.avgdl))''')} AS bm25
    FROM tf
    JOIN df USING (token)
    JOIN doclen USING (doc_id)
    CROSS JOIN stats
    GROUP BY tf.doc_id
    """,
    tags=("EXT", "L6", "bm25"),
)
def l19_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every document to a fixed term set — the
    ranking primitive for retrieval-based data curation. Okapi
    formulation (public Robertson/Sparck-Jones): idf = ln(1 +
    (N-df+0.5)/(df+0.5)), tf saturation k1=1.2, length normalization
    b=0.75. Query-term stats are vocabulary-sized (AQE sizes that
    join — broadcast while it fits, shuffle beyond); one
    shuffle for per-doc tf. Per-term addends are quantized before the
    sum (dsum) so the score is order- and engine-independent even when
    a sum lands on a 1e-6 rounding boundary."""
    d = load_table(spark, sf_dir, "documents")
    tok = _tokens(d).select("doc_id", "token")
    doclen = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    qtok = tok.filter(F.col("token").isin(*BM25_QUERY_TERMS))
    tf = qtok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = qtok.groupBy("token").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    stats = d.agg(
        F.count("*").cast("double").alias("n_docs")
    ).join(doclen.agg((F.sum("dl") / F.count("*")).alias("avgdl")))
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    score = (
        idf
        * F.col("tf")
        * (BM25_K1 + 1)
        / (
            F.col("tf")
            + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(dfreq, "token")
        .join(doclen, "doc_id")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(dsum(score).alias("bm25"))
    )


@register(
    "l57_langid_confusion",
    oracle=f"""
    WITH pred AS (
      SELECT doc_id, lang,
             CASE WHEN LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                                        t -> t IN ({_STOP_IN})))
                       * 1.0 / LEN(STRING_SPLIT(text, ' ')) >= 0.05
                  THEN 'en' ELSE 'other' END AS predicted_lang
      FROM documents
    )
    SELECT lang AS actual_lang, predicted_lang,
           COUNT(*) AS n,
           SUM(SUM(CASE WHEN (lang = 'en') = (predicted_lang = 'en')
                        THEN 1 ELSE 0 END)) OVER ()
             * 1000000 // SUM(COUNT(*)) OVER () AS overall_accuracy_ppm
    FROM pred GROUP BY lang, predicted_lang
    """,
    tags=("EXT", "language-id", "dq"),
)
def l57_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation in-engine: the confusion matrix of l10's
    language-ID heuristic against the labeled ``lang`` column, plus
    corpus accuracy in exact floor-ppm (en-vs-other collapse, matching
    the classifier's output space). The model-eval loop a curation
    pipeline runs after changing a filter: one row-local prediction
    pass (the l10 expression), one matrix aggregation, all integer —
    no new shuffle shape beyond a groupBy on O(langs²) keys."""
    pred = l10_language_id(spark, sf_dir)
    m = pred.groupBy(
        F.col("lang").alias("actual_lang"), F.col("predicted_lang")
    ).agg(
        F.count("*").alias("n"),
        F.sum(
            (
                (F.col("lang") == "en") == (F.col("predicted_lang") == "en")
            ).cast("long")
        ).alias("correct"),
    )
    w = Window.partitionBy()
    return m.select(
        "actual_lang",
        "predicted_lang",
        "n",
        F.expr("sum(correct) OVER () * 1000000 DIV sum(n) OVER ()").alias(
            "overall_accuracy_ppm"
        ),
    )


VOCAB_TOP_N = 30


@register(
    "l77_oov_rate",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    vocab AS (
      SELECT t FROM (
        SELECT t, COUNT(*) AS c FROM tok GROUP BY t
        ORDER BY c DESC, t LIMIT {VOCAB_TOP_N}
      )
    )
    SELECT source,
           COUNT(*) AS tokens,
           SUM(CASE WHEN vocab.t IS NULL THEN 1 ELSE 0 END) AS oov_tokens,
           SUM(CASE WHEN vocab.t IS NULL THEN 1 ELSE 0 END) * 1000000
             // COUNT(*) AS oov_ppm
    FROM tok LEFT JOIN vocab ON tok.t = vocab.t
    GROUP BY source ORDER BY source
    """,
    tags=("L5", "L7", "EXT", "quality"),
)
def l77_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage planning: fix the top-N global tokens as
    the vocabulary, then report each source's out-of-vocabulary token
    rate in floor-ppm — the stat that sizes a tokenizer's vocab (or
    flags a source whose token distribution diverges from the corpus)
    before training it. Deterministic vocabulary cut (count desc,
    token tiebreak — no arbitrary top-N). Shapes: one explode+agg for
    counts, a TakeOrderedAndProject for the vocab, then a BROADCAST
    left join from the token stream (the vocab is N rows by
    construction — never a shuffle join) into a per-source rollup."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(F.split("text", " ")).alias("t")
    )
    vocab = (
        tok.groupBy("t")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("t"))
        .limit(VOCAB_TOP_N)
        .select(F.col("t").alias("vt"))
    )
    j = tok.join(
        F.broadcast(vocab), tok.t == F.col("vt"), "left"
    )
    return (
        j.groupBy("source")
        .agg(
            F.count("*").alias("tokens"),
            F.sum(
                F.when(F.col("vt").isNull(), 1).otherwise(0)
            ).alias("oov_tokens"),
            F.expr(
                "SUM(CASE WHEN vt IS NULL THEN 1 ELSE 0 END) * 1000000"
                " DIV COUNT(*)"
            ).alias("oov_ppm"),
        )
        .orderBy("source")
    )


SS_CAPACITY = 16  # SpaceSaving slots per partition sketch


def spacesaving_heavy_hitters(
    tok: DataFrame, capacity: int = SS_CAPACITY
) -> DataFrame:
    """Mergeable SpaceSaving (Metwally et al. 2005) heavy hitters over
    a token column: each partition builds a capacity-bounded sketch
    (weighted updates — per-batch counts fold in one eviction step per
    unique token), partial sketches merge by summed counts/errors, and
    the merged top-capacity cut keeps the summary bounded end-to-end.
    Invariants (tested): est ≥ true ≥ est − err for every reported
    item, and any item with true count > n/capacity survives. State is
    O(capacity) per partition — the mergeable-summary contract of
    Agarwal et al. 2012, which is what lets a 1000-executor scan
    produce one global summary with no row-level shuffle."""
    import pandas as pd

    def sketch_partition(batches):
        counts: dict[str, int] = {}
        errs: dict[str, int] = {}
        for pdf in batches:
            for t, w in pdf["t"].value_counts().items():
                w = int(w)
                if t in counts:
                    counts[t] += w
                elif len(counts) < capacity:
                    counts[t] = w
                    errs[t] = 0
                else:
                    mt = min(counts, key=lambda k: (counts[k], k))
                    mc = counts.pop(mt)
                    errs.pop(mt)
                    counts[t] = mc + w
                    errs[t] = mc
        yield pd.DataFrame(
            {
                "token": list(counts),
                "est": [counts[t] for t in counts],
                "err": [errs[t] for t in counts],
            }
        )

    partials = tok.mapInPandas(
        sketch_partition, "token string, est long, err long"
    )
    merged = partials.groupBy("token").agg(
        F.sum("est").alias("est"), F.sum("err").alias("err")
    )
    return merged.orderBy(F.col("est").desc(), "token").limit(SS_CAPACITY)


@register(
    "a23_spacesaving_topk",
    oracle=None,  # approximate by contract; invariants pinned in pytest
    tags=("A4", "A15", "EXT", "sketch"),
)
def a23_spacesaving_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate heavy-hitter tokens via the mergeable SpaceSaving
    sketch (see spacesaving_heavy_hitters): ClickHouse's ``topK(k)``
    is this same SpaceSaving family, so this is the honest
    approximate sibling of the exact a15_topk_frequent. Rows-only for
    the driver (sketch contents depend on partition layout); the
    count/containment guarantees are asserted against exact counts in
    tests/test_llm.py.  Full-oracle portable twin: a23b_cms_topk
    (layout-independent CMS estimates) below."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("t"))
    return spacesaving_heavy_hitters(tok)


CMS_DEPTH = 4
CMS_WIDTH = 1024
CMS_P = 1_000_000_007  # the l58 portable hash family's prime


def _cms_token_hash(t):
    """Portable base token hash: md5-prefix integer, computed ONCE per
    token (the affine row mix below derives the CMS_DEPTH row hashes
    from it — md5 is the expensive part, ~8× xxhash64)."""
    return md5_hash60(t) % CMS_P


def _cms_bucket(ht):
    """Portable CMS row-hash: the l58 md5-derived affine family —
    identical integer arithmetic in every engine, so the whole sketch
    is differentially testable (any pairwise-independent family
    satisfies the CMS bound; xxhash64 bought nothing but opacity)."""
    return F.pmod(
        ((2 * F.col("rw") + 1) * ht + 1_000_003 * F.col("rw")) % CMS_P,
        CMS_WIDTH,
    )


_CMS_BUCKET_SQL = (
    f"(((2 * i + 1) * (('0x' || substr(md5({{t}}), 1, 15))::BIGINT"
    f" % {CMS_P}) + 1000003 * i) % {CMS_P}) % {CMS_WIDTH}"
)


@register(
    "a24_countmin_point",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS t FROM documents
    ),
    hb AS (
      SELECT t, i AS rw, {_CMS_BUCKET_SQL.format(t='t')} AS bucket
      FROM tok CROSS JOIN range(0, {CMS_DEPTH}) r(i)
    ),
    cms AS (
      SELECT rw, bucket, COUNT(*) AS c FROM hb GROUP BY rw, bucket
    ),
    top AS (
      SELECT t, COUNT(*) AS true_c FROM tok GROUP BY t
      ORDER BY true_c DESC, t LIMIT 10
    ),
    probes AS (
      SELECT top.t, top.true_c, i AS rw,
             {_CMS_BUCKET_SQL.format(t='top.t')} AS bucket
      FROM top CROSS JOIN range(0, {CMS_DEPTH}) r(i)
    )
    SELECT p.t, p.true_c, MIN(c.c) AS cms_estimate
    FROM probes p JOIN cms c ON p.rw = c.rw AND p.bucket = c.bucket
    GROUP BY p.t, p.true_c
    ORDER BY p.true_c DESC, p.t
    """,
    tags=("A4", "EXT", "sketch"),
)
def a24_countmin_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) built entirely
    JVM-side — no Python in the data path: each token lands in one
    bucket per hash row (portable md5-affine family, pmod width), the
    sketch IS a (row, bucket) → count aggregation, and a point
    estimate is the MIN over rows of the probed buckets. Probes are
    the exact top-10 tokens so the output is stable. The sketch table
    is DEPTH×WIDTH rows regardless of corpus size and merges by
    addition (counts are linear) — the same partial→final path as any
    hash agg, which is why CMS is the shuffle-free way to answer
    point-frequency queries at 100 TB. Round-5 upgrade: the l58
    portable hash family replaces xxhash64, so the ENTIRE sketch —
    bucket placement, counters, probe minima — now hash-matches a
    DuckDB oracle; est ≥ true stays asserted in tests/test_llm.py."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("t"))
    rows = F.explode(
        F.array(*[F.lit(i) for i in range(CMS_DEPTH)])
    ).alias("rw")
    cms = (
        tok.select(_cms_token_hash(F.col("t")).alias("ht"))
        .select("ht", rows)
        .select("rw", _cms_bucket(F.col("ht")).alias("bucket"))
        .groupBy("rw", "bucket")
        .agg(F.count("*").alias("c"))
    )
    probes = (
        tok.groupBy("t")
        .agg(F.count("*").alias("true_c"))
        .orderBy(F.col("true_c").desc(), "t")
        .limit(10)
        .select("t", "true_c", _cms_token_hash(F.col("t")).alias("ht"))
        .select(
            "t",
            "true_c",
            "ht",
            F.explode(F.array(*[F.lit(i) for i in range(CMS_DEPTH)])).alias(
                "rw"
            ),
        )
        .select("t", "true_c", "rw", _cms_bucket(F.col("ht")).alias("bucket"))
    )
    return (
        probes.join(F.broadcast(cms), ["rw", "bucket"])
        .groupBy("t", "true_c")
        .agg(F.min("c").alias("cms_estimate"))
        .orderBy(F.col("true_c").desc(), "t")
    )


CMS_TOPK = 20


@register(
    "a23b_cms_topk",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS t FROM documents
    ),
    hb AS (
      SELECT t, i AS rw, {_CMS_BUCKET_SQL.format(t='t')} AS bucket
      FROM tok CROSS JOIN range(0, {CMS_DEPTH}) r(i)
    ),
    cms AS (
      SELECT rw, bucket, COUNT(*) AS c FROM hb GROUP BY rw, bucket
    ),
    probes AS (
      SELECT DISTINCT t, i AS rw, {_CMS_BUCKET_SQL.format(t='t')} AS bucket
      FROM tok CROSS JOIN range(0, {CMS_DEPTH}) r(i)
    )
    SELECT p.t, MIN(c.c) AS cms_estimate
    FROM probes p JOIN cms c ON p.rw = c.rw AND p.bucket = c.bucket
    GROUP BY p.t
    ORDER BY cms_estimate DESC, p.t LIMIT {CMS_TOPK}
    """,
    tags=("A4", "A15", "EXT", "sketch"),
)
def a23b_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-oracle portable twin of a23 (the a16b/l2b pattern): heavy
    hitters ranked BY the sketch itself.  Every distinct token's count
    is estimated from the portable count-min sketch (min over the
    {CMS_DEPTH} md5-affine rows — a24's machinery), and the top
    {CMS_TOPK} by (estimate desc, token) is the answer; unlike a23's
    SpaceSaving sketch the estimate is independent of partition
    layout, so the result hash-matches DuckDB.  Scale shape: the
    sketch is DEPTH×WIDTH counters merged by addition, the probe side
    is the distinct vocabulary (bounded), and the top-k is a
    TakeOrdered over |vocab| estimate rows — no per-token exact count
    at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("t"))
    cms = (
        tok.select(_cms_token_hash(F.col("t")).alias("ht"))
        .select(
            "ht",
            F.explode(F.array(*[F.lit(i) for i in range(CMS_DEPTH)])).alias(
                "rw"
            ),
        )
        .select("rw", _cms_bucket(F.col("ht")).alias("bucket"))
        .groupBy("rw", "bucket")
        .agg(F.count("*").alias("c"))
    )
    probes = (
        tok.distinct()
        .select("t", _cms_token_hash(F.col("t")).alias("ht"))
        .select(
            "t",
            "ht",
            F.explode(F.array(*[F.lit(i) for i in range(CMS_DEPTH)])).alias(
                "rw"
            ),
        )
        .select("t", "rw", _cms_bucket(F.col("ht")).alias("bucket"))
    )
    return (
        probes.join(F.broadcast(cms), ["rw", "bucket"])
        .groupBy("t")
        .agg(F.min("c").alias("cms_estimate"))
        .orderBy(F.col("cms_estimate").desc(), "t")
        .limit(CMS_TOPK)
    )


KMV_K = 64


@register(
    "a25_kmv_overlap",
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               AS h
      FROM events
    ),
    kmv AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM hashed QUALIFY rn <= {KMV_K}
    ),
    pair_union AS (
      SELECT a.event_type AS seg_a, b.event_type AS seg_b,
             COUNT(*) AS shared_minima
      FROM kmv a JOIN kmv b
        ON a.h = b.h AND a.event_type < b.event_type
      GROUP BY 1, 2
    ),
    kth AS (
      SELECT event_type, COUNT(*) AS cnt, MAX(h) AS kth
      FROM kmv GROUP BY 1
    ),
    sizes AS (
      SELECT event_type,
             CASE WHEN cnt < {KMV_K} THEN CAST(cnt AS DOUBLE)
                  ELSE ROUND(({KMV_K} - 1)
                             / (CAST(kth AS DOUBLE) / {float(2**60)!r}), 2)
             END AS est_distinct
      FROM kth
    )
    SELECT p.seg_a, p.seg_b, p.shared_minima,
           sa.est_distinct AS est_a, sb.est_distinct AS est_b,
           ROUND((p.shared_minima / {float(KMV_K)!r})
                 * (sa.est_distinct + sb.est_distinct)
                 / (1 + p.shared_minima / {float(KMV_K)!r}), 2)
             AS est_intersection
    FROM pair_union p
    JOIN sizes sa ON sa.event_type = p.seg_a
    JOIN sizes sb ON sb.event_type = p.seg_b
    ORDER BY seg_a, seg_b
    """,
    tags=("A4", "A3", "EXT", "sketch"),
)
def a25_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-overlap analytics via K-minimum-values sketches
    (Bar-Yossef et al. 2002): per event-type segment keep the k
    smallest hash values of user_id — a mergeable, JVM-only summary
    whose k-th minimum estimates distinct count as (k−1)/u, and whose
    UNION (merge-and-cut) plus Jaccard-over-minima gives INTERSECTION
    estimates — the set algebra HLL cannot do (a16's sketches only
    union). Audience-overlap questions ('how many users did both X
    and Y') then run on O(k) state per segment pair instead of a
    user-level join — ch_audience_overlap is the exact sibling this
    estimates at 100 TB. Round-5 upgrade: the portable md5-derived
    60-bit hash replaces xxhash64, so minima, k-th-minimum estimates
    and intersection algebra all hash-match a DuckDB oracle;
    estimate-vs-exact accuracy stays asserted in tests/test_llm.py."""
    ev = load_table(spark, sf_dir, "events")
    hashed = ev.select(
        "event_type",
        # 60-bit md5-prefix hash: uniform over [0, 2^60), engine-
        # portable (the l58 seam)
        md5_hash60(F.col("user_id").cast("string")).alias("h"),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    # pinned (r12): both pair-join sides and the k-th-minimum rollup
    # consume the sketch — the events scan + distinct + rank window
    # re-executed 3x before (plan audit: 4 events scans); the pinned
    # relation is O(k · segments) rows
    kmv = ephemeral_cache(
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .select("event_type", "h", "rn")
    )
    a = kmv.alias("a")
    b = kmv.alias("b")
    pair_union = (
        a.join(
            F.broadcast(b),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("seg_a"),
            F.col("b.event_type").alias("seg_b"),
        )
        .agg(F.count("*").alias("shared_minima"))
    )
    # per segment: the sketch size and its largest retained minimum
    # (= the k-th minimum when the sketch is full). A sketch smaller
    # than k holds the WHOLE segment — the estimate is then exact.
    kth = kmv.groupBy("event_type").agg(
        F.count("*").alias("cnt"), F.max("h").alias("kth")
    )
    # map the k-th minimum into u ∈ (0,1): u = kth / 2⁶⁰
    u = F.col("kth").cast("double") / F.lit(
        float(2**60)
    )
    est = F.when(F.col("cnt") < KMV_K, F.col("cnt").cast("double")).otherwise(
        F.round((KMV_K - 1) / u, 2)
    )
    sizes = kth.select("event_type", est.alias("est_distinct"))
    return (
        pair_union.join(
            sizes.withColumnRenamed("event_type", "seg_a").withColumnRenamed(
                "est_distinct", "est_a"
            ),
            "seg_a",
        )
        .join(
            sizes.withColumnRenamed("event_type", "seg_b").withColumnRenamed(
                "est_distinct", "est_b"
            ),
            "seg_b",
        )
        .select(
            "seg_a",
            "seg_b",
            "shared_minima",
            "est_a",
            "est_b",
            F.round(
                F.col("shared_minima")
                / F.lit(float(KMV_K))
                * (F.col("est_a") + F.col("est_b"))
                / (1 + F.col("shared_minima") / F.lit(float(KMV_K))),
                2,
            ).alias("est_intersection"),
        )
        .orderBy("seg_a", "seg_b")
    )


PHRASE = ("table", "hash")  # 2nd-most-common fixture bigram — stable at all SFs


@register(
    "l91_phrase_search",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS l
      FROM documents
    ),
    t AS (
      SELECT doc_id, unnest(l) AS tok,
             unnest(range(1, len(l) + 1)) AS pos
      FROM d
    )
    SELECT a.doc_id, COUNT(*) AS hits
    FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.tok = '{PHRASE[0]}' AND b.tok = '{PHRASE[1]}'
    GROUP BY a.doc_id ORDER BY a.doc_id
    """,
    tags=("L5", "J1", "EXT", "search"),
)
def l91_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over a POSITIONAL inverted index — the
    search-engine primitive ClickHouse serves with hasToken +
    materialized token columns, re-expressed Spark-first: tokenize
    once into (doc_id, pos, tok) postings, restrict to the phrase's
    terms BEFORE any join (the filter pushes to the posting scan), and
    verify adjacency with an equi-join on (doc_id, pos+1).  Per-doc
    hit counts returned.

    Scale shape: the postings relation is the persisted index,
    partitionable by token; a p-term phrase is p posting scans (each
    selective — one term's postings only) and p−1 equi-joins keyed on
    (doc_id, position), shuffling only matching postings, never
    documents.  Conjunction order belongs rarest-term-first (classic
    WAND discipline) — here both scans prune to one term each, which
    is that discipline for p=2.  The oracle re-derives adjacency with
    zipped UNNESTs and a self-join, so the hash-match proves the
    index path equals the naive scan."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(
                F.split(F.lower("text"), "[^a-z0-9]+"), lambda t: t != ""
            )
        ).alias("pos", "tok"),
    )
    a = toks.filter(F.col("tok") == PHRASE[0]).alias("a")
    b = toks.filter(F.col("tok") == PHRASE[1]).alias("b")
    return (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .groupBy(F.col("a.doc_id").alias("doc_id"))
        .agg(F.count("*").alias("hits"))
        .orderBy("doc_id")
    )


RETRIEVAL_QUERIES = (
    (1, "spark table scan"),
    (2, "fast merge batch"),
    (3, "customer order value"),
    (4, "window sort stream"),
)
RETRIEVAL_K = 5

_QUERIES_VALUES = ", ".join(
    f"({qid}, '{qtext}')" for qid, qtext in RETRIEVAL_QUERIES
)


@register(
    "l92_bm25_retrieval",
    oracle=f"""
    WITH queries(qid, qtext) AS (VALUES {_QUERIES_VALUES}),
    qtok AS (
      SELECT DISTINCT qid, UNNEST(STRING_SPLIT(qtext, ' ')) AS token
      FROM queries
    ),
    tok AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
    ),
    doclen AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) FROM doclen) AS avgdl
      FROM documents
    ),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok
      WHERE token IN (SELECT token FROM qtok)
      GROUP BY doc_id, token
    ),
    df AS (
      SELECT token, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
      FROM tok WHERE token IN (SELECT token FROM qtok) GROUP BY token
    ),
    scored AS (
      SELECT qtok.qid, tf.doc_id,
             {DSUM.format(x=f'''LN(1 + (stats.n_docs - df.df + 0.5)
               / (df.df + 0.5))
               * tf.tf * ({BM25_K1} + 1)
               / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                  + {BM25_B} * doclen.dl / stats.avgdl))''')} AS bm25
      FROM tf
      JOIN qtok USING (token)
      JOIN df USING (token)
      JOIN doclen USING (doc_id)
      CROSS JOIN stats
      GROUP BY qtok.qid, tf.doc_id
    )
    SELECT qid, CAST(rnk AS BIGINT) AS rank, doc_id, bm25 FROM (
      SELECT qid, doc_id, bm25,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY bm25 DESC, doc_id) AS rnk
      FROM scored
    ) WHERE rnk <= {RETRIEVAL_K}
    ORDER BY qid, rank
    """,
    tags=("EXT", "L6", "W8", "bm25", "retrieval"),
)
def l92_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-query BM25 RETRIEVAL (l19 scores one fixed term set; this
    is the search-engine shape): a query table joins the corpus
    through the inverted posting list (token equi-join — the only
    corpus-sized shuffle is the per-doc tf), per-(query, doc) Okapi
    scores accumulate through quantized addends (dsum — exact,
    order-independent), and a per-query window keeps top-k
    (WindowGroupLimit bounds state at k per query below the exchange).
    The query-token table broadcasts — at 100 TB the posting-list join
    fans each doc token out only to the queries containing it, never
    materializing the |queries| x |docs| matrix."""
    d = load_table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        list(RETRIEVAL_QUERIES), ["qid", "qtext"]
    )
    qtok = queries.select(
        "qid", F.explode(F.split("qtext", " ")).alias("token")
    ).distinct()
    tok = _tokens(d).select("doc_id", "token")
    doclen = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    qterms = [t for _, q in RETRIEVAL_QUERIES for t in q.split(" ")]
    hit = tok.filter(F.col("token").isin(*sorted(set(qterms))))
    tf = hit.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = hit.groupBy("token").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    stats = d.agg(F.count("*").cast("double").alias("n_docs")).join(
        doclen.agg((F.sum("dl") / F.count("*")).alias("avgdl"))
    )
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    addend = (
        idf
        * F.col("tf")
        * (BM25_K1 + 1)
        / (
            F.col("tf")
            + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(qtok), "token")
        .join(F.broadcast(dfreq), "token")
        .join(doclen, "doc_id")
        .join(F.broadcast(stats))
        .groupBy("qid", "doc_id")
        .agg(dsum(addend).alias("bm25"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("bm25"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= RETRIEVAL_K)
        .select("qid", "rank", "doc_id", "bm25")
        .orderBy("qid", "rank")
    )


BPE_ROUNDS = 5
BPE_MAX_WORD = 32  # bound for the oracle's constant position range


def _bpe_round_sql(prev: str, r: int) -> str:
    """One unrolled BPE merge round (DuckDB oracle): weighted adjacent-
    pair counts over the symbol sequences, deterministic argmax
    (count DESC, pair lexicographic), then a three-pass leftmost-
    non-overlapping replace of ' a b ' -> ' ab ' (see docstring for why
    three passes pin the variant)."""
    return f"""
    p{r} AS (
      SELECT arr[i] AS a, arr[i + 1] AS b, SUM(freq) AS cnt
      FROM (SELECT freq, string_split(trim(sym), ' ') AS arr FROM {prev})
      CROSS JOIN range(1, {BPE_MAX_WORD}) t(i)
      WHERE i + 1 <= len(arr)
      GROUP BY 1, 2
    ),
    b{r} AS (
      SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1
    ),
    v{r} AS (
      SELECT word, freq,
             replace(replace(replace(sym,
               ' ' || a || ' ' || b || ' ', ' ' || a || b || ' '),
               ' ' || a || ' ' || b || ' ', ' ' || a || b || ' '),
               ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ') AS sym
      FROM {prev} CROSS JOIN b{r}
    )"""


@register(
    "l101_bpe_merges",
    oracle=f"""
    WITH vocab AS (
      SELECT w AS word, COUNT(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    v0 AS (
      SELECT word, freq,
             ' ' || array_to_string(string_split_regex(word, ''), ' ')
                 || ' ' AS sym
      FROM vocab
    ),
    {",".join(_bpe_round_sql(f"v{r - 1}", r) for r in range(1, BPE_ROUNDS + 1))}
    SELECT * FROM (
      {" UNION ALL ".join(
        f"SELECT {r} AS round, a || '+' || b AS pair,"
        f" CAST(cnt AS BIGINT) AS weighted_count FROM b{r}"
        for r in range(1, BPE_ROUNDS + 1)
      )}
    ) ORDER BY round
    """,
    tags=("L5", "A2", "EXT"),
)
def l101_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING — the merge loop itself (Sennrich et al.
    2016), not just token counting: {BPE_ROUNDS} rounds of
    most-frequent-adjacent-symbol-pair merging over the corpus
    word-frequency table, exactly the computation behind every
    BPE/WordPiece vocab build.  The pinned deterministic variant:
    symbols are space-joined with sentinel spaces, the argmax
    tiebreaks (count DESC, pair lexicographic), and each merge applies
    THREE passes of leftmost-non-overlapping ' a b ' -> ' ab '
    replacement (one pass misses alternating runs like 'a b a b';
    three converge at any realistic symbol run — and because BOTH
    engines execute the identical passes, equality is pinned by
    construction, not by hoping replace semantics match reference
    BPE's scan order).

    Scale shape: the corpus-sized work per round is ONE weighted
    adjacent-pair aggregate over the vocab relation (pairs explode via
    index transform — no UDF); the argmax is a 1-row collect to the
    driver, which is where the merge table lives in every real BPE
    trainer (HuggingFace tokenizers does exactly this loop in RAM —
    here the count aggregate distributes and only the winning pair
    travels).  Round count is fixed; at a billion-word corpus the
    vocab relation is the distinct-word table, orders of magnitude
    smaller than the corpus, re-symbolized incrementally per round."""
    merges, _ = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        merges, "round int, pair string, weighted_count long"
    ).orderBy("round")


def _bpe_train(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, str, int]], DataFrame]:
    """Run the {BPE_ROUNDS}-round merge loop (see l101 docstring for the
    pinned variant) and return (merge table, final vocab relation with
    the merged symbol sequences).  Shared by l101 (reports the merges)
    and l102 (applies the final symbolization to measure fertility)."""
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    sym = F.concat(
        F.lit(" "), F.array_join(F.split("word", ""), " "), F.lit(" ")
    )
    v = ephemeral_cache(vocab.select("word", "freq", sym.alias("sym")))
    merges = []
    for r in range(1, BPE_ROUNDS + 1):
        arr = F.split(F.trim(F.col("sym")), " ")
        pairs = (
            # guard single-symbol words: Spark's sequence(1, 0) is the
            # DESCENDING [1, 0], which would index past the array
            v.filter(F.size(F.split(F.trim(F.col("sym")), " ")) >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(split(trim(sym), ' ')) - 1),"
                        " i -> struct(element_at(split(trim(sym), ' '), i) AS a,"
                        " element_at(split(trim(sym), ' '), i + 1) AS b))"
                    )
                ).alias("p"),
            )
            .select("freq", "p.a", "p.b")
            .groupBy("a", "b")
            .agg(F.sum("freq").alias("cnt"))
        )
        best = pairs.orderBy(
            F.col("cnt").desc(), "a", "b"
        ).limit(1).collect()[0]
        merges.append((r, f"{best['a']}+{best['b']}", int(best["cnt"])))
        pat = F.concat(
            F.lit(" "), F.lit(best["a"]), F.lit(" "), F.lit(best["b"]),
            F.lit(" "),
        )
        rep = F.concat(
            F.lit(" "), F.lit(best["a"]), F.lit(best["b"]), F.lit(" ")
        )
        new_sym = F.col("sym")
        for _ in range(3):
            new_sym = F.replace(new_sym, pat, rep)
        v = v.select("word", "freq", new_sym.alias("sym"))
    return merges, v


_BPE_ORACLE_CTES = f"""
    vocab AS (
      SELECT w AS word, COUNT(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    v0 AS (
      SELECT word, freq,
             ' ' || array_to_string(string_split_regex(word, ''), ' ')
                 || ' ' AS sym
      FROM vocab
    ),
    {",".join(_bpe_round_sql(f"v{r - 1}", r) for r in range(1, BPE_ROUNDS + 1))}
"""


@register(
    "l102_bpe_fertility",
    oracle=f"""
    WITH {_BPE_ORACLE_CTES},
    tok AS (
      SELECT word,
             len(string_split(trim(sym), ' ')) AS n_tokens,
             length(word) AS n_chars
      FROM v{BPE_ROUNDS}
    ),
    words AS (
      SELECT source, w AS word, COUNT(*) AS cnt
      FROM (SELECT source, unnest(string_split(text, ' ')) AS w
            FROM documents)
      WHERE w <> '' GROUP BY source, w
    )
    SELECT source,
           CAST(SUM(cnt) AS BIGINT) AS total_words,
           CAST(SUM(cnt * n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(cnt * n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(cnt * n_tokens) * 1000000 // SUM(cnt) AS BIGINT)
             AS fertility_ppm,
           CAST(SUM(cnt * n_chars) * 1000000 // SUM(cnt * n_tokens)
             AS BIGINT) AS chars_per_token_ppm
    FROM words JOIN tok USING (word)
    GROUP BY source ORDER BY source
    """,
    tags=("L5", "A2", "EXT"),
)
def l102_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION — encode the corpus with the vocab
    l101 just trained and report per-source fertility (tokens per
    word) and compression (chars per token), the metrics every
    tokenizer eval publishes (e.g. the multilingual-fertility tables
    in the XLM-R / BLOOM tokenizer papers).  A source whose fertility
    stays near the character count is under-served by the merge table
    — the exact signal used to rebalance tokenizer training mixes.

    Encoding rides the TRAINED VOCAB, not the corpus: the final
    symbolization lives on the distinct-word relation (already merged
    by the training loop), so applying the tokenizer is a dictionary
    join — per-source word counts ⋈ broadcast(word → token count) —
    never a per-document re-merge.  At 100 TB the corpus-side work is
    one word-count aggregate (map-side combined) plus a broadcast
    join; all ratios are exact integer ppm (trunc division), so the
    oracle parity is pinned with zero float drift."""
    _, v = _bpe_train(spark, sf_dir)
    tok = v.select(
        "word",
        F.size(F.split(F.trim(F.col("sym")), " ")).alias("n_tokens"),
        F.length("word").alias("n_chars"),
    )
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select("source", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("source", "word")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        words.join(F.broadcast(tok), "word")
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("total_words"),
            F.sum(F.col("cnt") * F.col("n_tokens")).alias("total_tokens"),
            F.sum(F.col("cnt") * F.col("n_chars")).alias("total_chars"),
        )
        .select(
            "source",
            "total_words",
            "total_tokens",
            "total_chars",
            F.expr("total_tokens * 1000000 div total_words").alias(
                "fertility_ppm"
            ),
            F.expr("total_chars * 1000000 div total_tokens").alias(
                "chars_per_token_ppm"
            ),
        )
        .orderBy("source")
    )


# ---- l110: vocab-size coverage curve ---------------------------------

VOCAB_SIZES = (100, 500, 1000, 2000, 5000)


@register(
    "l110_vocab_coverage_curve",
    oracle=f"""
    WITH wc AS (
      SELECT w AS word, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    ranked AS (
      SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rnk
      FROM wc
    ),
    tot AS (SELECT SUM(cnt) AS total, COUNT(*) AS n_types FROM ranked)
    SELECT * FROM (
      {" UNION ALL ".join(
        f'''SELECT {n} AS vocab_size,
               CAST((SELECT COALESCE(SUM(cnt), 0) FROM ranked
                     WHERE rnk <= {n}) AS BIGINT) AS covered_tokens,
               CAST((SELECT COALESCE(SUM(cnt), 0) FROM ranked
                     WHERE rnk <= {n}) * 1000000 // total AS BIGINT)
                 AS coverage_ppm,
               CAST(n_types AS BIGINT) AS n_types
        FROM tot''' for n in VOCAB_SIZES)}
    ) ORDER BY vocab_size
    """,
    tags=("L5", "W1", "EXT"),
)
def l110_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-size planning curve: what fraction of corpus tokens
    the top-N word types cover, for the candidate vocab sizes — the
    first decision of every tokenizer build (coverage vs table size;
    the elbow of this curve, not taste, picks the vocab budget) and
    the Zipf companion to l47's exponent fit.

    One corpus word-count, one vocab-sized rank (the window sorts the
    TYPE relation, orders of magnitude smaller than the corpus), then
    every sweep point is a conditional sum over the same ranked
    relation, computed in a single aggregation pass and unpivoted —
    the curve costs one extra reduction regardless of how many sizes
    it sweeps.  Integer ppm (trunc division), exact in both engines.
    Ties pinned by (count DESC, word)."""
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    ranked = wc.select(
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), "word"))
        .alias("rnk"),
    )
    aggs = [F.sum("cnt").alias("total"), F.count("*").alias("n_types")]
    for n in VOCAB_SIZES:
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.col("rnk") <= n, F.col("cnt"))), F.lit(0)
            ).alias(f"c{n}")
        )
    one = ranked.agg(*aggs)
    stack = ", ".join(f"{n}, c{n}" for n in VOCAB_SIZES)
    return (
        one.selectExpr(
            f"stack({len(VOCAB_SIZES)}, {stack}) AS (vocab_size, covered_tokens)",
            "total",
            "n_types",
        )
        .select(
            "vocab_size",
            "covered_tokens",
            F.expr("covered_tokens * 1000000 div total").alias(
                "coverage_ppm"
            ),
            "n_types",
        )
        .orderBy("vocab_size")
    )
