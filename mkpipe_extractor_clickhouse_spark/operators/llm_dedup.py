"""Deduplication operators for LLM training-data pipelines
(SURVEY §2.11 L1-L2): exact, n-gram Jaccard (prefix-filtered set-
similarity join), MinHash+LSH, SimHash, and embedding-cosine near-dup.

Scale posture (the whole point of these operators at 100 TB):
  * exact dedup is a hash groupBy — one shuffle on the content hash;
  * the Jaccard join uses PPJoin-style *prefix filtering* (public
    Xiao/Wang/Lin WWW'08 algorithm): for threshold t a pair can only
    match if it shares a token among each side's |d|-⌈t·|d|⌉+1 rarest
    tokens, so the inverted-index join fans out on prefix tokens only —
    exact, no recall loss, and orders of magnitude fewer candidate
    pairs than the naive token join (the oracle below IS the naive
    join, proving equivalence);
  * MinHash-LSH banding bounds candidate generation to per-bucket
    groups — never an O(n²) crossJoin;
  * embedding-cosine near-dup buckets by centroid and prunes cluster
    pairs with a sound triangle-inequality bound — exact output, no
    all-pairs join in the plan;
  * hashes are JVM built-ins: xxhash64 on the production paths (l2b,
    l2c, l2e), the md5 prefix (_ngrams.md5_hash60) on the portable
    twins whose DuckDB oracles must reproduce every signature bit;
  * no row-at-a-time Python UDFs. Python runs only in vectorized
    mapInArrow passes: PPJoin's mask tier (one pass per doc group)
    and the embedding verify kernels of l2d and l32.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from ..registry import register
from ._cache import collect_if_small, ephemeral_cache, file_fingerprint
from ._ngrams import md5_hash60, word_ngrams
from .graph import connected_components

JACCARD_T = 0.9


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, token) pairs — set semantics for Jaccard."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token"))
    )


@register(
    "l1_exact_dedup",
    oracle="""
    SELECT MD5(text) AS content_hash, MIN(doc_id) AS canonical_doc,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY MD5(text)
    """,
    tags=("L1",),
)
def l1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the smallest doc_id as
    canonical. Hashing first means the shuffle key is 16 bytes, not the
    document body."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("canonical_doc"), F.count("*").alias("n_copies")
    )


@register(
    "l2_jaccard_neardup",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS token
      FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS overlap
      FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(overlap * 1.0 / (sa.n + sb.n - overlap), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE overlap * 1.0 / (sa.n + sb.n - overlap) >= {JACCARD_T}
    """,
    tags=("L2",),
)
def l2_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-dup join with PPJoin prefix
    filtering. The oracle is the naive all-shared-tokens join — this
    query must produce the identical pair set, demonstrating the
    filter loses nothing.

    r10 introduced the collapse on exact-duplicate TEXTS (the l2b
    unique-signature factoring, VERDICT r9 item 5); r11 generalizes the
    collapse key to the CANONICAL TOKEN SET (sorted distinct tokens
    joined by the split delimiter — a bijective rendering, so md5 of it
    is an exact set identity). Jaccard depends only on the token SET,
    so docs with equal sets — even with different texts: reordered or
    repeated tokens — are interchangeable: PPJoin runs over one
    min-doc_id representative per distinct set, qualifying
    representative pairs expand back to member pairs (same jaccard),
    and within-group pairs are emitted directly at jaccard 1.0 (every
    set equals itself). On a re-crawled corpus where dup groups carry
    k copies this removes the k² blow-up from candidate generation AND
    verification — only the OUTPUT stays pair-sized, which it must —
    and on a small-vocabulary corpus it additionally collapses the
    coincidentally-equal sets the text key missed (sf0.1 fixture:
    4992/5000 distinct texts but 3935 distinct sets, largest set-group
    248 docs ⇒ one rep instead of 248² verify pairs). Output proven
    equal to the uncollapsed form by the unchanged naive oracle. The
    collapse is ADAPTIVE (_collapse_pays on the set key): on an
    effectively set-distinct corpus the direct join is cheaper."""
    d = load_table(spark, sf_dir, "documents")
    set_key = F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(F.split("text", " "))))
    )
    if not _collapse_pays(d, sf_dir, key=set_key, tag="tokenset"):
        verified = ppjoin_pairs(_doc_tokens(spark, sf_dir), JACCARD_T)
        return verified.select(
            "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
        )
    m = d.select("doc_id", set_key.alias("h"))
    groups = m.groupBy("h").agg(F.min("doc_id").alias("rep"))
    mem = m.join(groups, "h").select("doc_id", "rep")
    rep_tokens = _doc_tokens(spark, sf_dir).join(
        groups.select(F.col("rep").alias("doc_id")), "doc_id"
    )
    rp = ppjoin_pairs(rep_tokens, JACCARD_T)
    cross = (
        rp.join(
            mem.select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("ma")),
            "doc_a",
        )
        .join(
            mem.select(F.col("rep").alias("doc_b"), F.col("doc_id").alias("mb")),
            "doc_b",
        )
        .select(
            F.least("ma", "mb").alias("doc_a"),
            F.greatest("ma", "mb").alias("doc_b"),
            "jaccard",
        )
    )
    within = (
        mem.alias("x")
        .join(
            mem.alias("y"),
            (F.col("x.rep") == F.col("y.rep"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionAll(within).select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


_COLLAPSE_PROBE_CACHE: dict[tuple, bool] = {}


def _documents_fingerprint(sf_dir: str) -> tuple:
    """Cheap identity of the documents table, no Spark job: its absolute
    path and :func:`file_fingerprint` (a single file's size and mtime,
    or a directory's part files). Changes whenever the data does."""
    root = os.path.abspath(os.path.join(sf_dir, "documents.parquet"))
    try:
        return (root, file_fingerprint(root))
    except OSError:
        return (sf_dir, None)  # no documents file: still cached per sf_dir


def _collapse_pays(
    d: DataFrame,
    sf_dir: str | None = None,
    key=None,
    tag: str = "text",
) -> bool:
    """Driver-side probe: does exact-dup collapse pay for this corpus?
    Collapse removes the k² candidate/verify blow-up of k-copy dup
    groups but costs a handful of linear joins (md5 grouping, member
    expansion) — pure overhead on a dup-free corpus (measured +1.1 s
    on l2 at sf0.1, where 4992/5000 texts are distinct). One
    approx_count_distinct over text decides: collapse when ≥ ~10 % of
    docs are copies. The estimator's ±2 % error only shifts a threshold
    that is itself a heuristic.

    ``key`` is the collapse-identity expression (default: the raw text).
    r11: the Jaccard family collapses on the CANONICAL TOKEN SET — the
    exact object jaccard is computed over — so distinct texts with equal
    token sets still collapse; pass the same key the builder groups by,
    with a ``tag`` naming it for the memo.

    MEMOIZED per (documents fingerprint, tag) when sf_dir is given
    (ADVICE r10): the probe is an eager corpus scan, and builders run
    at plan-construction time — EXPLAIN-only consumers and plan tests
    shouldn't pay a full text scan per builder call, and timing
    harnesses shouldn't attribute it to 'build' more than once. The
    fingerprint follows the files, so a corpus rewritten in place is
    probed again."""
    memo_key = (_documents_fingerprint(sf_dir), tag) if sf_dir else None
    if memo_key is not None and memo_key in _COLLAPSE_PROBE_CACHE:
        return _COLLAPSE_PROBE_CACHE[memo_key]
    st = d.agg(
        F.count("*").alias("n"),
        F.approx_count_distinct(
            key if key is not None else F.col("text")
        ).alias("u"),
    ).first()
    pays = st.u <= 0.9 * st.n
    if memo_key is not None:
        _COLLAPSE_PROBE_CACHE[memo_key] = pays
    return pays


def _int_tokens(tok: DataFrame, dict_: DataFrame | None = None) -> DataFrame:
    """(doc_id, tid, df): the token relation with each distinct token
    replaced by its integer id in the pinned dictionary ``dict_``
    (built by :func:`_token_dict` when not given) and its global
    document frequency. Ints downstream mean the candidate join keys
    and the verify arrays ship 8 bytes instead of shingle strings (r10:
    measured 3.8 → 3.0 s steady on l71 at sf0.1).

    The joined relation is ALSO pinned (r12): PPJoin's
    general tier consumes it several times (sizes, prefix ranking,
    verify sets) and Spark re-runs the tokenize/shingle + dict join
    above the reused exchanges per consumer — a one-shot A/B with and
    without the pin (rebuild plus execute, 32 cores) measured it worth
    1.3-1.8 s per shingle-family query (l23/l71/l81/l84). The mask tier
    (:func:`_ppjoin_mask_pairs`) reads the tokens once, in one Arrow
    pass, so it takes no joined pin. Its word-token consumers did not
    need one: on a 4-core host (sf0.1, one-shot rebuild plus ``noop``,
    min of 3, best of two sessions) moving them to that tier took
    l2 1.67 → 1.49 s, l22 1.78 → 1.57 s and l90 1.72 → 1.43 s
    (plans/r21/README.md)."""
    dict_ = _token_dict(tok) if dict_ is None else dict_
    joined = tok.join(dict_, "token").select("doc_id", "tid", "df")
    return ephemeral_cache(joined)


def _token_dict(tok: DataFrame, probe: Column | None = None) -> DataFrame:
    """The pinned token dictionary (token, df, tid) of a distinct
    (doc_id, token) relation: each distinct token's document frequency
    and an integer id. With ``probe`` (see :func:`ppjoin_pairs`) df
    counts only the docs outside the probe, so a token only probe docs
    hold has df 0.

    The id is ``monotonically_increasing_id`` over the grouped
    dictionary — and the dictionary MUST be pinned with
    ephemeral_cache before fan-out: a mono-id over a shuffle output is
    assigned from partition index + arrival order, and two subtree
    re-evaluations (Spark recomputes a relation per downstream
    reference unless an exchange is reused) can fetch shuffle blocks
    in different orders and mint DIFFERENT token→tid mappings — the
    a-side and b-side of the self-join would then disagree on what an
    id means. The checkpoint makes the mapping a fact, not a plan.
    (tid, not a global row_number, because numbering a corpus-sized
    shingle dictionary through one window partition is a single-task
    bottleneck at scale; any bijection works — ranking ties break on
    (df, tid), still one global total order.)"""
    df = F.count("*") if probe is None else F.count(F.when(~probe, 1))
    return ephemeral_cache(
        tok.groupBy("token")
        .agg(df.alias("df"))
        .withColumn("tid", F.monotonically_increasing_id()),
        required=True,  # mono-id mapping must be a fact, not a plan
    )


PPJOIN_MASK_MAX_VOCAB = 1024


def ppjoin_pairs(
    tok: DataFrame, threshold: float, probe: Column | None = None
) -> DataFrame:
    """Exact set-similarity join via PPJoin prefix filtering over a
    distinct (doc_id, token) relation: returns (doc_a, doc_b, jaccard)
    pairs with jaccard ≥ threshold, raw (unrounded). Candidates fan out
    only on each doc's |d|-⌈t·|d|⌉+1 rarest tokens, so the join is
    inverted-index-shaped at any corpus size.

    Without ``probe`` it is the self-join: every pair once, doc_a <
    doc_b (l2, l18, l23 and the composed curation pipelines).
    ``probe`` is a boolean Column over doc_id that splits the docs into
    a batch and its history: pairs then have doc_a a probe doc and
    doc_b a non-probe doc, and two probe docs or two history docs never
    pair (x7's incremental check of a new batch). The dictionary's df
    then counts only history docs — the stored index's frequencies — so
    a token seen only in the batch ranks rarest. Any one global order
    keeps the prefix filter exact; both sides share this one. A doc
    whose probe is null is on neither side.

    Two tiers, picked by the dictionary's size. The dictionary is
    pinned first (one job path for both tiers), then ONE bounded read
    of the pin (collect_if_small, at most PPJOIN_MASK_MAX_VOCAB + 1
    rows) both picks the tier and, when it fits, hands the whole
    dictionary to the driver:

      * mask tier (≤ PPJOIN_MASK_MAX_VOCAB tokens, every word-token
        caller on the fixtures): _ppjoin_mask_pairs — one Arrow pass
        builds each doc's bitmask and prefix, overlap is a map-side
        popcount at the candidate join. No joined pin, no windows.
      * general tier (wider dictionaries: shingles, whose collisions
        are rare by construction): the aggregated candidate bound and
        the sorted-array verify below, over the pinned (doc_id, tid,
        df) relation.

    Each tier splits its prefix relation into the two sides
    (_ppjoin_sides) right before the tid join; everything upstream is
    the same plan with or without ``probe``.

    The bounded read comes from the PIN, never from the unpinned
    dictionary: a probe of the unpinned plan re-runs the tokenize/
    shingle subtree, which the general tier then pays again."""
    dict_ = _token_dict(tok, probe)
    held = collect_if_small(dict_.select("token", "df"), PPJOIN_MASK_MAX_VOCAB)
    if held is not None:
        return _ppjoin_mask_pairs(tok, held, threshold, probe)
    toki = _int_tokens(tok, dict_=dict_)
    _, prefix = _ranked_prefix(toki, threshold)

    # Candidate pruning beyond the prefix collision itself (Xiao et al.
    # WWW'08 §3): the LENGTH filter (jaccard ≥ t forces |a|,|b| within
    # a factor t of each other) at the join, then — r10 — the
    # AGGREGATED positional bound: instead of bounding overlap from a
    # single collision and DISTINCT-ing, group the collisions per pair
    # and count them. m = matching prefix tokens; every shared token
    # beyond those m sits after BOTH last matches (prefix ranks are
    # order-isomorphic on shared tokens — one global (df, tid) order),
    # so overlap ≤ m + min(na − pamax, nb − pbmax). A qualifying pair
    # needs overlap ≥ ⌈t/(1+t)·(na+nb)⌉. Exact superset, and strictly
    # tighter than the single-collision bound: at τ=0.5 over sf0.1
    # shingles it cuts candidates 308k → 120k and the verify pipeline
    # 5.1 → 2.9 s; the groupBy replaces the distinct, same shuffle.
    # The single-collision bound STAYS as a map-side pre-filter — it
    # drops collisions before they shuffle into the aggregation, which
    # is where a tiny-vocabulary corpus (every prefix collides with
    # everything) pays (l2 regressed 4.4 → 6.3 s without it).
    na, nb = F.col("a.n"), F.col("b.n")
    pa, pb = F.col("a.rank"), F.col("b.rank")
    min_overlap = F.ceil(
        F.lit(threshold) / (1.0 + threshold) * (na + nb)
    )
    ubound = F.least(pa, pb) + F.least(na - pa, nb - pb)
    side_a, side_b, pair = _ppjoin_sides(prefix, probe, "a.doc_id", "b.doc_id")
    cand = (
        side_a.alias("a")
        .join(side_b.alias("b"), on="tid")
        .filter(
            pair
            & (na >= F.ceil(F.lit(threshold) * nb))
            & (nb >= F.ceil(F.lit(threshold) * na))
            & (ubound >= min_overlap)
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(
            F.count("*").alias("m"),
            F.max(pa).alias("pamax"),
            F.max(pb).alias("pbmax"),
            F.max(na).alias("gna"),
            F.max(nb).alias("gnb"),
        )
        .filter(
            F.col("m")
            + F.least(
                F.col("gna") - F.col("pamax"), F.col("gnb") - F.col("pbmax")
            )
            >= F.ceil(
                F.lit(threshold)
                / (1.0 + threshold)
                * (F.col("gna") + F.col("gnb"))
            )
        )
        .select("doc_a", "doc_b")
    )
    return (
        _set_overlap(cand, toki, "doc_a", "doc_b")
        .withColumn(
            "jaccard",
            F.col("overlap")
            * F.lit(1.0)
            / (F.col("na") + F.col("nb") - F.col("overlap")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _ppjoin_sides(prefix: DataFrame, probe: Column | None, a: str, b: str):
    """(side a, side b, pair predicate) of PPJoin's prefix join, for
    both tiers: the self-join's (prefix, prefix, a < b), or with
    ``probe`` (probe docs' prefixes, the rest's, every pair). ``a`` and
    ``b`` name the two sides' doc columns after the join."""
    if probe is None:
        return prefix, prefix, F.col(a) < F.col(b)
    return prefix.filter(probe), prefix.filter(~probe), F.lit(True)


def _ranked_prefix(toki: DataFrame, threshold: float):
    """(ranked, prefix) of a (doc_id, tid, df) relation: ranked is
    (doc_id, tid, rank, n), each doc's tokens numbered rarest-first by
    the global (df, tid) order, n its size; prefix keeps the rows with
    rank ≤ n − ⌈t·n⌉ + 1. Shared by PPJoin's general tier and the
    one-sided containment join (_containment_pairs).

    Global token frequency orders tokens rarest-first: prefixes then
    collide only on rare tokens, which is what bounds the fan-out. No
    broadcast hint on the size join: AQE picks broadcast when the
    relation is small and a shuffle hash join when it is not."""
    sizes = toki.groupBy("doc_id").agg(F.count("*").alias("n"))
    ranked = (
        toki.join(sizes, "doc_id")
        .withColumn(
            "rank",
            # deterministic tiebreak on tid ((df, tid) is a global
            # total order — see _token_dict)
            F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "tid")),
        )
        .select("doc_id", "tid", "rank", "n")
    )
    prefix = ranked.filter(
        F.col("rank") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    )
    return ranked, prefix


def _set_overlap(cand: DataFrame, toki: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Exact overlap of the candidate pairs ``cand`` (columns a_col,
    b_col) over a distinct (doc_id, tid) relation: each doc's tids
    become one sorted array, joined to both sides, and overlap is the
    size of their intersection. Returns a_col, b_col, na, nb, overlap
    and the arrays (toks_a, toks_b)."""
    sets = toki.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("tid")).alias("toks"),
        F.count("*").alias("n"),
    )
    return (
        cand.join(
            sets.select(
                F.col("doc_id").alias(a_col),
                F.col("toks").alias("toks_a"),
                F.col("n").alias("na"),
            ),
            a_col,
        )
        .join(
            sets.select(
                F.col("doc_id").alias(b_col),
                F.col("toks").alias("toks_b"),
                F.col("n").alias("nb"),
            ),
            b_col,
        )
        .withColumn("overlap", F.size(F.array_intersect("toks_a", "toks_b")))
    )


def _mask_prefix_fn(tokens, threshold: float, nwords: int):
    """mapInArrow kernel factory of the PPJoin mask tier: one pass over
    (doc_id, tokens: array<token>) batches, one row per doc and its
    tokens distinct, that emits (doc_id, tid, n, w0..w{nwords-1}) for
    every token of the doc's PPJoin prefix.

    ``tokens`` is the driver-held dictionary in rank order — ascending
    (df, token), rarest first, one global total order — so a token's
    tid is its position there, and it is also its bit: word tid // 64,
    bit tid % 64. Per doc: n is the number of its tokens found in
    the dictionary (a null token or one the dictionary lacks is
    dropped, as the general tier's dictionary join drops it), the mask
    words OR those bits (two's-complement longs, so bit 63 reads
    negative, as shiftleft(1, 63) does in Spark) and the prefix is the
    n − ⌈t·n⌉ + 1 smallest tids, with ⌈t·n⌉ evaluated in doubles as
    Spark's ceil(t * n) is. A factory so the dictionary pickles by
    value into the kernel's closure."""

    def fn(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            ids, lists = batch.column(0), batch.column(1)
            ndocs = len(ids)
            flat = lists.flatten()
            tid = pc.fill_null(
                pc.index_in(flat, value_set=tokens.cast(flat.type)), -1
            ).to_numpy(zero_copy_only=False).astype(np.int64)
            doc = np.repeat(
                np.arange(ndocs),
                pc.list_value_length(lists).to_numpy(zero_copy_only=False),
            )
            found = tid >= 0
            doc, tid = doc[found], tid[found]
            order = np.lexsort((tid, doc))
            doc, tid = doc[order], tid[order]
            n = np.bincount(doc, minlength=ndocs).astype(np.int64)
            start = np.cumsum(n) - n
            rank = np.arange(len(tid)) - start[doc] + 1
            plen = n - np.ceil(threshold * n.astype(np.float64)).astype(np.int64) + 1
            words = np.zeros((ndocs, nwords), dtype=np.uint64)
            np.bitwise_or.at(
                words,
                (doc, tid // 64),
                np.left_shift(np.uint64(1), (tid % 64).astype(np.uint64)),
            )
            words = words.view(np.int64)
            sel = rank <= plen[doc]
            pdoc = doc[sel]
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(pdoc, type=pa.int64())),
                    pa.array(tid[sel], type=pa.int64()),
                    pa.array(n[pdoc], type=pa.int64()),
                    *[pa.array(words[pdoc, w], type=pa.int64()) for w in range(nwords)],
                ],
                ["doc_id", "tid", "n", *[f"w{w}" for w in range(nwords)]],
            )

    return fn


def _ppjoin_mask_pairs(
    tok: DataFrame, held, threshold: float, probe: Column | None
) -> DataFrame:
    """PPJoin's mask tier, for a dictionary the driver holds (``held``:
    its (token, df) rows, at most PPJOIN_MASK_MAX_VOCAB): each doc's
    token set is ⌈vocab/64⌉ SEPARATE long columns (w0..wk — scalar
    columns, not an array, so the per-collision popcount sum stays
    inside whole-stage codegen; HOF zip_with/aggregate evaluate
    interpreted, the f20 lesson) and overlap is Σ bit_count(aw & bw),
    evaluated MAP-SIDE on each prefix collision — nothing shuffles
    after the candidate join except qualifying pairs. At vocab ≤ 64
    that is one word and one popcount per collision (the fixture's
    31-token corpus: l2, l18, l22, l90, x7). ``probe`` splits the
    prefix relation as ppjoin_pairs describes.

    The driver ranks the dictionary by (df, token) — deterministic, so
    no id needs pinning — and one groupBy(doc_id) plus the
    _mask_prefix_fn Arrow pass builds masks, sizes and prefixes
    together: no joined pin, no bit-numbering window, no prefix-rank
    window. The tokens stay Spark's: the pass reads the caller's
    relation, it does not re-tokenize.

    Why the tier exists (r11 dedup scale-up finding): the general path
    bounds the verify through a groupBy over ALL prefix collisions,
    which on a dense mid-width corpus IS the dominant shuffle — at
    160 k salted docs (vocab 992) the collision aggregation alone ran
    92 s cutting 127 M collisions to 54 M candidates that the verify
    joins then still had to pay for. Here the same 127 M collisions
    cost 16 ANDed-long popcounts each, map-side. Above the cap, masks
    stop fitting comfortably in a shuffle row, and wide dictionaries
    (shingles) make prefix collisions rare anyway, so the general
    candidate+verify machinery stays the right shape. Candidate-bound
    semantics match the general path: prefix filter + length filter;
    the aggregated positional bound is unnecessary when verification
    itself is this cheap.

    Identical duplicate collision rows carry bit-identical jaccard
    doubles (same integer popcount inputs), so the DISTINCT is exact."""
    import pyarrow.compute as pc

    held = held.filter(pc.is_valid(held["token"])).sort_by(
        [("df", "ascending"), ("token", "ascending")]
    )
    tokens = held["token"].combine_chunks()
    nwords = max(1, (len(tokens) + 63) // 64)
    schema = T.StructType(
        [
            T.StructField("doc_id", tok.schema["doc_id"].dataType),
            T.StructField("tid", T.LongType()),
            T.StructField("n", T.LongType()),
            *[T.StructField(f"w{w}", T.LongType()) for w in range(nwords)],
        ]
    )
    prefix = (
        tok.groupBy("doc_id")
        .agg(F.collect_list("token").alias("tokens"))
        .mapInArrow(_mask_prefix_fn(tokens, threshold, nwords), schema)
    )
    side_a, side_b, pair = _ppjoin_sides(prefix, probe, "doc_a", "doc_b")
    side_a = side_a.select(
        F.col("doc_id").alias("doc_a"),
        "tid",
        F.col("n").alias("na"),
        *[F.col(f"w{w}").alias(f"a{w}") for w in range(nwords)],
    )
    side_b = side_b.select(
        F.col("doc_id").alias("doc_b"),
        "tid",
        F.col("n").alias("nb"),
        *[F.col(f"w{w}").alias(f"b{w}") for w in range(nwords)],
    )
    overlap = F.expr(
        " + ".join(f"bit_count(a{w} & b{w})" for w in range(nwords))
    )
    jaccard = overlap * F.lit(1.0) / (F.col("na") + F.col("nb") - overlap)
    return (
        side_a.join(side_b, on="tid")
        .filter(
            pair
            & (F.col("na") >= F.ceil(F.lit(threshold) * F.col("nb")))
            & (F.col("nb") >= F.ceil(F.lit(threshold) * F.col("na")))
        )
        .select("doc_a", "doc_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .distinct()
    )


# ---- MinHash + LSH ----------------------------------------------------

N_HASHES = 16
BAND_SIZE = 4  # 4 bands of 4 rows → candidates concentrate above jaccard ≈ 0.7


def minhash_signatures(tok: DataFrame) -> DataFrame:
    """(doc_id, sig: array<long>) — minimum of xxhash64(token, seed)
    per seed; entirely JVM-side (one explode already done upstream)."""
    sigs = [
        F.min(F.xxhash64(F.col("token"), F.lit(i))).alias(f"h{i}")
        for i in range(N_HASHES)
    ]
    return (
        tok.groupBy("doc_id")
        .agg(*sigs)
        .select("doc_id", F.array(*[f"h{i}" for i in range(N_HASHES)]).alias("sig"))
    )


@register(
    "l2b_minhash_lsh",
    oracle=None,  # xxhash64-dependent → rows-only; recall vs the exact
    # join is asserted in tests/test_llm.py, and l58_minhash_portable
    # is the engine-portable variant whose pairs hash-match DuckDB
    tags=("L2",),
)
def l2b_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs: shingle→minhash→band→bucket-join.
    Bands hash to buckets; only same-bucket docs pair up, so candidate
    generation is local to buckets (the 100 TB-safe shape). Pairs are
    then verified with the true signature agreement rate."""
    tok = _doc_tokens(spark, sf_dir)
    # pinned (r12): consumed by `members` (twice, the expansion joins)
    # and `usig` (bands + self-pairs) — the tokenize + 16-way xxhash-min
    # groupBy re-executed ~4x per run before
    sig = ephemeral_cache(minhash_signatures(tok))
    # MEGA-BUCKET GUARD (r9): factor by IDENTICAL full signature before
    # the bucket self-join.  A duplicate-heavy corpus (the re-crawl
    # shape this fixture models — 5 k docs here produce 4.5 M output
    # pairs) puts every copy of a document into the same (band, bucket),
    # so the raw band self-join and the pair-distinct run over
    # |clique|^2 intermediates per band.  Docs with equal signatures
    # are interchangeable for BOTH stages (equal sigs → equal band
    # buckets AND est_jaccard 1.0), so the join/distinct/verify runs on
    # UNIQUE signatures only (quadratically smaller), and qualifying
    # signature pairs expand back to doc pairs by two member joins —
    # pure generation, no quadratic shuffle.  Output is provably
    # identical to the unfactored join: intra-group pairs share every
    # band (est 1.0 ≥ 0.75, always emitted via the sig self-pair), and
    # cross-group pairs collide in a band iff their unique signatures
    # do.  Residual skew — many DISTINCT signatures sharing one bucket
    # — is inherent to LSH and left to AQE skew-join handling.
    #
    # The signature array itself is the group/join key: 16 longs = 128
    # bytes, cheaper than risking a hash collision silently merging
    # groups.  Bands still carry only (sig, band, bucket) rows for
    # unique sigs; members are a (sig, doc_id) relation, never a
    # collected list, so a 100 M-doc clique stays distributed.
    members = sig.select(F.col("sig").alias("msig"), "doc_id")
    usig = sig.select("sig").distinct()
    bands = usig.select(
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col("sig")[i] for i in range(b * BAND_SIZE, (b + 1) * BAND_SIZE)]
                        ).alias("bucket"),
                    )
                    for b in range(N_HASHES // BAND_SIZE)
                ]
            )
        ).alias("bb"),
    ).select("sig", "bb.band", "bb.bucket")
    # unique-sig candidate pairs: any band collision, deduped; the
    # arbitrary-but-deterministic (hash, sig) order keeps each unordered
    # pair once, like doc_a < doc_b did at doc level
    cand_sig = (
        bands.alias("a")
        .join(bands.alias("b"), on=["band", "bucket"])
        .filter(
            (F.xxhash64(F.col("a.sig")) < F.xxhash64(F.col("b.sig")))
            | (
                (F.xxhash64(F.col("a.sig")) == F.xxhash64(F.col("b.sig")))
                & (F.col("a.sig") < F.col("b.sig"))
            )
        )
        .select(F.col("a.sig").alias("sig_a"), F.col("b.sig").alias("sig_b"))
        .distinct()
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    verified_sig = cand_sig.withColumn(
        "est_jaccard", F.round(agree / F.lit(N_HASHES), 6)
    ).filter(F.col("est_jaccard") >= 0.75)
    # self-pairs: every signature group of size >= 2 emits its member
    # combinations at est 1.0 (equal sigs always share every band)
    self_sig = usig.select(
        F.col("sig").alias("sig_a"),
        F.col("sig").alias("sig_b"),
        F.lit(1.0).alias("est_jaccard"),
        F.lit(True).alias("is_self"),
    )
    pairs_sig = verified_sig.withColumn("is_self", F.lit(False)).unionByName(
        self_sig
    )
    expanded = (
        pairs_sig.join(
            members.select(
                F.col("msig").alias("sig_a"), F.col("doc_id").alias("doc_a")
            ),
            "sig_a",
        )
        .join(
            members.select(
                F.col("msig").alias("sig_b"), F.col("doc_id").alias("doc_b")
            ),
            "sig_b",
        )
        # self-pairs expand A×A: keep each unordered member pair once
        # (and drop (a, a)).  Cross-group pairs were already kept once
        # per unordered sig pair, so EVERY member combination survives
        # — its doc orientation is normalized below.
        .filter((~F.col("is_self")) | (F.col("doc_a") < F.col("doc_b")))
    )
    return expanded.select(
        F.least("doc_a", "doc_b").alias("doc_a"),
        F.greatest("doc_a", "doc_b").alias("doc_b"),
        "est_jaccard",
    )


@register(
    "l2c_simhash",
    oracle=None,  # xxhash64-dependent → rows-only
    tags=("L2",),
)
def l2c_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document: sign-sum of token hash bits —
    near-dup docs land within small Hamming distance. Computed with
    built-ins only (no UDF): bit b of the fingerprint is the sign of
    Σ_tokens (bit b ? +1 : -1), packed in one aggregation pass
    (_simhash_fingerprints)."""
    return _simhash_fingerprints(spark, sf_dir).select("doc_id", "simhash")


SIMHASH_MAX_HD = 3  # pair if Hamming distance <= 3 of 64 bits


def _simhash_fingerprints(spark: SparkSession, sf_dir: str):
    """Shared 64-bit SimHash relation (the l2c construction).

    r10 shape: the per-bit sign sums come from 64 AGGREGATE COLUMNS in
    ONE groupBy pass over the (doc, token-hash) relation instead of
    exploding 64 bit-rows per token (a 64× row blowup through two
    aggregations). The per-bit sign is s = Σ±1 = 2·cnt_b − n, so
    "s > 0" becomes "2·cnt_b > n" — identical fingerprints, and the
    narrow int sums stay inside whole-stage codegen (measured: the
    explode form dominated l2c/l2e's wall)."""
    tok = _doc_tokens(spark, sf_dir)
    return _pack_signhash(
        tok.selectExpr("doc_id", "xxhash64(token) AS hx"), 64
    )


def _pack_signhash(h: DataFrame, nbits: int) -> DataFrame:
    """(doc_id, simhash): majority-sign pack of ``nbits`` bit counts of
    the hx column, one aggregation pass (see _simhash_fingerprints).

    Pinned (r12): the Hamming-join consumers (l2e, l2e_portable)
    reference the fingerprint relation on BOTH sides of the block
    self-join, and the nbits-column sum aggregate + nbits-term pack
    projection re-executed per side (exchange reuse only saves the
    shuffle below it)."""
    aggs = [
        F.sum(F.expr(f"shiftright(hx, {b}) & 1")).alias(f"c{b}")
        for b in range(nbits)
    ]
    cnts = h.groupBy("doc_id").agg(F.count("*").alias("n"), *aggs)
    packed = " + ".join(
        f"(CASE WHEN 2 * c{b} > n"
        f" THEN shiftleft(CAST(1 AS BIGINT), {b})"
        f" ELSE CAST(0 AS BIGINT) END)"
        for b in range(nbits)
    )
    return ephemeral_cache(
        cnts.select("doc_id", F.expr(packed).alias("simhash"))
    )


@register(
    "l2e_simhash_pairs",
    oracle=None,  # xxhash64-dependent fingerprints -> rows-only;
    # exactness (== brute-force Hamming join) asserted in tests/test_llm.py
    tags=("L2", "EXT"),
)
def l2e_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Hamming-neighbor join over the l2c SimHash fingerprints —
    the pair-generation half the fingerprint alone leaves open.

    Pigeonhole banding (Manku et al., WWW'07): split the 64-bit
    fingerprint into HD+1 = 4 disjoint 16-bit blocks; any two prints
    within Hamming distance 3 agree EXACTLY on at least one block, so
    candidates come from 4 equi-joins on (block_idx, block_value) —
    never an all-pairs scan — and a popcount verify keeps true
    neighbors only.  Recall is 1.0 by construction (pigeonhole), so
    unlike LSH there is no tuning/recall trade.  At 100 TB the
    fingerprint table is 16 bytes/doc, the block join shuffles
    4 rows/doc of 12 bytes, and collisions localize to equal-block
    buckets — the same posture as l2b with a deterministic guarantee."""
    return _hamming_pairs(_simhash_fingerprints(spark, sf_dir), 16)


def _hamming_pairs(fp: DataFrame, block_bits: int) -> DataFrame:
    """(doc_a < doc_b, hamming ≤ SIMHASH_MAX_HD) over (doc_id, simhash)
    fingerprints of (SIMHASH_MAX_HD + 1) · block_bits bits: each print
    splits into SIMHASH_MAX_HD + 1 disjoint block_bits-bit blocks, so a
    pair within the bound agrees on a whole block (pigeonhole), the
    candidates are one equi-join on (block index, block value), and a
    popcount verifies them. Shared by l2e (4 × 16 bits) and
    l2e_portable (4 × 15)."""
    nblocks = SIMHASH_MAX_HD + 1
    blocks = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {nblocks - 1}), k -> named_struct("
                f"  'k', k,"
                f"  'blk', shiftright(simhash, k * {block_bits})"
                f" & {2**block_bits - 1}))"
            )
        ).alias("kb"),
    ).select("doc_id", "simhash", "kb.k", "kb.blk")
    cand = (
        blocks.alias("a")
        .join(blocks.alias("b"), on=["k", "blk"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .distinct()
    )
    hd = F.expr("bit_count(ha ^ hb)")
    return (
        cand.withColumn("hamming", hd.cast("long"))
        .filter(F.col("hamming") <= SIMHASH_MAX_HD)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


@register(
    "l2d_embedding_neardup",
    oracle="""
    WITH v AS (
      SELECT vec_id, i,
             CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN range(1, 65) t(i)
    ),
    norms AS (
      SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM v GROUP BY vec_id
    ),
    dots AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, SUM(a.x * b.x) AS dot
      FROM v a JOIN v b ON a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY a.vec_id, b.vec_id
    )
    SELECT vec_a, vec_b, ROUND(dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM dots
    JOIN norms na ON vec_a = na.vec_id
    JOIN norms nb ON vec_b = nb.vec_id
    WHERE dot / (na.nrm * nb.nrm) >= 0.55
    """,
    tags=("L2", "L3"),
)
def l2d_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.55), exact,
    via centroid bucketing — no all-pairs join anywhere in the plan.

    Shape: assign every vector to its label centroid (broadcast join),
    compute each cluster's angular radius r_c = max θ(v, cent_c), and
    prune cluster pairs with the triangle inequality on angles — a pair
    (a ∈ c1, b ∈ c2) can satisfy θ(a,b) ≤ θ_max only if
    θ(cent1,cent2) ≤ θ_max + r1 + r2 (since θ(c1,c2) ≤ θ(c1,a) +
    θ(a,b) + θ(b,c2)).  Candidates are generated ONLY within surviving
    cluster pairs through equi-joins on cluster ids, then verified with
    the exact cosine.  The bound is sound (with 1e-9 slack for float
    jitter), so the output is identical to the all-pairs oracle below —
    the hash-match proves zero recall loss.

    At 100 TB: swap the label quantizer for a kmeans_fit codebook
    (llm_similarity.kmeans_fit, same plan), scale K with the corpus so
    clusters stay tight; shuffle volume is bounded by surviving cluster
    pairs instead of n².  Threshold 0.55 sits below the fixture's max
    pairwise cosine (0.6009 at sf0.1) so matches are provably produced.

    Cosine math stays in higher-order array functions (zip_with /
    aggregate) — JVM-side, no UDF, and no BroadcastNestedLoopJoin
    (locked by tests/test_plans.py)."""
    threshold = 0.55
    theta_max = math.acos(threshold)
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    nrm = lambda a: F.sqrt(dot(a, a))  # noqa: E731
    clamp = lambda c: F.least(F.lit(1.0), F.greatest(F.lit(-1.0), c))  # noqa: E731

    # Coarse quantizer: decimal-exact per-label centroids (640 rows).
    cent = (
        vecs.select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            (F.sum(F.col("x").cast("decimal(28,12)")).cast("double") / F.count("*"))
            .cast("double")
            .alias("c")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            F.col("label").alias("cid"),
            F.transform("pc", lambda s: s["c"]).alias("cv"),
        )
        .withColumn("cnrm", nrm("cv"))
    )
    assigned = (
        vecs.withColumn("vnrm", nrm("v"))
        .join(F.broadcast(cent), vecs.label == cent.cid)
        .select(
            "vec_id",
            "v",
            "vnrm",
            "cid",
            F.acos(clamp(dot("v", "cv") / (F.col("vnrm") * F.col("cnrm")))).alias(
                "theta"
            ),
        )
    )
    radii = assigned.groupBy("cid").agg(F.max("theta").alias("r"))

    # Cluster-pair pruning table: K² rows (K = 10 labels here).  The
    # codebook is collected into ONE array row and pair combinations are
    # exploded from it — no join node at all for the tiny cross, so the
    # plan can never degrade to a nested loop.  Survivors are the ONLY
    # (cid_a, cid_b) combinations candidates come from.
    packed = cent.agg(F.collect_list(F.struct("cid", "cv", "cnrm")).alias("cs"))
    cpairs = (
        packed.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "cs",
                        lambda a: F.transform(
                            F.col("cs"),
                            lambda b: F.struct(
                                a["cid"].alias("c1"),
                                b["cid"].alias("c2"),
                                F.acos(
                                    clamp(
                                        F.aggregate(
                                            F.zip_with(
                                                a["cv"], b["cv"], lambda x, y: x * y
                                            ),
                                            F.lit(0.0),
                                            lambda acc, x: acc + x,
                                        )
                                        / (a["cnrm"] * b["cnrm"])
                                    )
                                ).alias("theta_cc"),
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.c1", "p.c2", "p.theta_cc")
        .join(F.broadcast(radii.select(F.col("cid").alias("c1"), F.col("r").alias("r1"))), "c1")
        .join(F.broadcast(radii.select(F.col("cid").alias("c2"), F.col("r").alias("r2"))), "c2")
        .filter(F.col("theta_cc") <= F.lit(theta_max + 1e-9) + F.col("r1") + F.col("r2"))
        .select("c1", "c2")
    )

    # r10: BLOCK-GEMM verify. The r9 kernel shipped BOTH 64-double
    # vectors once per CANDIDATE PAIR across the Arrow bridge — the
    # candidate mass is quadratic within surviving cluster pairs, so
    # the bridge bytes were quadratic too. Ship each cluster's packed
    # vectors once per surviving cluster pair instead (K²-bounded rows
    # of matrices) and score the |c1|×|c2| block with ONE BLAS GEMM in
    # the task: bridge volume falls from O(pairs · dim) to
    # O(survivors · cluster_size · dim), the per-pair work from an
    # interpreted fold / per-row einsum to a dgemm row. Ordered
    # cluster pairs + the in-kernel vec_a < vec_b mask keep each
    # vector pair emitted exactly once (same argument as before);
    # norms are f64 row norms of the same matrices, cosine cut on the
    # UNROUNDED value and rounded half-away like F.round — output rows
    # unchanged (measured 7.1 → ~1 s steady at sf0.1). At 100 TB the
    # block is bounded by cluster size, which the codebook K controls.
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute  # noqa: F401 — pa.compute in the worker closure

    out_schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    dim = 64
    packs = assigned.groupBy("cid").agg(
        F.array_sort(F.collect_list(F.struct("vec_id", "v"))).alias("pk")
    )
    rows = (
        cpairs.join(
            packs.select(F.col("cid").alias("c1"), F.col("pk").alias("pk_a")),
            "c1",
        )
        .join(
            packs.select(F.col("cid").alias("c2"), F.col("pk").alias("pk_b")),
            "c2",
        )
        .select("pk_a", "pk_b")
    )

    def block_verify(batches):
        import pyarrow.compute  # noqa: F401 — runs IN the worker

        def unpack(col):
            # col: ListArray<struct<vec_id: long, v: list<double>>>
            offs = np.asarray(col.offsets)
            offs = offs - offs[0]
            members = col.flatten()
            ids = members.field("vec_id").to_numpy(zero_copy_only=False)
            vv = members.field("v")
            mm = pa.compute.min_max(pa.compute.list_value_length(vv))
            if (
                vv.null_count
                or mm["min"].as_py() != dim
                or mm["max"].as_py() != dim
            ):
                raise ValueError("ragged/null vector in verify")
            flat = vv.flatten().to_numpy(zero_copy_only=True)
            m = flat.reshape(len(members), dim)
            if m.dtype != np.float64:
                m = m.astype(np.float64)
            return offs, ids, m

        for rb in batches:
            if rb.num_rows == 0:
                continue
            oa, ids_a, ma = unpack(rb.column(0))
            ob, ids_b, mb = unpack(rb.column(1))
            na_v = np.sqrt(np.einsum("ij,ij->i", ma, ma))
            nb_v = np.sqrt(np.einsum("ij,ij->i", mb, mb))
            out_a, out_b, out_c = [], [], []
            for r in range(rb.num_rows):
                A = ma[oa[r]:oa[r + 1]]
                B = mb[ob[r]:ob[r + 1]]
                ia = ids_a[oa[r]:oa[r + 1]]
                ib = ids_b[ob[r]:ob[r + 1]]
                if A.shape[0] == 0 or B.shape[0] == 0:
                    continue
                cos = (A @ B.T) / np.outer(
                    na_v[oa[r]:oa[r + 1]], nb_v[ob[r]:ob[r + 1]]
                )
                keep = (cos >= threshold) & (ia[:, None] < ib[None, :])
                if not keep.any():
                    continue
                ka, kb = np.nonzero(keep)
                c = cos[ka, kb]
                out_a.append(ia[ka])
                out_b.append(ib[kb])
                out_c.append(np.trunc(c * 1e6 + np.copysign(0.5, c)) / 1e6)
            if out_a:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(out_a), type=pa.int64()),
                        pa.array(np.concatenate(out_b), type=pa.int64()),
                        pa.array(np.concatenate(out_c), type=pa.float64()),
                    ],
                    ["vec_a", "vec_b", "cosine"],
                )

    return rows.mapInArrow(block_verify, out_schema)


@register(
    "l18_dedup_clusters",
    oracle=f"""
    -- connected components of the near-dup graph via recursive
    -- reachability; cluster id = min doc_id in the component
    WITH RECURSIVE tok AS (
      SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS token
      FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) * 1.0 /
             ((SELECT n FROM sizes WHERE doc_id = a.doc_id)
              + (SELECT n FROM sizes WHERE doc_id = b.doc_id) - COUNT(*))
             >= {JACCARD_T}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
      UNION SELECT doc_id, doc_id FROM documents
    ),
    reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id, MIN(dst) AS cluster_id
    FROM reach GROUP BY src
    """,
    tags=("L1", "L2", "EXT"),
)
def l18_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: connected components over the Jaccard
    near-dup pair graph, cluster id = min doc_id per component — the
    step that turns pairwise matches into keep-one-per-cluster dedup
    decisions.

    Spark side: operators/graph.py's two-phase connected components —
    per-partition union-find contracts the pair graph to a forest in
    one Arrow pass, and the forest is finished exactly on the driver
    (large-star/small-star rounds only past the driver bound), so the
    cost is one pass over the pairs whatever the component diameter.
    The pairs are read once, by that pass, so nothing is pinned.  The
    DuckDB oracle computes the same components by recursive
    reachability, so the result is verified exactly."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id")
    )
    edges = l2_jaccard_neardup(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    return connected_components(docs, edges)


NGRAM_T = 0.5  # 3-gram shingles separate cleanly: fixture pairs are >=0.5 or <0.1


@register(
    "l23_ngram_jaccard",
    oracle=f"""
    WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM toks, UNNEST(GENERATE_SERIES(1, LEN(t) - 2)) AS g(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS overlap
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(overlap * 1.0 / (sa.n + sb.n - overlap), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE overlap * 1.0 / (sa.n + sb.n - overlap) >= {NGRAM_T}
    """,
    tags=("L2",),
)
def l23_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word 3-gram (shingle) Jaccard near-dup join — the order-sensitive
    sibling of l2's token-set Jaccard (SURVEY §2.11 'n-gram Jaccard').
    Shingling rewards shared *phrases*, not shared vocabulary, so on
    this fixture's ~40-word vocab it separates true near-dups (>=0.5)
    from topical noise (<0.1) far better than token sets (avg 0.63).
    Same PPJoin prefix-filtered plan as l2 over the shingle relation:
    inverted-index join on each doc's rarest shingles only — no
    all-pairs stage at any corpus size. Oracle is the naive
    all-shared-shingles join, so the hash-match proves the prefix
    filter loses nothing."""
    d = load_table(spark, sf_dir, "documents")
    sh = word_ngrams(d, 3, "doc_id").withColumnRenamed("gram", "token")
    verified = ppjoin_pairs(sh, NGRAM_T)
    return verified.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


SEMDEDUP_T = 0.4  # below the fixture's max within-label cosine (0.475
# at sf0.01, 0.510 at sf0.1) so removals are provably produced.
_QDOT = "CAST(TRUNC(({x}) * 1000000000000 + (CASE WHEN ({x}) >= 0 THEN 0.5 ELSE -0.5 END)) AS BIGINT)"


@register(
    "l32_semdedup",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN range(1, 65) t(i)
    ),
    norms AS (
      SELECT vec_id, SQRT(SUM({_QDOT.format(x='x * x')}) / 1e12) AS nrm
      FROM v GROUP BY vec_id
    ),
    pairs AS (
      SELECT a.label, a.vec_id AS keep_id, b.vec_id AS vec_id,
             SUM({_QDOT.format(x='a.x * b.x')}) / 1e12 AS dot
      FROM v a JOIN v b ON a.i = b.i AND a.label = b.label
                       AND a.vec_id < b.vec_id
      GROUP BY 1, 2, 3
    )
    SELECT p.vec_id, p.label,
           COUNT(*) AS n_dup_smaller,
           ROUND(MAX(p.dot / (na.nrm * nb.nrm)), 6) AS max_cosine
    FROM pairs p
    JOIN norms na ON p.keep_id = na.vec_id
    JOIN norms nb ON p.vec_id = nb.vec_id
    WHERE p.dot / (na.nrm * nb.nrm) >= {SEMDEDUP_T}
    GROUP BY 1, 2 ORDER BY 1
    """,
    tags=("L2", "L3", "EXT", "dedup"),
)
def l32_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (public Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus embeddings, compare pairs
    ONLY within a cluster, and emit the delete-list — every vector with
    a same-cluster neighbor of cosine ≥ t and a smaller vec_id (the
    deterministic keep-first rule standing in for the paper's
    keep-farthest-from-centroid heuristic, which ties to float order).
    Output rows are the removals a curation pipeline materializes:
    (vec_id, label, how many smaller-id near-dups, strongest cosine).

    Scale shape: the pair join is an equi-join on the cluster id —
    candidate volume is Σ|cluster|², never n² (the paper's K scales
    with corpus size to hold clusters constant; swap the label
    quantizer for llm_similarity.kmeans_fit exactly as l2d does).

    Determinism: dot products and squared norms quantize each addend
    to 1e-12-scaled longs before summing (operators/_determinism.py
    discipline at cosine precision), so both engines fold identical
    integers in any order — the ≥ t comparison can never straddle a
    low-order-bit difference.
    """
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )
    qdot = lambda a, b: F.aggregate(  # noqa: E731  — exact long fold
        F.zip_with(
            a,
            b,
            lambda x, y: (
                x * y * F.lit(1e12)
                + F.when(x * y >= 0, F.lit(0.5)).otherwise(F.lit(-0.5))
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    ) / F.lit(1e12)
    sided = vecs.withColumn("nrm", F.sqrt(qdot(F.col("v"), F.col("v"))))
    a = sided.select(
        F.col("label"),
        F.col("vec_id").alias("keep_id"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = sided.select(
        F.col("label").alias("label_b"),
        F.col("vec_id"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    joined = a.join(
        b,
        (F.col("label") == F.col("label_b"))
        & (F.col("keep_id") < F.col("vec_id")),
    ).select("vec_id", "va", "vb", "na", "nb")
    # Pair verify as a zero-copy Arrow kernel (r9, same move as l2d):
    # the interpreted per-element fold dominated this query's 6.3 s at
    # sf0.1.  The kernel replicates the quantize-each-addend contract
    # BIT-FOR-BIT: q_i = trunc(x_i*y_i*1e12 ± 0.5) as int64 (same IEEE
    # multiply order as the JVM expression; trunc(±0.5) → 0 makes the
    # -0.0 copysign corner identical), int64 sum is order-free, then
    # one double divide — so the ≥ t cut agrees with the oracle's
    # integer fold exactly, as before.
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute  # noqa: F401 — pa.compute in the worker closure

    # numeric-only kernel I/O: strings through the Arrow output hit
    # Spark's ArrowColumnVector getUTF8String gap; the label rejoins
    # AFTER the aggregate on vec_id (one row per vec, tiny)
    pair_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    dim = 64
    thr = SEMDEDUP_T

    def verify_pairs(batches):
        import pyarrow.compute  # noqa: F401 — runs IN the worker

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue

            def mat(col):
                mm = pa.compute.min_max(pa.compute.list_value_length(col))
                if (
                    col.null_count
                    or mm["min"].as_py() != dim
                    or mm["max"].as_py() != dim
                ):
                    raise ValueError("ragged/null vector in verify")
                m = col.flatten().to_numpy(zero_copy_only=True).reshape(
                    n, dim
                )
                return m if m.dtype == np.float64 else m.astype(np.float64)

            p = mat(rb.column(1)) * mat(rb.column(2))
            q = np.trunc(p * 1e12 + np.copysign(0.5, p))
            dots = q.astype(np.int64).sum(axis=1) / 1e12
            na_v = rb.column(3).to_numpy(zero_copy_only=False)
            nb_v = rb.column(4).to_numpy(zero_copy_only=False)
            cos = dots / (na_v * nb_v)
            keep = cos >= thr
            if not keep.any():
                continue
            ids = rb.column(0).to_numpy(zero_copy_only=False)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids[keep], type=pa.int64()),
                    pa.array(cos[keep], type=pa.float64()),
                ],
                ["vec_id", "cosine"],
            )

    pairs = joined.mapInArrow(verify_pairs, pair_schema)
    agg = pairs.groupBy("vec_id").agg(
        F.count("*").alias("n_dup_smaller"),
        F.round(F.max("cosine"), 6).alias("max_cosine"),
    )
    return agg.join(vecs.select("vec_id", "label"), "vec_id").select(
        "vec_id", "label", "n_dup_smaller", "max_cosine"
    )


@register(
    "x7_incremental_neardup",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS token
      FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS new_doc, b.doc_id AS dup_of, COUNT(*) AS overlap
      FROM tok a JOIN tok b ON a.token = b.token
      WHERE a.doc_id % 5 = 4 AND b.doc_id % 5 <> 4
      GROUP BY 1, 2
    )
    SELECT new_doc, dup_of,
           ROUND(overlap * 1.0 / (sa.n + sb.n - overlap), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON new_doc = sa.doc_id
    JOIN sizes sb ON dup_of = sb.doc_id
    WHERE overlap * 1.0 / (sa.n + sb.n - overlap) >= {JACCARD_T}
    """,
    tags=("L2", "T7", "EXT"),
)
def x7_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: a NEW batch of documents (doc_id % 5 = 4,
    standing in for this tick's extraction) is checked against the
    HISTORICAL corpus (the rest) WITHOUT ever pairing history with
    itself — the operation an incremental 100 TB ingest runs every
    tick, where re-running the full self-join (l2) would rescan all
    history for pairs it already knows.

    Plan: ppjoin_pairs with the batch as its ``probe``: both sides keep
    only their PPJoin prefixes, ranked by the HISTORY token
    frequencies (the stored index a production pipeline maintains;
    tokens unseen in history rank rarest), and the candidate join is
    batch-prefix × history-prefix — fan-out bounded by prefix tokens,
    candidate set bounded by the new batch, zero history×history
    pairs. Verification is exact; the oracle is the naive new×history
    token join, so the hash-match proves the prefix index loses
    nothing."""
    pairs = ppjoin_pairs(
        _doc_tokens(spark, sf_dir), JACCARD_T, probe=F.col("doc_id") % 5 == 4
    )
    return pairs.select(
        F.col("doc_a").alias("new_doc"),
        F.col("doc_b").alias("dup_of"),
        F.round("jaccard", 6).alias("jaccard"),
    )


@register(
    "l40_dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE tok AS (
      SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS token
      FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) * 1.0 /
             ((SELECT n FROM sizes WHERE doc_id = a.doc_id)
              + (SELECT n FROM sizes WHERE doc_id = b.doc_id) - COUNT(*))
             >= {JACCARD_T}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
      UNION SELECT doc_id, doc_id FROM documents
    ),
    reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    clusters AS (
      SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
    )
    SELECT cluster_id, doc_id AS keep_doc,
           CAST(n AS BIGINT) AS n_distinct_tokens,
           CAST(n_members AS BIGINT) AS n_members
    FROM (
      SELECT c.cluster_id, c.doc_id, s.n,
             COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                ORDER BY s.n DESC, c.doc_id) AS rk
      FROM clusters c JOIN sizes s USING (doc_id)
    ) WHERE rk = 1
    """,
    tags=("L1", "L2", "A11", "EXT"),
)
def l40_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's FINAL decision: one survivor per near-dup
    cluster, chosen by quality (here lexical richness = distinct-token
    count; any scored column slots in) with a deterministic doc_id
    tiebreak — detect (l2) → cluster (l18) → select survivor.  The
    selection is a per-cluster argmax: one hash exchange on cluster_id
    over the doc-level relation, w8's shape — the heavy work already
    happened in the clustering, the decision adds no fact-sized
    shuffle."""
    clusters = l18_dedup_clusters(spark, sf_dir)
    sizes = (
        _doc_tokens(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    joined = clusters.join(sizes, "doc_id")
    wc = Window.partitionBy("cluster_id")
    wr = Window.partitionBy("cluster_id").orderBy(
        F.desc("n"), "doc_id"
    )
    return (
        joined.withColumn("n_members", F.count("*").over(wc))
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keep_doc"),
            F.col("n").cast("long").alias("n_distinct_tokens"),
            F.col("n_members").cast("long").alias("n_members"),
        )
    )


@register(
    "l55_dedup_survivorship",
    oracle="""
    WITH groups AS (
      SELECT md5(text) AS h, COUNT(*) AS n, MIN(doc_id) AS keeper
      FROM documents GROUP BY md5(text)
    ),
    tagged AS (
      SELECT d.source, (d.doc_id = g.keeper) AS kept
      FROM documents d JOIN groups g ON md5(d.text) = g.h
    )
    SELECT source,
           COUNT(*) AS n_docs,
           SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS kept,
           SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS dropped
    FROM tagged GROUP BY source
    """,
    tags=("L1", "EXT", "dedup"),
)
def l55_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup survivorship report — after exact dedup (l1's keep-lowest
    rule), how many documents each SOURCE contributes vs loses: the
    accounting a curation pipeline publishes alongside the deduped
    corpus ("crawl-B lost 40% to crawl-A" drives mixture decisions).
    One digest aggregation plus a digest-keyed join back — both shuffle
    on the 16-byte hash, never on text."""
    d = load_table(spark, sf_dir, "documents")
    h = d.select("doc_id", "source", F.md5("text").alias("h"))
    groups = h.groupBy("h").agg(
        F.count("*").alias("n"), F.min("doc_id").alias("keeper")
    )
    tagged = h.join(groups, "h").select(
        "source", (F.col("doc_id") == F.col("keeper")).alias("kept")
    )
    return tagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("kept").cast("long")).alias("kept"),
        F.sum((~F.col("kept")).cast("long")).alias("dropped"),
    )


MHP_P = 1_000_000_007
MHP_HASHES = 16
MHP_BAND_ROWS = 8

# l58's portable MinHash pipeline as oracle CTEs, shared with l103.
_MHP_ORACLE_CTES = f"""
    parts AS (
      SELECT doc_id, string_split(text, ' ') AS p FROM documents
    ),
    toks AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(p) - 1),
                    i -> p[i] || ' ' || p[i+1] || ' ' || p[i+2])) AS t
      FROM parts WHERE len(p) >= 3
    ),
    hashed AS (
      SELECT doc_id, i,
             ((2 * i + 1) * (('0x' || substr(md5(t), 1, 15))::BIGINT % {MHP_P})
              + 1000003 * i) % {MHP_P} AS h
      FROM toks CROSS JOIN range(0, {MHP_HASHES}) r(i)
    ),
    sigs AS (
      SELECT doc_id, i, MIN(h) AS mh FROM hashed GROUP BY doc_id, i
    ),
    bands AS (
      SELECT doc_id, i // {MHP_BAND_ROWS} AS band,
             STRING_AGG(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
      FROM sigs GROUP BY doc_id, i // {MHP_BAND_ROWS}
    )
"""


@register(
    "l58_minhash_portable",
    oracle=f"""
    WITH {_MHP_ORACLE_CTES}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    """,
    tags=("L2", "EXT", "dedup"),
)
def l58_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates made DIFFERENTIALLY TESTABLE:
    the repo's l2b uses Spark's xxhash64 (engine-private, so the
    driver can only rows-only it); this variant derives the token hash
    from md5 hex — identical in every engine — and runs the same
    16-hash / 2-band (8 rows each, s* ≈ 0.92) LSH pipeline over 3-gram
    SHINGLE sets (order-sensitive, the l23 representation — unigram
    sets are near-degenerate on a small vocabulary) in pure integer
    arithmetic, so the
    candidate-pair set hash-matches a DuckDB oracle exactly. The
    recall/precision trade is still probabilistic in the corpus, but
    the COMPUTATION is reproducible — which is what a correctness gate
    can check. Shapes: one per-doc aggregation of the 16 slot minima
    over the shingle relation (_mhp_wide, map-side partial combine),
    band-signature equi-join — never all-pairs. md5-per-token costs ~2× xxhash64; at 100 TB keep l2b
    for production and this for cross-engine verification."""
    d = load_table(spark, sf_dir, "documents")
    grams = word_ngrams(d, 3, "doc_id")
    return _mhp_band_pairs(_mhp_wide(grams, "doc_id")).orderBy("doc_a", "doc_b")


def _mhp_wide(grams: DataFrame, key: str) -> DataFrame:
    """Engine-portable MinHash signatures in WIDE form (key, m0..m15)
    over an n-gram relation (key, gram) — the md5-derived hash family
    shared by l58/l2b_portable/l75/l103/l112 (see l58's docstring for
    why md5, not xxhash64). Slot minima do not see duplicate rows, so
    ``grams`` need not be distinct per key.

    All 16 slot-mins aggregate in ONE pass over the n-gram relation —
    min((2i+1)·h + Ci mod P) per slot as 16 agg columns with partial
    (map-side) combine, instead of exploding ×16 before the shuffle
    (shuffle rows 4.2 M → 260 k at sf0.1, groups 80 k → 5 k). Every
    downstream shape (band rows, slot agreement) derives map-side from
    the 16 columns — the DuckDB oracles keep their relational CROSS
    JOIN form, so the hash-match proves the wide form equivalent."""
    hm = (md5_hash60("gram") % MHP_P).alias("hm")
    mins = [
        F.min((F.lit(2 * i + 1) * F.col("hm") + F.lit(1000003 * i)) % MHP_P)
        .alias(f"m{i}")
        for i in range(MHP_HASHES)
    ]
    return grams.select(key, hm).groupBy(key).agg(*mins)


def _mhp_band_pairs(wide: DataFrame) -> DataFrame:
    """LSH band-bucket candidate pairs (doc_a < doc_b) from wide
    portable MinHash signatures — l58's band join, factored for reuse.

    Band rows (doc_id, band, sig) are a map-side projection of the
    wide signature (sig = comma-joined slot values in slot order,
    byte-identical to the oracle's STRING_AGG … ORDER BY i) — the
    earlier (doc_id, i, mh) unpivot + collect_list re-aggregation was
    a second shuffle re-deriving columns the wide agg already held."""
    n_bands = MHP_HASHES // MHP_BAND_ROWS
    band_arr = F.array(*[
        F.struct(
            F.lit(bi).cast("long").alias("band"),
            F.concat_ws(
                ",",
                *[
                    F.col(f"m{i}").cast("string")
                    for i in range(bi * MHP_BAND_ROWS, (bi + 1) * MHP_BAND_ROWS)
                ],
            ).alias("sig"),
        )
        for bi in range(n_bands)
    ])
    bands = wide.select("doc_id", F.explode(band_arr).alias("bs")).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _mhp_slot_agreement(pairs: DataFrame, wide: DataFrame) -> DataFrame:
    """(doc_a, doc_b, m) — matching-slot count per candidate pair,
    computed as a 16-term map-side expression after two equi-joins of
    the pair relation to the wide signatures.  Replaces the
    pair × 16-slot join + groupBy re-aggregation: candidate rows never
    multiply."""
    wa = wide.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{i}").alias(f"__a{i}") for i in range(MHP_HASHES)],
    )
    wb = wide.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{i}").alias(f"__b{i}") for i in range(MHP_HASHES)],
    )
    m = sum(
        (F.col(f"__a{i}") == F.col(f"__b{i}")).cast("long")
        for i in range(MHP_HASHES)
    )
    return (
        pairs.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select("doc_a", "doc_b", m.alias("m"))
    )


@register(
    "l69_dup_multiplicity_histogram",
    oracle="""
    WITH groups AS (
      SELECT md5(text) AS h, COUNT(*) AS copies
      FROM documents GROUP BY md5(text)
    )
    SELECT copies,
           COUNT(*) AS n_groups,
           SUM(copies) AS n_docs,
           SUM(copies - 1) AS removable
    FROM groups GROUP BY copies
    """,
    tags=("L1", "EXT", "dedup"),
)
def l69_dup_multiplicity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-multiplicity histogram — how many content groups have
    exactly k copies, and how many documents dedup would remove at
    each multiplicity. The capacity-planning companion to l55's
    per-source view: a corpus dominated by k=2 pairs dedups cheaply;
    a fat tail of k>100 groups signals template spam and changes the
    strategy (cluster-level sampling instead of keep-one). Two
    digest-keyed aggregations, O(multiplicities) output."""
    d = load_table(spark, sf_dir, "documents")
    groups = d.groupBy(F.md5("text").alias("h")).agg(
        F.count("*").alias("copies")
    )
    return groups.groupBy("copies").agg(
        F.count("*").alias("n_groups"),
        F.sum("copies").alias("n_docs"),
        F.sum(F.col("copies") - 1).alias("removable"),
    )


CONTAIN_T = 0.8  # directional coverage threshold


def _containment_pairs(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, containment ≥ CONTAIN_T) over a documents
    relation — l71's core. One-sided PPJoin prefix on A's rarest
    shingles, b-side length (|B| ≥ ⌈τ|A|⌉) and positional
    (min(pa,pb) + min(na−pa, nb−pb) ≥ ⌈τ|A|⌉) prunes, integer token
    ids (_int_tokens) end-to-end, exact int-array-intersect verify. The
    ranking, the prefix and the overlap are PPJoin's general tier's
    (_ranked_prefix, _set_overlap)."""
    sh = _int_tokens(
        word_ngrams(docs, 3, "doc_id").withColumnRenamed("gram", "token")
    )
    ranked, prefix = _ranked_prefix(sh, CONTAIN_T)
    # aggregated positional bound (see ppjoin_pairs): m = a-prefix
    # tokens shared with b (b side is COMPLETE, so every shared token
    # beyond m lies in a's unprobed tail — at most ⌈τ·na⌉ − 1 of them —
    # and, by the order isomorphism of the global (df, tid) ranking,
    # after b's last match: ≤ nb − pbmax). overlap ≥ ⌈τ·na⌉ required.
    na, nb = F.col("a.n"), F.col("b.n")
    pa, pb = F.col("a.rank"), F.col("b.rank")
    need = F.ceil(F.lit(CONTAIN_T) * na)
    ubound = F.least(pa, pb) + F.least(na - pa, nb - pb)
    cand = (
        prefix.alias("a")
        .join(ranked.alias("b"), on="tid")
        .filter(
            (F.col("a.doc_id") != F.col("b.doc_id"))
            & (nb >= need)
            & (ubound >= need)
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(
            F.count("*").alias("m"),
            F.max(pb).alias("pbmax"),
            F.max(na).alias("gna"),
            F.max(nb).alias("gnb"),
        )
        .filter(
            F.col("m")
            + F.least(
                F.ceil(F.lit(CONTAIN_T) * F.col("gna")) - 1,
                F.col("gnb") - F.col("pbmax"),
            )
            >= F.ceil(F.lit(CONTAIN_T) * F.col("gna"))
        )
        .select("doc_a", "doc_b")
    )
    return (
        _set_overlap(cand, sh, "doc_a", "doc_b")
        .withColumn(
            "containment", F.col("overlap") * F.lit(1.0) / F.col("na")
        )
        .filter(F.col("containment") >= CONTAIN_T)
        .select("doc_a", "doc_b", "containment")
    )


@register(
    "l71_shingle_containment",
    oracle=f"""
    WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM toks, UNNEST(GENERATE_SERIES(1, LEN(t) - 2)) AS g(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS overlap
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(overlap * 1.0 / sa.n, 6) AS containment
    FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
    WHERE overlap * 1.0 / sa.n >= {CONTAIN_T}
    """,
    tags=("L2", "EXT", "dedup"),
)
def l71_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle containment C(A→B) = |sh(A)∩sh(B)| / |sh(A)|
    — the asymmetric near-dup measure Jaccard misses: a short document
    quoted wholesale inside a long one scores C ≈ 1 while its Jaccard
    is tiny (Broder's resemblance-vs-containment distinction,
    SRC-TN-1997-015). Pairs (A, B) with C ≥ 0.8 mean A is essentially
    covered by B — the curation action is dropping A, not clustering.

    Scale shape (r10 rework): containment admits a one-sided prefix
    filter — A must share one of its |A| − ⌈τ·|A|⌉ + 1 RAREST shingles
    with B — plus two b-side prunes the first cut lacked: the LENGTH
    filter (overlap ≥ τ·|A| forces |B| ≥ ⌈τ·|A|⌉) and the POSITIONAL
    bound (a match at global-rarest-first ranks (pa, pb) caps overlap
    at min(pa,pb) + min(na−pa, nb−pb)); candidates fell 300k → 200k at
    sf0.1. Shingles are integerized once (_int_tokens) so the
    candidate join and the verify arrays ship 8-byte ids, and — the
    l2b factoring (VERDICT r9 item 5) — exact-duplicate texts collapse
    to one representative before the join: containment depends only on
    the shingle sets, so rep-level pairs expand to member pairs
    verbatim (both directions computed at rep level — containment is
    directional) and within-group ordered pairs emit at containment
    1.0. The oracle is the naive all-shared-shingles join: hash-match
    proves the whole stack loses nothing. The collapse is ADAPTIVE
    (_collapse_pays): dup-free corpora skip straight to the direct
    containment join."""
    d = load_table(spark, sf_dir, "documents")
    if not _collapse_pays(d, sf_dir):
        return _containment_pairs(d).select(
            "doc_a", "doc_b", F.round("containment", 6).alias("containment")
        )
    m = d.select("doc_id", F.md5("text").alias("h"))
    groups = m.groupBy("h").agg(F.min("doc_id").alias("rep"))
    mem = m.join(groups, "h").select("doc_id", "rep")
    dd = d.join(groups.select(F.col("rep").alias("doc_id")), "doc_id")
    rp = _containment_pairs(dd)
    sizes = word_ngrams(dd, 3, "doc_id").groupBy("doc_id").agg(
        F.count("*").alias("n")
    )
    # expand rep pairs to member pairs (directional — rp already holds
    # each qualifying direction); members inherit their rep's shingle
    # presence (same text), so no member-side shingle guard is needed
    cross = (
        rp.join(
            mem.select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("ma")),
            "doc_a",
        )
        .join(
            mem.select(F.col("rep").alias("doc_b"), F.col("doc_id").alias("mb")),
            "doc_b",
        )
        .select(
            F.col("ma").alias("doc_a"),
            F.col("mb").alias("doc_b"),
            "containment",
        )
    )
    # within-group ordered pairs: identical text → containment exactly
    # 1.0 BOTH ways; only groups whose text yields ≥ 1 shingle pair in
    # the oracle (docs under 3 tokens never enter the shingle relation)
    shingled = mem.join(
        sizes.select(F.col("doc_id").alias("rep")), "rep"
    )
    within = (
        shingled.alias("x")
        .join(
            shingled.alias("y"),
            (F.col("x.rep") == F.col("y.rep"))
            & (F.col("x.doc_id") != F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.lit(1.0).alias("containment"),
        )
    )
    return cross.unionAll(within).select(
        "doc_a", "doc_b", F.round("containment", 6).alias("containment")
    )


@register(
    "l75_source_minhash_overlap",
    oracle=f"""
    WITH parts AS (
      SELECT source, string_split(text, ' ') AS p FROM documents
    ),
    toks AS (
      SELECT DISTINCT source,
             unnest(list_transform(range(1, len(p) - 1),
                    i -> p[i] || ' ' || p[i+1] || ' ' || p[i+2])) AS t
      FROM parts WHERE len(p) >= 3
    ),
    hashed AS (
      SELECT source, i,
             ((2 * i + 1) * (('0x' || substr(md5(t), 1, 15))::BIGINT % {MHP_P})
              + 1000003 * i) % {MHP_P} AS h
      FROM toks CROSS JOIN range(0, {MHP_HASHES}) r(i)
    ),
    sigs AS (
      SELECT source, i, MIN(h) AS mh FROM hashed GROUP BY source, i
    )
    SELECT a.source AS source_a, b.source AS source_b,
           SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS matching_slots
    FROM sigs a JOIN sigs b ON a.i = b.i AND a.source < b.source
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("L2", "EXT", "dedup"),
)
def l75_source_minhash_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level MinHash sketches and their pairwise overlap — the
    MERGEABLE-state face of MinHash: a per-source signature is the
    slot-wise min over its docs' shingle hashes, so shards/partitions
    combine by min (map-side partial agg, the same merge a streaming
    tick or a cross-datacenter union would do), and matching_slots/16
    estimates shingle-set Jaccard between sources WITHOUT any
    doc-level join. Built on l58's engine-portable md5-derived hash so
    the sketch itself — not just its shape — hash-matches the oracle.
    Shapes: the wide signature (_mhp_wide) is one partial→final min
    per source over the source-keyed shingles (the slot minima ignore
    a shingle repeated across a source's docs, so no distinct runs
    first), then a 20-source self-join whose 16-term slot sum is a
    map-side expression — O(sources²) final stage, corpus touched once."""
    d = load_table(spark, sf_dir, "documents")
    # pinned (r12): both self-join sides re-ran the whole shingle +
    # hash + min pipeline (20 output rows) before
    wide = ephemeral_cache(_mhp_wide(word_ngrams(d, 3, "source"), "source"))
    agree = sum(
        (F.col(f"a.m{i}") == F.col(f"b.m{i}")).cast("long")
        for i in range(MHP_HASHES)
    )
    return (
        wide.alias("a")
        .join(
            F.broadcast(wide.alias("b")),
            F.col("a.source") < F.col("b.source"),
        )
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            agree.alias("matching_slots"),
        )
        .orderBy("source_a", "source_b")
    )


SWEEP_TAUS = (0.5, 0.6, 0.7, 0.8, 0.9)


@register(
    "l81_dedup_threshold_sweep",
    oracle=f"""
    WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM toks, UNNEST(GENERATE_SERIES(1, LEN(t) - 2)) AS g(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS overlap
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT doc_a, doc_b,
             overlap * 1.0 / (sa.n + sb.n - overlap) AS j
      FROM pairs
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
    ),
    taus AS (SELECT * FROM (VALUES {", ".join(f"({t})" for t in SWEEP_TAUS)})
             AS t(tau))
    SELECT tau,
           COUNT(CASE WHEN j >= tau THEN 1 END) AS pairs,
           COUNT(DISTINCT CASE WHEN j >= tau THEN doc_b END)
             AS removable_docs
    FROM taus LEFT JOIN jac ON j >= tau
    GROUP BY tau ORDER BY tau
    """,
    tags=("L2", "EXT", "dedup"),
)
def l81_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sensitivity report for near-dup dedup: one
    prefix-filtered pair computation at the LOOSEST threshold (0.5),
    then the pair/removable-doc counts at every candidate τ in a
    single aggregation — the tuning curve ('how much does the corpus
    shrink if I tighten to 0.8?') that otherwise costs one full dedup
    run per τ. removable_docs counts the higher doc_id of each
    qualifying pair — the doc the keep-lowest policy (l1/l18) would
    drop. Machinery is l23's PPJoin at τ_min, so the sweep inherits
    its inverted-index scale shape; the τ grid is a 5-row broadcast.

    r10 factoring: exact-duplicate texts collapse to one min-doc_id
    representative BEFORE the pair join, and the member-level counts
    are recovered ARITHMETICALLY — no member-pair relation is ever
    materialized (the sweep only needs counts, so the k² expansion
    that l2/l71 must emit as output is pure algebra here):
      pairs(τ)     = Σ_groups C(k,2)                       [j = 1 ≥ τ]
                   + Σ_{rep pairs, j≥τ} k_a · k_b
      removable(τ) = |{non-rep members of shingled groups}  [j = 1]
                     ∪ {all members of B : (A,B) qualifies} [rep_a<rep_b
                        ⇒ every b ∈ B exceeds some a ∈ A]
                     ∪ {a ∈ A : a > rep_b, (A,B) qualifies}|
    computed as a per-doc max-qualifying-j (jmax) and one count per τ.
    Groups whose text yields no shingle (< 3 tokens) never enter the
    oracle's pair relation and are excluded throughout. The collapse
    is ADAPTIVE (_collapse_pays): dup-free corpora take the direct
    pair count."""
    d = load_table(spark, sf_dir, "documents")
    taus = spark.createDataFrame(
        [(float(x),) for x in SWEEP_TAUS], ["tau"]
    )
    if not _collapse_pays(d, sf_dir):
        jac = ppjoin_pairs(
            word_ngrams(d, 3, "doc_id").withColumnRenamed("gram", "token"),
            min(SWEEP_TAUS),
        )
        j = F.broadcast(taus).join(
            jac, F.col("jaccard") >= F.col("tau"), "left"
        )
        return (
            j.groupBy("tau")
            .agg(
                F.count(
                    F.when(F.col("jaccard") >= F.col("tau"), 1)
                ).alias("pairs"),
                F.countDistinct(
                    F.when(F.col("jaccard") >= F.col("tau"), F.col("doc_b"))
                ).alias("removable_docs"),
            )
            .orderBy("tau")
        )
    m = d.select("doc_id", F.md5("text").alias("h"))
    groups = m.groupBy("h").agg(
        F.min("doc_id").alias("rep"), F.count("*").alias("k")
    )
    mem = m.join(groups.select("h", "rep"), "h").select("doc_id", "rep")
    dd = d.join(groups.select(F.col("rep").alias("doc_id")), "doc_id")
    sh = word_ngrams(dd, 3, "doc_id").withColumnRenamed("gram", "token")
    rj = ppjoin_pairs(sh, min(SWEEP_TAUS))  # rep pairs, doc_a < doc_b
    gsz = groups.select("rep", "k")
    rjk = rj.join(
        gsz.select(F.col("rep").alias("doc_a"), F.col("k").alias("ka")),
        "doc_a",
    ).join(
        gsz.select(F.col("rep").alias("doc_b"), F.col("k").alias("kb")),
        "doc_b",
    )
    sh_docs = sh.select("doc_id").distinct()
    sg = groups.join(
        sh_docs.withColumnRenamed("doc_id", "rep"), "rep"
    )  # shingled groups only
    within_pairs = sg.agg(
        F.coalesce(
            F.sum(F.expr("k * (k - 1) div 2")), F.lit(0).cast("long")
        ).alias("wp")
    )
    smem = mem.join(sg.select("rep"), "rep")  # members of shingled groups
    cover = (
        # every member of the higher group B is out-ranked by rep_a
        rjk.join(
            smem.select(F.col("rep").alias("doc_b"), F.col("doc_id").alias("member")),
            "doc_b",
        ).select("member", "jaccard")
        .unionAll(
            # members of A above rep_b (= min(B)) are the higher side
            # of some (a, b) pair
            rjk.join(
                smem.select(
                    F.col("rep").alias("doc_a"), F.col("doc_id").alias("member")
                ),
                "doc_a",
            )
            .filter(F.col("member") > F.col("doc_b"))
            .select("member", "jaccard")
        )
        .unionAll(
            # within-group: non-rep members removable at j = 1.0
            smem.filter(F.col("doc_id") != F.col("rep")).select(
                F.col("doc_id").alias("member"), F.lit(1.0).alias("jaccard")
            )
        )
    )
    jmax = cover.groupBy("member").agg(F.max("jaccard").alias("jmax"))
    cross_pairs = (
        F.broadcast(taus)
        .join(rjk, F.col("jaccard") >= F.col("tau"), "left")
        .groupBy("tau")
        .agg(
            F.coalesce(
                F.sum(F.col("ka") * F.col("kb")), F.lit(0).cast("long")
            ).alias("cp")
        )
    )
    removable = (
        F.broadcast(taus)
        .join(jmax, F.col("jmax") >= F.col("tau"), "left")
        .groupBy("tau")
        .agg(F.count(F.col("member")).alias("removable_docs"))
    )
    return (
        cross_pairs.join(removable, "tau")
        .crossJoin(F.broadcast(within_pairs))
        .select(
            "tau",
            (F.col("cp") + F.col("wp")).alias("pairs"),
            "removable_docs",
        )
        .orderBy("tau")
    )


LSH_EVAL_TAU = 0.5  # ground-truth threshold (l23's separation point)


@register(
    "l83_lsh_recall_eval",
    oracle=f"""
    WITH parts AS (
      SELECT doc_id, string_split(text, ' ') AS p FROM documents
    ),
    toks AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(p) - 1),
                    i -> p[i] || ' ' || p[i+1] || ' ' || p[i+2])) AS t
      FROM parts WHERE len(p) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
    exact2 AS (
      SELECT p.doc_a, p.doc_b
      FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS o
        FROM toks a JOIN toks b ON a.t = b.t AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ) p
      JOIN sizes sa ON p.doc_a = sa.doc_id
      JOIN sizes sb ON p.doc_b = sb.doc_id
      WHERE p.o * 1.0 / (sa.n + sb.n - p.o) >= {LSH_EVAL_TAU}
    ),
    hashed AS (
      SELECT doc_id, i,
             ((2 * i + 1) * (('0x' || substr(md5(t), 1, 15))::BIGINT % {MHP_P})
              + 1000003 * i) % {MHP_P} AS h
      FROM toks CROSS JOIN range(0, {MHP_HASHES}) r(i)
    ),
    sigs AS (
      SELECT doc_id, i, MIN(h) AS mh FROM hashed GROUP BY doc_id, i
    ),
    bands AS (
      SELECT doc_id, i // {MHP_BAND_ROWS} AS band,
             STRING_AGG(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
      FROM sigs GROUP BY doc_id, i // {MHP_BAND_ROWS}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    )
    SELECT
      (SELECT COUNT(*) FROM exact2) AS n_exact,
      (SELECT COUNT(*) FROM cand) AS n_candidates,
      (SELECT COUNT(*) FROM cand JOIN exact2 USING (doc_a, doc_b)) AS tp,
      COALESCE((SELECT COUNT(*) FROM cand JOIN exact2 USING (doc_a, doc_b))
        * 1000000 // NULLIF((SELECT COUNT(*) FROM cand), 0), 0)
        AS precision_ppm,
      COALESCE((SELECT COUNT(*) FROM cand JOIN exact2 USING (doc_a, doc_b))
        * 1000000 // NULLIF((SELECT COUNT(*) FROM exact2), 0), 0)
        AS recall_ppm
    """,
    tags=("L2", "EXT", "dedup", "dq"),
)
def l83_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-quality evaluation for LSH dedup — precision and
    recall of the portable MinHash-LSH candidate pairs (l58's 16-hash
    / 2-band scheme) against exact shingle-Jaccard ≥ τ ground truth
    (l23's relation), computed IN the engine: the measurement loop a
    pipeline owner runs before trusting approximate dedup at corpus
    scale, here cheap enough to hash-check end-to-end because both
    sides are deterministic (md5-derived hashes, exact joins). Floor-
    ppm rates; the ground-truth side uses the PPJoin machinery, the
    candidate side the banded equi-join — no all-pairs anywhere in
    the SPARK plan (the oracle's naive join is the point of
    comparison)."""
    d = load_table(spark, sf_dir, "documents")
    grams = word_ngrams(d, 3, "doc_id")
    exact = ppjoin_pairs(
        grams.withColumnRenamed("gram", "token"), LSH_EVAL_TAU
    ).select("doc_a", "doc_b")
    cand = _mhp_band_pairs(_mhp_wide(grams, "doc_id"))
    # ONE action for all three counts (r12): tp/n_exact/n_cand as three
    # separate driver actions re-executed each side's pipeline above its
    # pinned inputs per action (the exact side's candidate+verify ran
    # twice, the banded join twice — 10.3 s one-shot); a full-outer join
    # on the pair key with presence markers folds them into a single
    # pass over each side (8.7 → measured below). Both sides are
    # distinct on (doc_a, doc_b), so SUMs of the markers are exact
    # set cardinalities.
    e = exact.withColumn("ex", F.lit(1))
    c = cand.withColumn("cd", F.lit(1))
    stats = (
        e.join(c, ["doc_a", "doc_b"], "full_outer")
        .agg(
            F.sum("ex").alias("n_exact"),
            F.sum("cd").alias("n_cand"),
            F.sum(F.col("ex") * F.col("cd")).alias("tp"),
        )
        .collect()[0]
    )
    n_exact = stats["n_exact"] or 0
    n_cand = stats["n_cand"] or 0
    tp = stats["tp"] or 0
    return spark.createDataFrame(
        [
            (
                n_exact,
                n_cand,
                tp,
                (tp * 1_000_000) // n_cand if n_cand else 0,
                (tp * 1_000_000) // n_exact if n_exact else 0,
            )
        ],
        "n_exact long, n_candidates long, tp long, "
        "precision_ppm long, recall_ppm long",
    )


@register(
    "l87_crosslang_dupes",
    oracle="""
    WITH g AS (
      SELECT md5(text) AS h,
             COUNT(*) AS copies,
             COUNT(DISTINCT lang) AS langs,
             COUNT(DISTINCT source) AS sources,
             MIN(doc_id) AS first_doc
      FROM documents GROUP BY md5(text)
    )
    SELECT first_doc, copies, langs, sources
    FROM g WHERE langs > 1 OR sources > 1
    ORDER BY first_doc
    """,
    tags=("L1", "EXT", "dedup", "dq"),
)
def l87_crosslang_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-boundary exact duplicates: texts that appear under MORE
    THAN ONE language tag or source — the mislabel/contamination
    signal per-partition dedup (l1 within the corpus, l37 between
    sources) never surfaces, because each side sees its copy as
    unique. In multilingual corpora these rows are usually wrong
    lang-IDs or scraped mirrors, and the fix is metadata repair, not
    removal — hence a report, not a filter. One hash aggregation over
    md5(text); distinct-counts of two low-cardinality columns ride
    the same partial→final pass."""
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy(F.md5("text").alias("h")).agg(
        F.count("*").alias("copies"),
        F.countDistinct("lang").alias("langs"),
        F.countDistinct("source").alias("sources"),
        F.min("doc_id").alias("first_doc"),
    )
    return (
        g.filter((F.col("langs") > 1) | (F.col("sources") > 1))
        .select("first_doc", "copies", "langs", "sources")
        .orderBy("first_doc")
    )


# ---- round 5: portable-hash twins for the rows-only LSH family ------
#
# l2b / l2e stay the PRODUCTION path (Spark xxhash64: one JVM-side
# 64-bit mix per token, the cheapest possible shingle hash) but are
# rows-only to the driver because no other engine reproduces xxhash64's
# bit pattern.  l58 proved the seam: derive the token hash from md5 hex
# (identical everywhere) and the ENTIRE pipeline — banding, bucket
# join, verification — becomes engine-portable and hash-checkable.
# These twins close the verdict's rows-only gap by running the FULL
# l2b / l2e semantics (not just candidate generation) on that seam.


@register(
    "l2b_portable",
    oracle=f"""
    WITH parts AS (
      SELECT doc_id, string_split(text, ' ') AS p FROM documents
    ),
    toks AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(p) - 1),
                    i -> p[i] || ' ' || p[i+1] || ' ' || p[i+2])) AS t
      FROM parts WHERE len(p) >= 3
    ),
    hashed AS (
      SELECT doc_id, i,
             ((2 * i + 1) * (('0x' || substr(md5(t), 1, 15))::BIGINT % {MHP_P})
              + 1000003 * i) % {MHP_P} AS h
      FROM toks CROSS JOIN range(0, {MHP_HASHES}) r(i)
    ),
    sigs AS (
      SELECT doc_id, i, MIN(h) AS mh FROM hashed GROUP BY doc_id, i
    ),
    bands AS (
      SELECT doc_id, i // {MHP_BAND_ROWS} AS band,
             STRING_AGG(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
      FROM sigs GROUP BY doc_id, i // {MHP_BAND_ROWS}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    agree AS (
      SELECT c.doc_a, c.doc_b,
             SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS n_agree
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.doc_a
      JOIN sigs sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b,
           ROUND(n_agree / CAST({MHP_HASHES} AS DOUBLE), 6) AS est_jaccard
    FROM agree
    WHERE n_agree >= CAST({MHP_HASHES} AS DOUBLE) * 0.75
    """,
    tags=("L2", "EXT", "dedup"),
)
def l2b_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l2b's FULL MinHash-LSH pipeline (bands → bucket join → distinct
    candidates → signature-agreement verify ≥ 0.75) on the portable
    md5-derived hash family, so the driver hash-checks the whole
    operator instead of rows-only-ing it.  Same shapes as l2b: the
    band join moves (doc_id, band, sig) only, signatures rejoin by doc
    id after the pair-distinct — corpus-partitionable end to end.
    Production keeps xxhash64 (l2b); this twin exists so every stage of
    the LSH semantics is differentially tested against DuckDB.

    Band rows and the slot-agreement verify are map-side projections
    of the 16 signature columns (_mhp_band_pairs/_mhp_slot_agreement):
    an explode ×16 with three shuffled re-aggregations was pure
    shuffle inflation (steady 3.0 → 0.9 s at sf0.1)."""
    d = load_table(spark, sf_dir, "documents")
    wide = ephemeral_cache(_mhp_wide(word_ngrams(d, 3, "doc_id"), "doc_id"))
    cand = _mhp_band_pairs(wide)
    return (
        _mhp_slot_agreement(cand, wide)
        .filter(F.col("m") >= MHP_HASHES * 0.75)
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("m") / F.lit(float(MHP_HASHES)), 6).alias(
                "est_jaccard"
            ),
        )
    )


SHP_BITS = 60  # md5-hex 15 chars → 60-bit portable token hash
SHP_BLOCKS = SIMHASH_MAX_HD + 1  # pigeonhole: HD≤3 → 4 blocks
SHP_BLOCK_BITS = SHP_BITS // SHP_BLOCKS  # 15 bits per block


@register(
    "l2e_portable",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
      FROM documents
    ),
    bits AS (
      SELECT doc_id, i AS bit,
             SUM(CASE WHEN ((('0x' || substr(md5(t), 1, 15))::BIGINT >> i)
                            & 1) = 1
                      THEN 1 ELSE -1 END) AS s
      FROM toks CROSS JOIN range(0, {SHP_BITS}) r(i)
      GROUP BY doc_id, i
    ),
    fp AS (
      SELECT doc_id,
             SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit)
                      ELSE 0 END) AS simhash
      FROM bits GROUP BY doc_id
    ),
    blocks AS (
      SELECT doc_id, simhash, k,
             (simhash >> (k * {SHP_BLOCK_BITS})) & {2**SHP_BLOCK_BITS - 1} AS blk
      FROM fp CROSS JOIN range(0, {SHP_BLOCKS}) r(k)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS ha, b.simhash AS hb
      FROM blocks a JOIN blocks b
        ON a.k = b.k AND a.blk = b.blk AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) <= {SIMHASH_MAX_HD}
    ORDER BY doc_a, doc_b
    """,
    tags=("L2", "EXT", "dedup"),
)
def l2e_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l2e's exact Hamming-neighbor join (Manku pigeonhole banding +
    popcount verify) over a PORTABLE 60-bit SimHash: token hash =
    md5-hex prefix instead of xxhash64, fingerprint = 60 bits split
    into 4 disjoint 15-bit blocks (pigeonhole still exact for HD ≤ 3).
    Every stage — sign-sum, packing, block equi-join, verify — now
    hash-matches DuckDB, closing the rows-only gap on the SimHash
    family.  Same 100 TB posture as l2e: 4 block rows/doc, collisions
    localized to equal-block buckets, no all-pairs anywhere."""
    tok = _doc_tokens(spark, sf_dir)
    # one-pass sign pack (see _simhash_fingerprints — no 60× bit-row
    # explode)
    fp = _pack_signhash(
        tok.select("doc_id", md5_hash60("token").alias("hx")), SHP_BITS
    )
    return _hamming_pairs(fp, SHP_BLOCK_BITS)


# ---- l103: LSH parameter tuning against the corpus ------------------

# Candidate (bands, rows-per-band) factorizations of the 16-hash
# signature, the knob every MinHash-LSH deployment has to pick.
LSH_TUNE_CONFIGS: list[tuple[int, int]] = [
    (16, 1), (8, 2), (4, 4), (2, 8), (1, 16)
]
LSH_TUNE_DUP_M = 12  # pairs with >= 12/16 agreeing slots count as dups


def _pow_tree(x: str, n: int) -> str:
    """x**n as an explicit binary-exponentiation multiplication tree.

    The SAME expression text runs in Spark SQL and DuckDB, so both
    engines execute the identical sequence of IEEE-754 multiplies —
    bit-equal results by construction, where each engine's native
    pow() is only correct to ~1 ulp and could disagree."""
    if n == 1:
        return x
    h = _pow_tree(x, n // 2)
    sq = f"({h} * {h})"
    return sq if n % 2 == 0 else f"({sq} * {x})"


def _scurve_pq_sql(r: int, b: int) -> str:
    """The LSH S-curve P[candidate | m agreeing slots] = 1-(1-s^r)^b
    with s = m/16, quantized to integer parts-per-billion.  FLOOR(x+.5)
    instead of round(): identical in both engines (p is always >= 0)."""
    s = f"(CAST(m AS DOUBLE) / {MHP_HASHES}.0)"
    q = f"(1.0 - {_pow_tree(s, r)})"
    p = f"(1.0 - {_pow_tree(q, b)})"
    return f"CAST(FLOOR({p} * 1000000000.0 + 0.5) AS BIGINT)"


def _lsh_cfg_sql(b: int, r: int) -> str:
    pq = _scurve_pq_sql(r, b)
    return f"""
      SELECT {b} AS bands, {r} AS rows_per_band,
             CAST(SUM(cnt * {pq}) AS BIGINT) AS exp_candidates_e9,
             CAST(SUM(CASE WHEN m < {LSH_TUNE_DUP_M}
                           THEN cnt * {pq} ELSE 0 END) AS BIGINT)
               AS fp_mass_e9,
             CAST(SUM(CASE WHEN m >= {LSH_TUNE_DUP_M}
                           THEN cnt * (1000000000 - {pq}) ELSE 0 END)
                  AS BIGINT) AS fn_mass_e9
      FROM hist
    """


@register(
    "l103_lsh_param_tuning",
    oracle=f"""
    WITH {_MHP_ORACLE_CTES},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    agree AS (
      SELECT p.doc_a, p.doc_b,
             SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS m
      FROM pairs p
      JOIN sigs sa ON sa.doc_id = p.doc_a
      JOIN sigs sb ON sb.doc_id = p.doc_b AND sb.i = sa.i
      GROUP BY p.doc_a, p.doc_b
    ),
    hist AS (SELECT m, COUNT(*) AS cnt FROM agree GROUP BY m),
    cfg AS ({" UNION ALL ".join(
        _lsh_cfg_sql(b, r) for b, r in LSH_TUNE_CONFIGS)})
    SELECT bands, rows_per_band, exp_candidates_e9, fp_mass_e9,
           fn_mass_e9, fp_mass_e9 + fn_mass_e9 AS total_err_e9,
           CAST(ROW_NUMBER() OVER (
             ORDER BY fp_mass_e9 + fn_mass_e9, bands) AS BIGINT)
             AS err_rank
    FROM cfg ORDER BY err_rank
    """,
    tags=("L2", "EXT", "dedup"),
)
def l103_lsh_param_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH parameter tuning ON THE CORPUS: pick (bands, rows-per-band)
    for the 16-slot MinHash signature by evaluating the S-curve
    P[candidate] = 1-(1-s^r)^b against the EMPIRICAL slot-agreement
    histogram of this corpus' LSH candidate pairs — the standard
    pre-deploy step (Leskovec/Rajaraman/Ullman MMDS ch.3) run as a
    query instead of a notebook guess.  For each factorization the
    output scores expected candidate volume, false-positive mass
    (pairs below the 12/16-slot dup line that would still collide) and
    false-negative mass (dup pairs the banding would miss); err_rank 1
    is the config to deploy.

    Determinism: the S-curve is evaluated as an explicit binary-
    exponentiation multiplication tree (same expression text in both
    engines — bit-equal, where native pow() is only ~1-ulp correct)
    and quantized to integer ppb before the sums, so every output
    column is an exact integer.  Scale shape: signatures and the band
    join are l58's (never all-pairs); the agreement join multiplies
    only CANDIDATE pairs by 16 slots; the histogram is <= 17 rows and
    the config scoring is constant work on the driver-side plan."""
    # NOT pinned (r12 pin A/B): the 5 config aggregates' references to
    # hist dedup through exchange reuse (one groupBy("m") exchange,
    # re-read per union branch), so the pins only added two checkpoint
    # round-trips — l112 one-shot 2.31 pinned vs 1.62 unpinned.
    d = load_table(spark, sf_dir, "documents")
    wide = _mhp_wide(word_ngrams(d, 3, "doc_id"), "doc_id")
    agree = _mhp_slot_agreement(_mhp_band_pairs(wide), wide)
    hist = agree.groupBy("m").agg(F.count("*").alias("cnt"))
    cfg = None
    for b, r in LSH_TUNE_CONFIGS:
        pq = _scurve_pq_sql(r, b)
        part = hist.agg(
            F.expr(f"CAST(SUM(cnt * {pq}) AS BIGINT)").alias(
                "exp_candidates_e9"
            ),
            F.expr(
                f"CAST(SUM(CASE WHEN m < {LSH_TUNE_DUP_M}"
                f" THEN cnt * {pq} ELSE 0 END) AS BIGINT)"
            ).alias("fp_mass_e9"),
            F.expr(
                f"CAST(SUM(CASE WHEN m >= {LSH_TUNE_DUP_M}"
                f" THEN cnt * (1000000000 - {pq}) ELSE 0 END) AS BIGINT)"
            ).alias("fn_mass_e9"),
        ).select(
            F.lit(b).alias("bands"),
            F.lit(r).alias("rows_per_band"),
            "exp_candidates_e9",
            "fp_mass_e9",
            "fn_mass_e9",
        )
        cfg = part if cfg is None else cfg.unionAll(part)
    w = Window.orderBy(F.col("fp_mass_e9") + F.col("fn_mass_e9"), "bands")
    return (
        cfg.select(
            "*",
            (F.col("fp_mass_e9") + F.col("fn_mass_e9")).alias("total_err_e9"),
            F.row_number().over(w).cast("long").alias("err_rank"),
        )
        .orderBy("err_rank")
    )


# ---- l111: transitivity audit of the near-dup pair relation ----------

L111_CAP = 10  # per-node neighbor cap for the deterministic wedge sample


@register(
    "l111_dedup_transitivity_audit",
    oracle=f"""
    WITH reps AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    tok AS (
      SELECT d.doc_id,
             UNNEST(LIST_DISTINCT(STRING_SPLIT(d.text, ' '))) AS token
      FROM documents d JOIN reps USING (doc_id)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS overlap
      FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM cand
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE overlap * 1.0 / (sa.n + sb.n - overlap) >= {JACCARD_T}
    ),
    adj AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    capped AS (
      SELECT u, v FROM (
        SELECT u, v, ROW_NUMBER() OVER (PARTITION BY u ORDER BY v) AS rn
        FROM adj
      ) WHERE rn <= {L111_CAP}
    ),
    wedges AS (
      SELECT LEAST(e1.v, e2.v) AS x, GREATEST(e1.v, e2.v) AS y
      FROM capped e1 JOIN capped e2 ON e1.u = e2.u AND e1.v < e2.v
    ),
    closed AS (
      SELECT CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_closed
      FROM wedges w
      LEFT JOIN pairs p ON p.doc_a = w.x AND p.doc_b = w.y
    )
    SELECT (SELECT COUNT(*) FROM pairs) AS n_edges,
           COUNT(*) AS n_wedges_sampled,
           CAST(SUM(is_closed) AS BIGINT) AS n_closed,
           CAST(SUM(is_closed) * 1000000
                // GREATEST(COUNT(*), 1) AS BIGINT) AS closure_ppm
    FROM closed
    """,
    tags=("L2", "EXT", "dedup"),
)
def l111_dedup_transitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How TRANSITIVE is the near-dup relation at the current
    threshold?  Near-duplicate similarity is not transitive (a~b and
    b~c do not force a~c), but cluster-based dedup (l18\'s connected
    components) TREATS it as if it were — so the wedge-closure rate of
    the pair graph is the calibration number: low closure means
    components chain together documents that never matched each other
    (keep-one-per-cluster is over-deleting), high closure means the
    clusters are genuine cliques.

    Two scale guards, both semantic: (1) exact duplicates collapse to
    their min-doc_id representative first — they are transitive by
    construction (jaccard exactly 1) and their cliques are the
    deg-squared wedge bombs (a k-copy text contributes O(k**3) wedges
    of zero information); (2) wedges come from a DETERMINISTIC
    degree-capped sample — each center contributes only its
    {L111_CAP} lowest-id neighbors (C({L111_CAP},2) wedges max), the
    per-node fanout cap every production triangle/closure estimator
    uses, because boilerplate hubs make the full wedge set quadratic
    in hub degree (measured here: the sf0.1 corpus has a ~1.9k-node
    near-clique — ~5e9 uncapped wedges).  The closing-edge probe runs
    against the FULL pair relation, so closure is exact over the
    sampled wedges and reproducible in both engines (id-ordered
    ranks, integer outputs)."""
    d = load_table(spark, sf_dir, "documents")
    reps = d.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    rep_tokens = _doc_tokens(spark, sf_dir).join(
        reps.select("doc_id"), "doc_id"
    )
    pairs = ephemeral_cache(
        ppjoin_pairs(rep_tokens, JACCARD_T).select("doc_a", "doc_b")
    )
    adj = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionAll(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    capped = (
        adj.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("u").orderBy("v")),
        )
        .filter(F.col("rn") <= L111_CAP)
        .drop("rn")
    )
    e1 = capped.alias("e1")
    e2 = capped.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.u") == F.col("e2.u")) & (F.col("e1.v") < F.col("e2.v")),
    ).select(
        F.least("e1.v", "e2.v").alias("x"),
        F.greatest("e1.v", "e2.v").alias("y"),
    )
    closed = wedges.join(
        pairs.withColumn("hit", F.lit(1)),
        (F.col("x") == F.col("doc_a")) & (F.col("y") == F.col("doc_b")),
        "left",
    ).select(F.coalesce(F.col("hit"), F.lit(0)).alias("is_closed"))
    n_edges = pairs.agg(F.count("*").alias("n_edges"))
    return (
        closed.agg(
            F.count("*").alias("n_wedges_sampled"),
            F.sum("is_closed").alias("n_closed"),
        )
        .join(F.broadcast(n_edges))
        .select(
            "n_edges",
            "n_wedges_sampled",
            "n_closed",
            F.expr(
                "n_closed * 1000000 div greatest(n_wedges_sampled, 1)"
            ).alias("closure_ppm"),
        )
    )


# ---- l112: MinHash Jaccard-estimator calibration ---------------------


@register(
    "l112_minhash_estimator_error",
    oracle=f"""
    WITH {_MHP_ORACLE_CTES},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    agree AS (
      SELECT p.doc_a, p.doc_b,
             SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS m
      FROM pairs p
      JOIN sigs sa ON sa.doc_id = p.doc_a
      JOIN sigs sb ON sb.doc_id = p.doc_b AND sb.i = sa.i
      GROUP BY p.doc_a, p.doc_b
    ),
    sizes AS (SELECT doc_id, COUNT(DISTINCT t) AS n FROM toks GROUP BY doc_id),
    overlap AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS o
      FROM pairs p
      JOIN toks ta ON ta.doc_id = p.doc_a
      JOIN toks tb ON tb.doc_id = p.doc_b AND tb.t = ta.t
      GROUP BY p.doc_a, p.doc_b
    ),
    calib AS (
      SELECT a.m * 1000000 // {MHP_HASHES} AS est_ppm,
             COALESCE(o.o, 0) * 1000000
               // (sa.n + sb.n - COALESCE(o.o, 0)) AS exact_ppm
      FROM agree a
      LEFT JOIN overlap o
        ON o.doc_a = a.doc_a AND o.doc_b = a.doc_b
      JOIN sizes sa ON sa.doc_id = a.doc_a
      JOIN sizes sb ON sb.doc_id = a.doc_b
    )
    SELECT COUNT(*) AS n_pairs,
           CAST(SUM(est_ppm) // GREATEST(COUNT(*), 1) AS BIGINT)
             AS mean_est_ppm,
           CAST(SUM(exact_ppm) // GREATEST(COUNT(*), 1) AS BIGINT)
             AS mean_exact_ppm,
           CAST((SUM(est_ppm) - SUM(exact_ppm)) // GREATEST(COUNT(*), 1)
                AS BIGINT) AS bias_ppm,
           CAST(SUM(ABS(est_ppm - exact_ppm)) // GREATEST(COUNT(*), 1)
                AS BIGINT) AS mae_ppm
    FROM calib
    """,
    tags=("L2", "A4", "EXT", "dedup"),
)
def l112_minhash_estimator_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the MinHash ESTIMATOR itself calibrated on this corpus?
    l83 scores the candidate SET (precision/recall); this scores the
    NUMBER — matching-slots/16 as an estimate of true shingle Jaccard
    — with mean bias and MAE in exact integer ppm over the LSH
    candidate pairs.  A 16-slot signature has binomial std ~ 12% at
    J=0.5, so a pipeline promoting the sketch value into a THRESHOLD
    decision (common shortcut: drop when m/16 >= tau without exact
    verify) needs exactly this table to know the error it signs up
    for.

    Shapes: signatures/bands are l58's (never all-pairs); the exact
    arm joins shingle sets only for CANDIDATE pairs (the verify join
    every LSH dedup runs anyway); one final 1-row reduction.  The
    estimator-vs-truth divergence is real signal, not noise — both
    engines compute both columns exactly, and the bias they agree on
    is the corpus' actual sketch error."""
    d = load_table(spark, sf_dir, "documents")
    grams = word_ngrams(d, 3, "doc_id")
    wide = ephemeral_cache(_mhp_wide(grams, "doc_id"))
    agree = _mhp_slot_agreement(_mhp_band_pairs(wide), wide)
    # the n-grams are distinct per doc (doc_id is unique), so a count is
    # each doc's shingle-set size
    toks = ephemeral_cache(grams)
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n"))
    ta = toks.alias("ta")
    tb = toks.alias("tb")
    overlap = (
        agree.select("doc_a", "doc_b")
        .join(ta, F.col("ta.doc_id") == F.col("doc_a"))
        .join(
            tb,
            (F.col("tb.doc_id") == F.col("doc_b"))
            & (F.col("tb.gram") == F.col("ta.gram")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("o"))
    )
    calib = (
        agree.join(overlap, ["doc_a", "doc_b"], "left")
        .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .select(
            F.expr(f"m * 1000000 div {MHP_HASHES}").alias("est_ppm"),
            F.expr(
                "coalesce(o, 0) * 1000000"
                " div (na + nb - coalesce(o, 0))"
            ).alias("exact_ppm"),
        )
    )
    return calib.agg(
        F.count("*").alias("n_pairs"),
        F.expr("sum(est_ppm) div greatest(count(*), 1)").alias(
            "mean_est_ppm"
        ),
        F.expr("sum(exact_ppm) div greatest(count(*), 1)").alias(
            "mean_exact_ppm"
        ),
        F.expr(
            "(sum(est_ppm) - sum(exact_ppm)) div greatest(count(*), 1)"
        ).alias("bias_ppm"),
        F.expr(
            "sum(abs(est_ppm - exact_ppm)) div greatest(count(*), 1)"
        ).alias("mae_ppm"),
    )


# ---- l114: near-dup cluster-size histogram ---------------------------


@register(
    "l114_dedup_cluster_sizes",
    oracle=f"""
    WITH RECURSIVE tok AS (
      SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS token
      FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) * 1.0 /
             ((SELECT n FROM sizes WHERE doc_id = a.doc_id)
              + (SELECT n FROM sizes WHERE doc_id = b.doc_id) - COUNT(*))
             >= {JACCARD_T}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
      UNION SELECT doc_id, doc_id FROM documents
    ),
    reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    clusters AS (
      SELECT src AS doc_id, MIN(dst) AS cluster_id
      FROM reach GROUP BY src
    ),
    csize AS (
      SELECT cluster_id, COUNT(*) AS cluster_size
      FROM clusters GROUP BY cluster_id
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           COUNT(*) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
           CAST((cluster_size - 1) * COUNT(*) AS BIGINT) AS docs_removed
    FROM csize GROUP BY cluster_size ORDER BY cluster_size
    """,
    tags=("L1", "L2", "EXT", "dedup"),
)
def l114_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup REPORT every pipeline run publishes: the component-
    size histogram of the near-dup graph — how many singletons, how
    many pairs, how big is the largest boilerplate cluster, and the
    doc count keep-one-per-cluster will delete at each size (the
    docs_removed column sums to the corpus shrinkage).  l69 histograms
    exact-dup multiplicity; this histograms the CONNECTED-COMPONENT
    near-dup clusters (l18's relation), which is what the keep/drop
    decision actually acts on.

    Spark side reuses l18's components (graph.py's two-phase union-
    find, diameter-free) and adds two tiny aggregations; the oracle
    re-derives components by recursive reachability, so the sizes are
    verified exactly."""
    clusters = l18_dedup_clusters(spark, sf_dir)
    csize = clusters.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    return (
        csize.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters"))
            .cast("long")
            .alias("docs_removed"),
        )
        .orderBy("cluster_size")
    )
