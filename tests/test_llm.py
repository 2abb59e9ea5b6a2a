"""Cross-checks for the rows-only LLM operators: the approximate /
hash-dependent paths must agree with their exact counterparts."""

from __future__ import annotations

import random

import pytest

from mkpipe_extractor_clickhouse_spark.operators import multimodal
from mkpipe_extractor_clickhouse_spark.registry import all_specs

SPECS = all_specs()


def _run(name, spark, sf_dir):
    return SPECS[name].builder(spark, sf_dir)


def test_distributed_topk_equals_bruteforce(spark, sf_dir):
    """l4 (partition-local heaps + merge) must reproduce l3 exactly."""
    l3 = [(r.vec_id, r.cosine) for r in _run("l3_topk_cosine", spark, sf_dir).collect()]
    l4 = [(r.vec_id, r.cosine) for r in _run("l4_distributed_topk", spark, sf_dir).collect()]
    assert l3 == l4


def test_ivf_topk_recall(spark, sf_dir):
    """IVF with nprobe=5/10 must keep high recall vs exact top-k on the
    label-clustered fixture."""
    exact = {r.vec_id for r in _run("l3_topk_cosine", spark, sf_dir).collect()}
    approx = {r.vec_id for r in _run("l14_ivf_topk", spark, sf_dir).collect()}
    assert len(exact & approx) >= 6  # ≥60% recall at nprobe=5


def test_minhash_lsh_recall(spark, sf_dir):
    """LSH candidates must cover most true near-dup pairs (jaccard ≥
    0.9 ⇒ band-collision probability ≈ 1 - (1-0.9^4)^4 ≈ 0.97)."""
    truth = {
        (r.doc_a, r.doc_b)
        for r in _run("l2_jaccard_neardup", spark, sf_dir).collect()
    }
    cand = {
        (r.doc_a, r.doc_b) for r in _run("l2b_minhash_lsh", spark, sf_dir).collect()
    }
    if truth:
        recall = len(truth & cand) / len(truth)
        assert recall >= 0.8, f"LSH recall {recall:.2f} over {len(truth)} true pairs"


def test_fake_features_math():
    blob = bytes([0, 1, 31, 32, 255])
    feats = multimodal.fake_features(blob)
    assert feats[0] == (0 + 1 + 31 + 32 + 255) / 5  # mean byte
    assert feats[1] == 3  # bytes 0,1,31 → bin 0 (0..31)
    assert feats[2] == 1  # byte 32 → bin 1
    assert feats[8 + 1 - 1] == 1  # byte 255 → last bin
    assert sum(feats[1:]) == len(blob)


def test_multimodal_features_batchwise(spark, sf_dir):
    df = _run("m1_multimodal_features", spark, sf_dir)
    rows = df.collect()
    assert len(rows) == 500
    r = rows[0]
    hist_total = sum(r[f"hist_{i}"] for i in range(multimodal.N_HIST_BINS))
    assert hist_total == r.n_bytes  # histogram partitions every byte
    assert r.format == "fake/v1"


def test_decode_stub_raises():
    import pytest

    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG")


def test_stratified_sample_proportions(spark, sf_dir):
    """sampleBy must keep ~50% of 'en' and 100% of the tail langs."""
    from mkpipe_extractor_clickhouse_spark.catalog import load_table
    from pyspark.sql import functions as F

    got = {r.lang: r.n_kept for r in _run("l16_stratified_sample", spark, sf_dir).collect()}
    full = {
        r.lang: r.n
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for lang in ("es", "de", "fr", "zh"):
        assert got[lang] == full[lang]  # fraction 1.0 keeps everything
    assert 0.3 * full["en"] <= got["en"] <= 0.7 * full["en"]


def test_approx_percentile_accuracy(spark, sf_dir):
    """Sketch percentiles within 5% relative error of the exact a9."""
    exact = {r.l_returnflag: r.p90_price for r in _run("a9_percentiles", spark, sf_dir).collect()}
    approx = {r.l_returnflag: r.p90_approx for r in _run("a14_approx_percentile", spark, sf_dir).collect()}
    for k, v in exact.items():
        assert abs(approx[k] - v) / abs(v) < 0.05


def test_chunking_reconstructs_prefix(spark, sf_dir):
    """chunk_id=0 must be the document's first 16 tokens."""
    from mkpipe_extractor_clickhouse_spark.catalog import load_table
    from pyspark.sql import functions as F

    chunks = _run("l15_doc_chunking", spark, sf_dir)
    first = {
        r.doc_id: r.chunk_text
        for r in chunks.filter(F.col("chunk_id") == 0).collect()
    }
    docs = {
        r.doc_id: " ".join(r.text.split(" ")[:16])
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    assert first == docs


def test_generic_funnel_matches_declared_3step(spark, sf_dir):
    """window_funnel(k=3) must equal the declared sliding query."""
    from mkpipe_extractor_clickhouse_spark.catalog import load_table
    from mkpipe_extractor_clickhouse_spark.operators.funnel import (
        FUNNEL_STEPS,
        window_funnel,
    )

    ev = load_table(spark, sf_dir, "events")
    got = {
        r.user_id: r.funnel_level
        for r in window_funnel(ev, FUNNEL_STEPS).collect()
    }
    want = {
        r.user_id: r.funnel_level
        for r in _run("ch_window_funnel_sliding", spark, sf_dir).collect()
    }
    assert got == want


def test_generic_funnel_4_steps(spark, sf_dir):
    """A 4th step only deepens levels; level-4 users must hold a full
    signup<click<view<purchase chain inside one 7-day window."""
    from mkpipe_extractor_clickhouse_spark.catalog import load_table
    from mkpipe_extractor_clickhouse_spark.operators.funnel import window_funnel

    ev = load_table(spark, sf_dir, "events")
    out = window_funnel(ev, ["signup", "click", "view", "purchase"]).collect()
    levels = {r.user_id: r.funnel_level for r in out}
    assert max(levels.values()) <= 4
    assert any(v == 4 for v in levels.values())  # fixture is dense enough


def test_hll_sketch_union_consistency(spark, sf_dir):
    """Sketch estimates (per-group and the union rollup) must land
    within HLL error bounds of the exact distinct counts."""
    from mkpipe_extractor_clickhouse_spark.catalog import load_table
    from pyspark.sql import functions as F

    rows = {r.l_returnflag: r.approx_parts for r in _run("a16_hll_sketches", spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem")
    exact_all = li.select("l_partkey").distinct().count()
    assert abs(rows["ALL"] - exact_all) / exact_all < 0.05
    exact_per = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    for flag, n in exact_per.items():
        assert abs(rows[flag] - n) / n < 0.05


def test_hll_portable_accuracy_and_merge(spark, sf_dir):
    """a16b (portable-hash HLL, fully oracle-checked): the raw
    estimator must land within HLL error bounds of exact distincts
    (m=256 → 1.04/√m ≈ 6.5% std; assert 4σ), and the 'ALL' row — a
    register-level MERGE of the per-flag sketches — must estimate the
    UNION's cardinality, not the sum."""
    from pyspark.sql import functions as F

    from mkpipe_extractor_clickhouse_spark.catalog import load_table

    import math

    m = 256

    def corrected(r):
        # the consumer-side small-range correction the query
        # deliberately leaves out (runtime ln is banned in-engine):
        # linear counting when the raw estimate is below 2.5m and
        # zero registers remain (Flajolet et al. 2007 §4)
        est = r.est_q / 1e6
        if est <= 2.5 * m and r.zero_regs > 0:
            return m * math.log(m / r.zero_regs)
        return est

    rows = {
        r.l_returnflag: corrected(r)
        for r in _run("a16b_hll_portable", spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem")
    exact_all = li.select("l_partkey").distinct().count()
    assert abs(rows["ALL"] - exact_all) / exact_all < 0.26
    exact_per = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    for flag, n in exact_per.items():
        assert abs(rows[flag] - n) / n < 0.26, (flag, rows[flag], n)
    # merge semantics: the flags share most part keys, so the union
    # estimate must sit far below the per-flag sum
    assert rows["ALL"] < 0.75 * sum(rows[f] for f in exact_per)


def test_kmeans_invariants(spark, sf_dir):
    """k-means: every vector assigned, cells non-empty-ish, and the
    cell stats are self-consistent with a fresh nearest-centroid
    assignment (the fit converged to a fixed point of its own
    assignment rule)."""
    from mkpipe_extractor_clickhouse_spark.catalog import load_table

    out = _run("l20_kmeans_ivf", spark, sf_dir).collect()
    total = sum(r.cell_size for r in out)
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert total == n_vecs  # partition of the corpus
    assert len(out) <= 10
    assert all(r.mean_d2 >= 0 for r in out)
    # deterministic across runs (fixed init + iteration count)
    out2 = _run("l20_kmeans_ivf", spark, sf_dir).collect()
    assert sorted((r.cid, r.cell_size) for r in out) == sorted(
        (r.cid, r.cell_size) for r in out2
    )


def test_simhash_hamming_separates_neardups(spark, sf_dir):
    """SimHash property: true near-duplicate pairs (Jaccard ≥ 0.9)
    must have materially smaller Hamming distance than random pairs —
    the invariant an LSH-on-simhash index relies on."""
    import random

    sims = {r.doc_id: r.simhash for r in _run("l2c_simhash", spark, sf_dir).collect()}
    near = [
        (r.doc_a, r.doc_b)
        for r in _run("l2_jaccard_neardup", spark, sf_dir).collect()
    ]
    assert near, "fixture should contain near-dup pairs"

    def ham(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    near_d = [ham(sims[a], sims[b]) for a, b in near[:500]]
    rng = random.Random(7)
    ids = sorted(sims)
    near_set = set(near)
    rand_d = []
    while len(rand_d) < 500:
        a, b = rng.sample(ids, 2)
        if (min(a, b), max(a, b)) not in near_set:
            rand_d.append(ham(sims[a], sims[b]))
    avg_near = sum(near_d) / len(near_d)
    avg_rand = sum(rand_d) / len(rand_d)
    assert avg_near < avg_rand * 0.6, (
        f"near-dup avg hamming {avg_near:.1f} not well below random {avg_rand:.1f}"
    )


def test_connected_components_deep_chain(spark):
    """Chain graph of diameter 99: label propagation would need ~100
    rounds; large-star/small-star must converge well inside its bound
    and label every node with the chain minimum."""
    from pyspark.sql import functions as F

    from mkpipe_extractor_clickhouse_spark.operators.graph import (
        connected_components,
    )

    n = 100
    nodes = spark.range(n + 10).toDF("id")  # 10 isolated singletons too
    edges = (
        spark.range(n - 1)
        .toDF("u")
        .select("u", (F.col("u") + 1).alias("v"))
    )
    out = connected_components(nodes, edges).collect()
    labels = {r["doc_id"]: r["cluster_id"] for r in out}
    assert all(labels[i] == 0 for i in range(n))
    assert all(labels[i] == i for i in range(n, n + 10))


def test_connected_components_two_components_and_order(spark):
    """Components split correctly regardless of edge orientation."""
    from mkpipe_extractor_clickhouse_spark.operators.graph import (
        connected_components,
    )

    nodes = spark.range(8).toDF("id")
    edges = spark.createDataFrame(
        [(5, 3), (3, 7), (1, 0), (2, 1), (6, 6)], ["u", "v"]
    )
    out = {r["doc_id"]: r["cluster_id"] for r in connected_components(nodes, edges).collect()}
    assert out == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 3, 6: 6, 7: 3}


def _uf_labels(node_ids, pairs):
    """Reference components: plain union-find, label = component min
    under Python ordering."""
    parent = {x: x for x in node_ids}

    def root(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in pairs:
        if a is None or b is None:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: root(x) for x in node_ids}


def _cc_labels(nodes, edges):
    from mkpipe_extractor_clickhouse_spark.operators.graph import (
        connected_components,
    )

    out = connected_components(nodes, edges).collect()
    assert len(out) == nodes.count()
    return {r["doc_id"]: r["cluster_id"] for r in out}


@pytest.fixture(params=["driver_finish", "star_fallback"])
def cc_path(request, monkeypatch):
    """Run a CC test on both phase-2 paths: the default bound finishes
    every test graph on the driver; a bound of 2 edges forces the
    large-star/small-star rounds over the phase-1 forest."""
    from mkpipe_extractor_clickhouse_spark.operators import graph

    if request.param == "star_fallback":
        monkeypatch.setattr(graph, "_DRIVER_FINISH_EDGES", 2)
    return request.param


@pytest.mark.parametrize("seed,parts", [(1, 4), (2, 8)])
def test_connected_components_random_graphs_match_union_find(
    spark, cc_path, seed, parts
):
    """Random sparse graphs with their edges scattered over 4-8
    partitions, so most components span partitions and phase 1 only
    contracts them partially: both phase-2 paths must reproduce a
    pure-Python union-find exactly (duplicate and reversed edges too)."""
    rng = random.Random(seed)
    n = 150
    pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(110)]
    pairs += [(b, a) for a, b in pairs[:10]] + pairs[10:20]
    nodes = spark.range(n).toDF("id")
    edges = spark.createDataFrame(pairs, "u long, v long").repartition(parts)
    assert _cc_labels(nodes, edges) == _uf_labels(range(n), pairs)


def test_connected_components_string_ids_non_ascii(spark, cc_path):
    """String ids (er1's case): cluster ids must be the component
    minimum in Spark's order, which compares UTF-8 bytes, while the
    driver finish compares Python code points.  The two orders agree,
    including astral characters that UTF-16 code-unit order (Java's
    String.compareTo) would rank below U+FFFF."""
    ids = ["a", "z", "é", "Ω", "日本", "\uffff", "\U0001f600", "e\u0301",
           "zz", "Z", "ß", "\U0001f600x"]
    rows = spark.createDataFrame([(i,) for i in ids], "id string")
    assert [r.id for r in rows.orderBy("id").collect()] == sorted(ids)
    pairs = [("\U0001f600", "\uffff"), ("z", "é"), ("é", "Ω"),
             ("日本", "\U0001f600x"), ("\U0001f600x", "ß"), ("Z", "Z"),
             ("é", "e\u0301")]
    edges = spark.createDataFrame(pairs, "u string, v string").repartition(4)
    labels = _cc_labels(rows, edges)
    assert labels == _uf_labels(ids, pairs)
    assert labels["\U0001f600"] == "\uffff"
    assert labels["Ω"] == "e\u0301"  # not NFC-normalized: 'e' < 'z' < 'é'


def test_connected_components_degenerate_inputs(spark, cc_path):
    """Null endpoints and self-loops are ignored (as the u != v filter
    always did), an empty or loop-only edge set labels every node by
    itself, and nodes no edge touches stay singletons."""
    nodes = spark.range(6).toDF("id")
    schema = "u long, v long"
    empty = spark.createDataFrame([], schema)
    assert _cc_labels(nodes, empty) == {i: i for i in range(6)}
    loops = spark.createDataFrame([(1, 1), (4, 4), (4, 4)], schema)
    assert _cc_labels(nodes, loops) == {i: i for i in range(6)}
    nulls = spark.createDataFrame(
        [(None, 1), (2, None), (None, None), (5, 3), (3, 3)], schema
    )
    assert _cc_labels(nodes, nulls) == {
        0: 0, 1: 1, 2: 2, 3: 3, 4: 4, 5: 3
    }


def test_connected_components_driver_finish_job_count(spark):
    """Job-count lock for the two-phase design: the diameter-99 chain
    costs at most 3 Spark jobs to build on the driver-finish path (2
    here: the input's shuffle stage under AQE, then the phase-1 pass
    with its bounded collect), where the star rounds spent a
    checkpoint job, a count and an anti-join per round."""
    from pyspark.sql import functions as F

    from mkpipe_extractor_clickhouse_spark.operators.graph import (
        connected_components,
    )

    sc = spark.sparkContext
    n = 100
    nodes = spark.range(n + 10).toDF("id")
    edges = (
        spark.range(n - 1)
        .toDF("u")
        .select("u", (F.col("u") + 1).alias("v"))
        .repartition(8)
    )
    group = "cc-job-count-lock"
    sc.setJobGroup(group, "connected_components build")
    try:
        out = connected_components(nodes, edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 3, jobs
    labels = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert labels == {i: 0 if i < n else i for i in range(n + 10)}


def _vector_batch(rows):
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [
            pa.array(range(len(rows)), type=pa.int64()),
            pa.array(rows, type=pa.list_(pa.float64())),
        ],
        ["vec_id", "v"],
    )


_CENT = [([1, 2], [[0.0, 0.0], [1.0, 1.0]])]


def _lloyd_kernels():
    """Each Lloyd kernel over a one-batch input: the update kernel reads
    (v), the assignment kernels read (vec_id, v)."""
    from mkpipe_extractor_clickhouse_spark.operators import llm_similarity as ls

    def update(batch):
        return list(ls._lloyd_update_fn(_CENT, 2, 2)([batch.select(["v"])]))

    def assign(batch):
        return list(ls._lloyd_assign_fn(_CENT, 2, 2)([batch]))

    def residual(batch):
        return list(ls._lloyd_assign_residual_fn(_CENT, 2)([batch]))

    return [update, assign, residual]


@pytest.mark.parametrize(
    "rows,match",
    [
        ([[0.0, 1.0], [float("nan"), 0.0]], "non-finite"),
        ([[0.0, 1.0], [float("inf"), 0.0]], "non-finite"),
        ([[0.0, 1.0], [None, 0.0]], "non-finite"),
        ([[0.0, 1.0], [1.0]], "ragged or null"),
        ([[0.0, 1.0], None], "ragged or null"),
        # lengths 3 + 1 total n·dim = 4: only a per-row check catches it
        ([[0.0, 1.0, 2.0], [3.0]], "ragged or null"),
    ],
)
def test_lloyd_kernels_reject_malformed_vectors(rows, match):
    """NaN/inf components, null elements, null vectors and ragged
    vectors (even ones whose lengths total n·dim) raise ValueError in every Lloyd kernel instead of being
    assigned to a centroid."""
    for kernel in _lloyd_kernels():
        with pytest.raises(ValueError, match=match):
            kernel(_vector_batch(rows))
        assert kernel(_vector_batch([[0.0, 1.0], [1.0, 0.5]]))


def test_lloyd_kernel_error_surfaces_through_spark(spark):
    """The ValueError raised on a worker reaches the caller of
    kmeans_fit (wrapped by Spark, message intact)."""
    from mkpipe_extractor_clickhouse_spark.operators.llm_similarity import (
        kmeans_fit,
    )

    vecs = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [float("nan"), 0.0]), (3, [1.0, 1.0])],
        "vec_id long, v array<double>",
    )
    with pytest.raises(Exception, match="non-finite vector component"):
        kmeans_fit(vecs, k=2, max_iter=1)


def test_lloyd_fits_reject_empty_input(spark):
    """An empty corpus is a ValueError, not an IndexError on init[0]."""
    from mkpipe_extractor_clickhouse_spark.operators.llm_similarity import (
        kmeans_fit,
        pq_train_encode,
    )

    empty = spark.createDataFrame([], "vec_id long, v array<double>")
    with pytest.raises(ValueError, match="no vectors to fit"):
        kmeans_fit(empty, k=2)
    with pytest.raises(ValueError, match="no vectors to fit"):
        pq_train_encode(empty)


def test_lloyd_reduce_requires_pos0_per_group():
    """_lloyd_reduce reads each group's count from its pos-0 row; a
    partial group without one must fail instead of dropping the
    cluster."""
    from mkpipe_extractor_clickhouse_spark.operators.llm_similarity import (
        _lloyd_reduce,
    )

    def row(cid, pos, qsum, cnt):
        return {"block": 0, "cid": cid, "pos": pos, "qsum": qsum, "cnt": cnt}

    cent = [([1, 2], [[0.0, 0.0], [1.0, 1.0]])]
    ok = [row(1, 0, 2_000_000_000, 2), row(1, 1, 4_000_000_000, 2),
          row(1, 0, 1_000_000_000, 1), row(1, 1, 0, 1)]
    assert _lloyd_reduce(ok, cent) == [([1], [[1.0, 4.0 / 3.0]])]
    with pytest.raises(RuntimeError, match="pos-0"):
        _lloyd_reduce(ok + [row(2, 1, 5, 1)], cent)


def test_collapse_probe_memo_holds_only_bools(spark, sf_dir):
    """The dispatch-probe memo lives for the whole process: it must
    keep only the bool decision, never a Row, DataFrame or other
    object that would pin driver or JVM state across queries."""
    from mkpipe_extractor_clickhouse_spark.operators import llm_dedup

    _run("l2_jaccard_neardup", spark, sf_dir)
    _run("l18_dedup_clusters", spark, sf_dir)
    memo = llm_dedup._COLLAPSE_PROBE_CACHE
    assert memo
    assert all(type(v) is bool for v in memo.values()), memo


def test_pq_topk_recall(spark, sf_dir):
    """PQ-ADC candidates + exact re-rank must recover at least half of
    the exact top-k. Uniformly random embeddings are PQ's adversarial
    case (pairwise distances concentrate, so codes carry little
    signal); structured corpora recall far higher at the same params."""
    from mkpipe_extractor_clickhouse_spark.operators.llm_similarity import (
        l3_topk_cosine,
        l21_pq_topk,
    )

    exact = {r.vec_id for r in l3_topk_cosine(spark, sf_dir).collect()}
    pq = {r.vec_id for r in l21_pq_topk(spark, sf_dir).collect()}
    assert len(exact & pq) / len(exact) >= 0.5


def test_incremental_neardup_equals_full_join_restriction(spark, sf_dir):
    """x7 (new batch vs history via the stored-index prefix join) must
    equal the FULL self-join l2 restricted to cross-split pairs — the
    incremental path finds exactly the pairs the batch path would,
    never a history×history pair, and never drops one."""
    x7 = {
        (r.new_doc, r.dup_of)
        for r in _run("x7_incremental_neardup", spark, sf_dir).collect()
    }
    full = _run("l2_jaccard_neardup", spark, sf_dir).collect()
    want = set()
    for r in full:
        a_new, b_new = r.doc_a % 5 == 4, r.doc_b % 5 == 4
        if a_new and not b_new:
            want.add((r.doc_a, r.doc_b))
        elif b_new and not a_new:
            want.add((r.doc_b, r.doc_a))
    assert x7 == want
    assert len(x7) > 0
    assert all(n % 5 == 4 and d % 5 != 4 for n, d in x7)


def test_ivfpq_adc_recall_within_probed_lists(spark, sf_dir):
    """IVFADC (l21b): ADC-over-residuals + exact re-rank must recover
    ≥0.9 of the exact top-k RESTRICTED to the probed inverted lists —
    the bound that isolates residual-PQ scoring quality. (End-to-end
    recall vs the global exact top-k is capped by IVF cell membership,
    which on near-random fixture embeddings is ~nprobe/nlists and not a
    property of the scorer; assert a loose sanity floor on it too.)"""
    from pyspark.sql import functions as F

    from mkpipe_extractor_clickhouse_spark.operators.llm_similarity import (
        IVFPQ_NPROBE,
        QUERY_VEC_ID,
        TOP_K,
        _dot,
        _norm,
        _vectors,
        ivfpq_index,
        l3_topk_cosine,
        l21b_ivfpq_topk,
    )

    got = {r.vec_id for r in l21b_ivfpq_topk(spark, sf_dir).collect()}

    vecs = _vectors(spark, sf_dir)
    corpus = vecs.filter(F.col("vec_id") != QUERY_VEC_ID)
    coarse, assigned, _, _ = ivfpq_index(corpus)
    q = vecs.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("v").alias("qv")
    )
    cdist = F.aggregate(
        F.zip_with("cv", "qv", lambda c, x: (c - x) * (c - x)),
        F.lit(0.0),
        lambda acc, y: acc + y,
    )
    probed = (
        coarse.join(F.broadcast(q))
        .select("cid", cdist.alias("cd2"))
        .orderBy(F.col("cd2").asc(), F.col("cid"))
        .limit(IVFPQ_NPROBE)
    )
    members = assigned.join(probed.select("cid"), "cid").select("vec_id")
    in_list = corpus.join(members, "vec_id").join(F.broadcast(q)).select(
        "vec_id", (_dot("v", "qv") / (_norm("v") * _norm("qv"))).alias("cos")
    )
    truth = {
        r.vec_id
        for r in in_list.orderBy(F.col("cos").desc(), F.col("vec_id"))
        .limit(TOP_K)
        .collect()
    }
    assert len(truth & got) / len(truth) >= 0.9

    exact = {r.vec_id for r in l3_topk_cosine(spark, sf_dir).collect()}
    assert len(exact & got) / len(exact) >= 0.2  # cell-miss-capped floor


def test_spacesaving_invariants(spark, sf_dir):
    """SpaceSaving guarantees vs exact counts: for every reported item
    est ≥ true ≥ est − err, and every token whose true count exceeds
    n/capacity appears in the merged summary."""
    from pyspark.sql import functions as F

    from mkpipe_extractor_clickhouse_spark.catalog import load_table
    from mkpipe_extractor_clickhouse_spark.operators.llm_text import (
        SS_CAPACITY,
        spacesaving_heavy_hitters,
    )

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("t"))
    exact = {
        r["t"]: r["c"]
        for r in tok.groupBy("t").agg(F.count("*").alias("c")).collect()
    }
    n = sum(exact.values())
    sketch = {
        r["token"]: (r["est"], r["err"])
        for r in spacesaving_heavy_hitters(tok).collect()
    }
    for token, (est, err) in sketch.items():
        true = exact[token]
        assert est >= true, (token, est, true)
        assert est - err <= true, (token, est, err, true)
    threshold = n / SS_CAPACITY
    must_appear = {t for t, c in exact.items() if c > threshold}
    assert must_appear <= set(sketch), must_appear - set(sketch)


def test_countmin_invariants(spark, sf_dir):
    """CMS point estimates: never undercount (min over rows of
    superset-bucket counts), and on this fixture the depth-4 min keeps
    the overcount within a few n/W collisions."""
    from mkpipe_extractor_clickhouse_spark.operators.llm_text import (
        CMS_WIDTH,
        a24_countmin_point,
    )

    rows = a24_countmin_point(spark, sf_dir).collect()
    assert len(rows) == 10
    n = sum(r["true_c"] for r in rows)  # lower bound on corpus tokens
    for r in rows:
        assert r["cms_estimate"] >= r["true_c"], r
        assert r["cms_estimate"] - r["true_c"] <= max(
            8 * n // CMS_WIDTH, 64
        ), r


def test_kmv_overlap_accuracy(spark, sf_dir):
    """KMV estimates vs exact: distinct-count estimates within ~4/√k
    relative error on the fixture, and intersection estimates within
    a loose band (the inclusion-exclusion estimator compounds two
    sketch errors)."""
    from pyspark.sql import functions as F

    from mkpipe_extractor_clickhouse_spark.catalog import load_table
    from mkpipe_extractor_clickhouse_spark.operators.llm_text import (
        a25_kmv_overlap,
    )

    ev = load_table(spark, sf_dir, "events")
    exact_sizes = {
        r["event_type"]: r["d"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    pairs = ev.select("event_type", "user_id").distinct()
    exact_inter = {
        (r["a"], r["b"]): r["c"]
        for r in pairs.alias("x")
        .join(
            pairs.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("a"), F.col("y.event_type").alias("b")
        )
        .agg(F.count("*").alias("c"))
        .collect()
    }
    rows = a25_kmv_overlap(spark, sf_dir).collect()
    assert rows, "no segment pairs"
    for r in rows:
        ta = exact_sizes[r["seg_a"]]
        assert abs(r["est_a"] - ta) / ta < 0.6, (r["seg_a"], r["est_a"], ta)
        ti = exact_inter.get((r["seg_a"], r["seg_b"]), 0)
        if ti:
            assert abs(r["est_intersection"] - ti) / ti < 0.8, (r, ti)


def test_ann_recall_column_surfaced_and_bounded(spark, sf_dir):
    """r3 ask #5: the ANN queries must SELF-REPORT recall@k as an
    integer ppm column so the driver's rows-only check pins quality.
    Bounds mirror the standalone recall tests (uniform-random fixture
    embeddings are the adversarial case for PQ)."""
    for name, lo in (
        ("l14_ivf_topk", 600_000),
        ("l21_pq_topk", 500_000),
        ("l21b_ivfpq_topk", 300_000),
    ):
        df = _run(name, spark, sf_dir)
        assert "recall_ppm_at_k" in df.columns, name
        vals = {r.recall_ppm_at_k for r in df.collect()}
        assert len(vals) == 1, name  # one constant per query panel
        assert vals.pop() >= lo, name


def test_kmeans_cell_purity_surfaced(spark, sf_dir):
    """l20 must report per-cell majority label + purity ppm; purity is
    a valid ppm and cells cover the corpus."""
    from mkpipe_extractor_clickhouse_spark.operators.llm_similarity import (
        _vectors,
    )

    rows = _run("l20_kmeans_ivf", spark, sf_dir).collect()
    assert rows and all(0 < r.purity_ppm <= 1_000_000 for r in rows)
    assert sum(r.cell_size for r in rows) == _vectors(spark, sf_dir).count()


def test_simhash_pairs_equal_bruteforce_hamming_join(spark, sf_dir):
    """l2e's pigeonhole block banding must equal the brute-force
    Hamming-distance join EXACTLY (recall 1.0 by construction — any two
    64-bit prints within HD<=3 agree on one of the 4 disjoint 16-bit
    blocks)."""
    from pyspark.sql import functions as F

    from mkpipe_extractor_clickhouse_spark.operators.llm_dedup import (
        SIMHASH_MAX_HD,
        _simhash_fingerprints,
    )

    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in _run("l2e_simhash_pairs", spark, sf_dir).collect()
    }
    fp = _simhash_fingerprints(spark, sf_dir)
    brute = (
        fp.alias("a")
        .crossJoin(fp.alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn(
            "hamming",
            F.expr("bit_count(a.simhash ^ b.simhash)").cast("long"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HD)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            "hamming",
        )
    )
    want = {(r.doc_a, r.doc_b, r.hamming) for r in brute.collect()}
    assert got == want
    assert got  # non-degenerate fixture: some near pairs exist


def test_arrow_kernel_rejects_ragged_rows_summing_to_dim(spark):
    """The zero-copy reshape guard must validate PER-ROW lengths, not
    just the flat total: a batch of 3-dim and 5-dim vectors sums to
    2*4 and would silently reshape misaligned (wrong cosines) under a
    sum-only check. With per-row validation the kernel takes the
    boxing fallback, which fails LOUDLY on genuinely ragged input —
    never a silently wrong score."""
    import pytest

    from mkpipe_extractor_clickhouse_spark.operators.llm_similarity import (
        arrow_topk_cosine,
    )

    ragged = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0, 0.0])],
        "vec_id long, v array<float>",
    ).coalesce(1)
    with pytest.raises(Exception):
        arrow_topk_cosine(ragged, [1.0, 0.0, 0.0, 0.0], k=2,
                          exclude_id=None).collect()
    # uniform rows of the query's dim still flow through zero-copy
    ok = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, v array<float>",
    ).coalesce(1)
    rows = arrow_topk_cosine(ok, [1.0, 0.0, 0.0, 0.0], k=2,
                             exclude_id=None).collect()
    assert [r.vec_id for r in rows] == [1, 2]
    assert rows[0].cosine == 1.0


def test_sniffer_riff_requires_wave_tag():
    """RIFF is a container magic shared by WebP/AVI: only a 'WAVE' form
    tag at bytes 8-12 may classify as audio/wav (ADVICE r7); any other
    RIFF payload is 'unknown', and truncated headers never crash."""
    import pandas as pd

    wav = b"RIFF\x00\x00\x00\x00WAVEdata..."
    webp = b"RIFF\x24\x00\x00\x00WEBPVP8 ..."
    avi = b"RIFF\x00\x10\x00\x00AVI LIST"
    short = b"RIFF\x00\x00"
    png = bytes.fromhex("89504e470d0a1a0a") + b"rest"
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "blob": [wav, webp, avi, short, png],
            "meta": [{"format": "audio/wav"}] * 5,
        }
    )
    (out,) = list(multimodal.sniff_formats(iter([pdf])))
    assert list(out["sniffed_format"]) == [
        "audio/wav", "unknown", "unknown", "unknown", "image/png",
    ]


def test_embedding_shards_walk_nested_dirs(tmp_path):
    """A partitioned/nested parquet layout must contribute ALL its
    row-groups to the shard list — a top-level-only listing would
    silently scan a subset and return a wrong top-k (ADVICE r7).
    Underscore/dot-prefixed sidecars are skipped like Spark's file
    index does."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mkpipe_extractor_clickhouse_spark.operators.llm_similarity import (
        _embedding_shards,
    )

    t = pa.table({"x": [1, 2, 3]})
    pq.write_table(t, tmp_path / "top.parquet")
    sub = tmp_path / "part=a"
    sub.mkdir()
    pq.write_table(t, sub / "nested.parquet")
    (tmp_path / "_SUCCESS").touch()
    (tmp_path / "_metadata.parquet").write_bytes(b"")  # sidecar, skipped
    shards = _embedding_shards(str(tmp_path))
    files = {f for f, _ in shards}
    assert files == {
        str(tmp_path / "top.parquet"),
        str(sub / "nested.parquet"),
    }


def test_lsh_duplicate_clique_factoring(spark, tmp_path):
    """Mega-bucket guard semantics: a corpus of G distinct texts, each
    duplicated D times, must yield exactly G * D*(D-1)/2 intra-group
    pairs at est_jaccard 1.0 plus any genuinely near-dup cross pairs —
    and the factored pipeline must produce the pairs the unfactored
    definition implies (each unordered pair once, doc_a < doc_b)."""
    import itertools

    G, D = 6, 7
    texts = [
        " ".join(f"w{g}t{i}" for i in range(12)) for g in range(G)
    ]
    rows = [
        (g * D + c, texts[g]) for g in range(G) for c in range(D)
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(sf / "documents.parquet")
    )
    out = _run("l2b_minhash_lsh", spark, str(sf)).collect()
    got = {(r.doc_a, r.doc_b): r.est_jaccard for r in out}
    expected = {
        pair
        for g in range(G)
        for pair in itertools.combinations(range(g * D, g * D + D), 2)
    }
    # every intra-clique pair present at exactly 1.0, each exactly once
    assert expected <= set(got)
    assert all(got[p] == 1.0 for p in expected)
    assert len(out) == len(got)  # no duplicate emissions
    # distinct token sets share no tokens → no cross-group pairs can
    # reach 12/16 signature agreement
    cross = set(got) - expected
    assert not cross, f"unexpected cross-group pairs: {sorted(cross)[:5]}"


def test_packed_topk_tie_exactness(spark, tmp_path):
    """l4c two-phase screen soundness under ties: many IDENTICAL
    vectors straddle the k-cut, so the true top-k is decided purely by
    vec_id tiebreak among equal scores — a fixed-count f32 screen
    would pick arbitrary copies; the margin screen + exact f64 refine
    must return exactly the arrow kernel's rows."""
    import random

    from mkpipe_extractor_clickhouse_spark.operators.llm_similarity import (
        arrow_topk_cosine,
        build_packed_vector_layout,
        packed_topk_cosine,
    )

    rng = random.Random(7)
    base = [rng.uniform(-1, 1) for _ in range(64)]
    near = [x + 0.001 for x in base]
    far = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(50)]
    rows = [(0, base, "q")]
    # 40 identical copies of `near` — more than k, all tied
    rows += [(i + 1, near, "dup") for i in range(40)]
    rows += [(100 + i, v, "far") for i, v in enumerate(far)]
    sf = tmp_path / "sf"
    sf.mkdir()
    df = spark.createDataFrame(
        [(i, [float(f"%.6f" % x) for x in v], lb) for i, v, lb in rows],
        "vec_id long, embedding array<float>, label string",
    )
    df.write.parquet(str(sf / "embeddings.parquet"))
    layout = build_packed_vector_layout(spark, str(sf), str(tmp_path / "lay"))
    kern = arrow_topk_cosine(
        spark.read.parquet(str(sf / "embeddings.parquet")).selectExpr(
            "vec_id", "embedding as v"
        ),
        base,
        10,
    ).collect()
    packed = packed_topk_cosine(spark, layout, base, 10).collect()
    assert [tuple(r) for r in kern] == [tuple(r) for r in packed]
    # the winners must be the 10 SMALLEST vec_ids of the tied copies
    assert [r.vec_id for r in packed] == list(range(1, 11))


def test_packed_layout_rejects_ragged(spark, tmp_path):
    """The pack step must refuse ragged/null vectors — the layout
    carries a uniform-dim guarantee the scan path relies on."""
    import pytest as _pytest

    from mkpipe_extractor_clickhouse_spark.operators.llm_similarity import (
        build_packed_vector_layout,
    )

    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        [(0, [1.0] * 64), (1, [1.0] * 63)],
        "vec_id long, embedding array<float>",
    ).write.parquet(str(sf / "embeddings.parquet"))
    with _pytest.raises(Exception, match="uniform|ragged|64"):
        build_packed_vector_layout(spark, str(sf), str(tmp_path / "lay"))


def test_bpe_fertility_invariants(spark, sf_dir):
    """l102: every word is >= 1 token, every token >= 1 char, and the
    merge table can only shrink token counts vs characters."""
    rows = _run("l102_bpe_fertility", spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.total_tokens <= r.total_chars
        assert r.fertility_ppm >= 1_000_000  # >= 1 token per word
        assert r.chars_per_token_ppm >= 1_000_000  # >= 1 char per token


def test_lsh_param_tuning_invariants(spark, sf_dir):
    """l103: one row per (bands, rows) factorization of the 16-slot
    signature; more-bands/fewer-rows must be the more permissive
    banding (its expected candidate mass dominates the transpose)."""
    rows = _run("l103_lsh_param_tuning", spark, sf_dir).collect()
    assert sorted((r.bands, r.rows_per_band) for r in rows) == sorted(
        [(16, 1), (8, 2), (4, 4), (2, 8), (1, 16)]
    )
    assert sorted(r.err_rank for r in rows) == [1, 2, 3, 4, 5]
    by_cfg = {(r.bands, r.rows_per_band): r for r in rows}
    assert (
        by_cfg[(16, 1)].exp_candidates_e9
        >= by_cfg[(1, 16)].exp_candidates_e9
    )
    for r in rows:
        assert r.fp_mass_e9 >= 0 and r.fn_mass_e9 >= 0
        assert r.total_err_e9 == r.fp_mass_e9 + r.fn_mass_e9


def test_contamination_report_partitions_docs(spark, sf_dir):
    """l104: severity buckets partition each source's doc count, and
    eval sources never appear in their own report."""
    rows = _run("l104_contamination_report", spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.source not in ("src18", "src19")
        assert r.n_clean + r.n_partial + r.n_dirty == r.n_docs
        assert 0 <= r.mean_dirty_ppm <= 1_000_000


def test_quality_classifier_margins(spark, sf_dir):
    """l105: keep count bounded by docs; min <= mean <= max margins."""
    rows = _run("l105_quality_classifier", spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_keep <= r.n_docs
        assert r.min_score_q <= r.mean_score_q <= r.max_score_q


def test_softdedup_conserves_unique_mass(spark, sf_dir):
    """l106: 1/n weights mean every duplicate CLUSTER contributes ~one
    doc of effective tokens: effective <= raw, discount in [0, 1e6),
    and a fully-unique source has zero discount."""
    rows = _run("l106_softdedup_weights", spark, sf_dir).collect()
    assert rows
    total_raw = sum(r.raw_tokens for r in rows)
    total_eff = sum(r.effective_tokens_e6 for r in rows)
    assert total_eff <= total_raw * 1_000_000
    for r in rows:
        assert 0 <= r.discount_ppm < 1_000_000
        assert r.effective_tokens_e6 <= r.raw_tokens * 1_000_000


def test_power_iteration_contract(spark, sf_dir):
    """l107: the returned direction is max-normalized to exactly 1e6,
    component signs align with the final loadings, and — power
    iteration's defining property on a PSD Gram matrix — its Rayleigh
    quotient dominates the all-ones start vector's."""
    import numpy as np

    rows = sorted(
        _run("l107_power_iteration", spark, sf_dir).collect(),
        key=lambda r: r.dim,
    )
    v = np.array([r.component_e6 for r in rows], dtype=float)
    assert int(max(abs(x) for x in v)) == 1_000_000
    for r in rows:
        if r.component_e6 != 0:
            assert (r.component_e6 > 0) == (r.gain_raw > 0)
    emb = np.array(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("embedding")
        .toPandas()["embedding"]
        .tolist(),
        dtype=float,
    )
    C = emb.T @ emb
    ones = np.ones(len(v))

    def rq(x):
        return float(x @ C @ x) / float(x @ x)

    # monotone in exact arithmetic; 0.99 absorbs integer truncation
    assert rq(v) >= 0.99 * rq(ones)


def test_ann_recall_curve_monotone(spark, sf_dir):
    """l108: more probes can only add candidates and recall; probing
    every list must recover the exact top-k (recall = 1e6)."""
    rows = sorted(
        _run("l108_ann_recall_curve", spark, sf_dir).collect(),
        key=lambda r: r.nprobe,
    )
    assert [r.nprobe for r in rows] == [1, 2, 3, 5, 8, 10]
    for a, b in zip(rows, rows[1:]):
        assert b.n_candidates >= a.n_candidates
        assert b.recall_ppm >= a.recall_ppm
    assert rows[-1].recall_ppm == 1_000_000


def test_doremi_mixture_monotone_in_loss(spark, sf_dir):
    """l109: multiplicative updates preserve order — a domain with
    higher proxy loss can never end with a lower weight — and the
    normalized weights total ~1e6 (trunc-division slop < one ppm per
    domain)."""
    rows = _run("l109_doremi_mixture", spark, sf_dir).collect()
    assert rows
    by_loss = sorted(rows, key=lambda r: (r.loss_ppm, r.source))
    for a, b in zip(by_loss, by_loss[1:]):
        assert b.weight_ppm >= a.weight_ppm
    total = sum(r.weight_ppm for r in rows)
    assert 1_000_000 - len(rows) <= total <= 1_000_000


def test_vocab_coverage_monotone(spark, sf_dir):
    """l110: coverage grows with vocab size; a vocab >= the type count
    covers everything (1e6 ppm)."""
    rows = sorted(
        _run("l110_vocab_coverage_curve", spark, sf_dir).collect(),
        key=lambda r: r.vocab_size,
    )
    assert [r.vocab_size for r in rows] == [100, 500, 1000, 2000, 5000]
    for a, b in zip(rows, rows[1:]):
        assert b.covered_tokens >= a.covered_tokens
        assert b.coverage_ppm >= a.coverage_ppm
    n_types = rows[0].n_types
    for r in rows:
        if r.vocab_size >= n_types:
            assert r.coverage_ppm == 1_000_000


def test_transitivity_audit_bounds(spark, sf_dir):
    """l111: sampled closure is a ppm in [0, 1e6]; closed wedges never
    exceed sampled wedges; the capped sample is bounded by
    C(cap, 2) * nodes (cap=10 -> 45 per center)."""
    from mkpipe_extractor_clickhouse_spark.operators.llm_dedup import (
        L111_CAP,
    )

    r = _run("l111_dedup_transitivity_audit", spark, sf_dir).collect()[0]
    assert 0 <= r.n_closed <= r.n_wedges_sampled
    assert 0 <= r.closure_ppm <= 1_000_000
    max_per_center = L111_CAP * (L111_CAP - 1) // 2
    assert r.n_wedges_sampled <= 2 * r.n_edges * max_per_center


def test_minhash_estimator_calibration_bounds(spark, sf_dir):
    """l112: ppm quantities bounded; MAE dominates |bias| (triangle
    inequality over the per-pair errors)."""
    r = _run("l112_minhash_estimator_error", spark, sf_dir).collect()[0]
    assert r.n_pairs > 0
    assert 0 <= r.mean_est_ppm <= 1_000_000
    assert 0 <= r.mean_exact_ppm <= 1_000_000
    assert r.mae_ppm >= abs(r.bias_ppm) - 1  # trunc-division slop


def test_cdc_chunk_dedup_bounds(spark, sf_dir):
    """m9: unique bytes can't exceed stored bytes; savings in [0,1e6);
    every chunk averages at least one byte."""
    r = _run("m9_cdc_chunk_dedup", spark, sf_dir).collect()[0]
    assert 0 < r.n_unique_chunks <= r.n_chunks
    assert 0 < r.unique_bytes <= r.total_bytes
    assert 0 <= r.savings_ppm < 1_000_000
    assert r.avg_chunk_bytes >= 1


def test_cdc_chunking_shift_invariant():
    """The defining CDC property: inserting a prefix must NOT re-chunk
    the whole payload — boundaries re-synchronize within one window,
    so almost all of the original chunks reappear byte-identical (a
    fixed-size splitter would lose every chunk after the insertion)."""
    import pandas as pd

    from mkpipe_extractor_clickhouse_spark.operators.multimodal import (
        cdc_chunker,
    )

    import random

    # entropy-rich payload: a periodic text repeats its handful of
    # window hashes and may legitimately never hit a boundary
    base = random.Random(5).randbytes(4096)
    shifted = b"INSERTED-PREFIX-BYTES/" + base
    pdf = pd.DataFrame({"doc_id": [1, 2], "blob": [base, shifted]})
    out = pd.concat(list(cdc_chunker(iter([pdf]))))
    a = set(out[out.doc_id == 1]["chunk_md5"])
    b = set(out[out.doc_id == 2]["chunk_md5"])
    assert len(a & b) >= max(1, int(0.7 * len(a)))
    # chunk lengths tile each payload exactly
    assert out[out.doc_id == 1]["chunk_len"].sum() == len(base)
    assert out[out.doc_id == 2]["chunk_len"].sum() == len(shifted)


def test_jaccard_family_collapse_path_on_duplicated_corpus(spark, sf_dir, tmp_path):
    """r10 rep-collapse: the fixtures are ~dup-free, so the adaptive
    collapse path (_collapse_pays) never fires in the registry runs.
    Exercise it against a corpus where 3 of 4 docs are exact copies:
    l2/l71/l81 must hash-match their (unchanged, naive) oracles with
    the collapse ACTIVE — pair expansion, within-group emission, and
    l81's arithmetic count recovery are all on the line here."""
    import duckdb
    from pyspark.sql import functions as F

    from mkpipe_extractor_clickhouse_spark.catalog import load_table
    from mkpipe_extractor_clickhouse_spark.operators.llm_dedup import (
        _collapse_pays,
    )

    d = load_table(spark, sf_dir, "documents")
    stride = d.agg(F.max("doc_id")).first()[0] + 1
    reps_df = spark.range(4).select(F.col("id").alias("__rep"))
    dup = d.crossJoin(F.broadcast(reps_df)).select(
        (F.col("doc_id") + F.col("__rep") * F.lit(stride))
        .cast("long")
        .alias("doc_id"),
        *[c for c in d.columns if c != "doc_id"],
    )
    out = tmp_path / "documents.parquet"
    dup.repartition(4).write.mode("overwrite").parquet(str(out))

    dd = load_table(spark, str(tmp_path), "documents")
    assert _collapse_pays(dd), "4x-replicated corpus must trigger collapse"

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{out}/*.parquet')"
    )
    specs = all_specs()
    for name in (
        "l2_jaccard_neardup",
        "l71_shingle_containment",
        "l81_dedup_threshold_sweep",
    ):
        got = sorted(
            tuple(r) for r in specs[name].builder(spark, str(tmp_path)).collect()
        )
        want = sorted(
            tuple(r) for r in con.sql(specs[name].oracle).fetchall()
        )
        # compare with per-cell rounding slop for the float ratio column
        assert len(got) == len(want), f"{name}: {len(got)} vs {len(want)} rows"
        for g, w in zip(got, want):
            for gv, wv in zip(g, w):
                if isinstance(gv, float):
                    assert abs(gv - float(wv)) < 1e-9, (name, g, w)
                else:
                    assert gv == wv, (name, g, w)
    con.close()


def test_cdc_oracle_multibyte_parity():
    """ADVICE r9: the m9 oracle used to chunk CHARACTERS while the
    kernel chunks UTF-8 BYTES — parity held only because fixtures are
    ASCII. The byte-wise oracle must agree with the kernel on text
    containing multi-byte characters (where char- and byte-indexed
    boundaries genuinely diverge)."""
    import hashlib
    import random

    import duckdb
    import pandas as pd

    from mkpipe_extractor_clickhouse_spark.operators.multimodal import (
        cdc_chunker,
    )

    rng = random.Random(17)
    alphabet = "abc déé 漢字 🚀 ñß\n"
    texts = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(200, 800)))
        for _ in range(6)
    ]
    # a shared multi-byte run so cross-doc chunk dedup actually fires
    texts[3] = texts[0][:300] + texts[3]
    docs = pd.DataFrame({"doc_id": range(1, 7), "text": texts})

    # kernel side: chunk the UTF-8 bytes, aggregate like the query
    pdf = pd.DataFrame(
        {"doc_id": docs.doc_id, "blob": [t.encode() for t in texts]}
    )
    out = pd.concat(list(cdc_chunker(iter([pdf]))))
    # the kernel hashes raw bytes; re-key on content for the compare
    g = out.groupby("chunk_md5")["chunk_len"]
    want = {
        "n_chunks": len(out),
        "n_unique_chunks": g.size().shape[0],
        "total_bytes": int(out["chunk_len"].sum()),
        "unique_bytes": int(g.min().sum()),
    }

    con = duckdb.connect()
    con.register("documents", docs)
    spec = all_specs()["m9_cdc_chunk_dedup"]
    got = con.sql(spec.oracle).df().iloc[0]
    for k, v in want.items():
        assert int(got[k]) == v, f"{k}: oracle {got[k]} != kernel {v}"
    # hashlib sanity: the kernel's digests are over BYTES
    one = out.iloc[0]
    blob = texts[one.doc_id - 1].encode()
    chunk = blob[one.chunk_start - 1 : one.chunk_start - 1 + one.chunk_len]
    assert hashlib.md5(chunk).hexdigest() == one.chunk_md5


def test_novelty_decay_shape(spark, sf_dir):
    """l113: ten deciles partition the corpus; the first decile sees
    the freshest content (its novelty beats the tail's mean), and
    every decile's novel count is bounded by its shingle count."""
    rows = sorted(
        _run("l113_novelty_decay", spark, sf_dir).collect(),
        key=lambda r: r.decile,
    )
    assert [r.decile for r in rows] == list(range(10))
    for r in rows:
        assert 0 <= r.novel_shingles <= r.n_shingles
        assert 0 <= r.novelty_ppm <= 1_000_000
    tail = rows[1:]
    tail_mean = sum(r.novelty_ppm for r in tail) / len(tail)
    assert rows[0].novelty_ppm >= tail_mean


def test_cluster_size_histogram_conserves_docs(spark, sf_dir):
    """l114: the histogram partitions the corpus (sum of n_docs equals
    the doc count) and docs_removed is exactly n_docs - n_clusters per
    bucket."""
    from mkpipe_extractor_clickhouse_spark.catalog import load_table

    rows = _run("l114_dedup_cluster_sizes", spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == total
    for r in rows:
        assert r.docs_removed == r.n_docs - r.n_clusters
        assert r.cluster_size >= 1


def test_dedup_mixture_shift_conserves(spark, sf_dir):
    """l115: both arms are normalized mixtures (each sums to ~1e6), so
    the shifts sum to ~0; every source appears in both arms."""
    rows = _run("l115_dedup_mixture_shift", spark, sf_dir).collect()
    assert rows
    full = sum(r.weight_full_ppm for r in rows)
    dedup = sum(r.weight_dedup_ppm for r in rows)
    n = len(rows)
    assert 1_000_000 - n <= full <= 1_000_000
    assert 1_000_000 - n <= dedup <= 1_000_000
    assert abs(sum(r.shift_ppm for r in rows)) <= n
    for r in rows:
        assert r.shift_ppm == r.weight_dedup_ppm - r.weight_full_ppm


def test_ppjoin_bitset_path_equals_general_path(spark, sf_dir):
    """r11 fused bitset verify: on a <=64-token dictionary ppjoin_pairs
    dispatches _ppjoin_bitset_pairs (popcount verify inlined into the
    candidate join). Pin it to the GENERAL candidate+verify machinery on
    the same relation — same pairs, same jaccard to the bit — and pin
    the dispatch itself on both sides of the vocab gate."""
    from pyspark.sql import functions as F

    from mkpipe_extractor_clickhouse_spark.operators.llm_dedup import (
        JACCARD_T,
        _doc_tokens,
        _int_tokens,
        _ppjoin_bitset_pairs,
        _verify_pairs,
        ppjoin_pairs,
    )

    tok = _doc_tokens(spark, sf_dir)
    vocab = tok.select("token").distinct().count()
    assert vocab <= 64, "fixture word vocabulary is the bitset regime"

    toki = _int_tokens(tok)
    fast = sorted(
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in _ppjoin_bitset_pairs(toki, JACCARD_T).collect()
    )
    # general path: all candidate pairs (doc_a < doc_b, length filter
    # only — a superset of the pruned candidate set) through the
    # array-intersect verify, forced past the bitset branch by lying
    # about the vocab
    sizes = toki.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    cand = (
        a.crossJoin(b)
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("na") >= F.ceil(F.lit(JACCARD_T) * F.col("nb")))
            & (F.col("nb") >= F.ceil(F.lit(JACCARD_T) * F.col("na")))
        )
        .select("doc_a", "doc_b")
    )
    slow = sorted(
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in _verify_pairs(
            cand,
            toki.select("doc_id", F.col("tid").alias("token")),
            JACCARD_T,
            "doc_a",
            "doc_b",
            vocab=65,  # force the sorted-array-intersect branch
        ).collect()
    )
    assert fast == slow
    # and the registered entrypoint dispatches the bitset plan here
    plan = ppjoin_pairs(tok, JACCARD_T)._jdf.queryExecution().optimizedPlan().toString()
    assert "bit_count" in plan


def test_ppjoin_maskarray_path_equals_general_path(spark, sf_dir):
    """r11 mid-width fused verify: on a 64 < vocab <= 1024 dictionary
    ppjoin_pairs dispatches _ppjoin_maskarray_pairs (multi-word popcount
    verify inlined into the candidate join — the dedup scale-up's dense
    salted-corpus regime). Build that regime from the fixture by
    unioning three token-salted replicas (replicas are token-disjoint,
    so expected pairs are exactly 3x the base corpus's), and pin the
    fused path to the general array-intersect verify over the
    length-filtered all-pairs superset — same pairs, same jaccard to
    the bit."""
    from pyspark.sql import functions as F

    from mkpipe_extractor_clickhouse_spark.operators.llm_dedup import (
        JACCARD_T,
        _doc_tokens,
        _int_tokens,
        _ppjoin_maskarray_pairs,
        _verify_pairs,
        ppjoin_pairs,
    )

    tok = _doc_tokens(spark, sf_dir)
    stride = tok.agg(F.max("doc_id")).collect()[0][0] + 1
    salted = None
    for r in range(3):
        part = tok.select(
            (F.col("doc_id") + r * stride).alias("doc_id"),
            F.concat(F.lit(f"s{r}_"), F.col("token")).alias("token"),
        )
        salted = part if salted is None else salted.unionAll(part)
    vocab = salted.select("token").distinct().count()
    assert 64 < vocab <= 1024, "three salted replicas are the mask-array regime"

    toki = _int_tokens(salted)
    fast = sorted(
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in _ppjoin_maskarray_pairs(toki, vocab, JACCARD_T).collect()
    )
    base_pairs = ppjoin_pairs(tok, JACCARD_T).count()
    assert len(fast) == 3 * base_pairs  # salting preserves per-replica structure
    sizes = toki.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    cand = (
        a.crossJoin(b)
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("na") >= F.ceil(F.lit(JACCARD_T) * F.col("nb")))
            & (F.col("nb") >= F.ceil(F.lit(JACCARD_T) * F.col("na")))
        )
        .select("doc_a", "doc_b")
    )
    slow = sorted(
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in _verify_pairs(
            cand,
            toki.select("doc_id", F.col("tid").alias("token")),
            JACCARD_T,
            "doc_a",
            "doc_b",
            vocab=2048,  # force the sorted-array-intersect branch
        ).collect()
    )
    assert fast == slow
    # and the registered entrypoint dispatches the mask-array plan here
    plan = (
        ppjoin_pairs(salted, JACCARD_T)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "bit_count" in plan  # vocab > 64, so this is the mask path

def test_cms_topk_portable_invariants(spark, sf_dir):
    """a23b: CMS-ranked heavy hitters — estimates never undercount,
    and the sketch top-k must contain the true top-3 tokens (their
    counts dominate any n/W collision inflation on this fixture)."""
    from pyspark.sql import functions as F

    from mkpipe_extractor_clickhouse_spark.catalog import load_table
    from mkpipe_extractor_clickhouse_spark.operators.llm_text import (
        CMS_TOPK,
        a23b_cms_topk,
    )

    rows = a23b_cms_topk(spark, sf_dir).collect()
    assert len(rows) == CMS_TOPK
    ests = [r.cms_estimate for r in rows]
    assert ests == sorted(ests, reverse=True)
    true_counts = {
        r.t: r.c
        for r in load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    for r in rows:
        assert r.cms_estimate >= true_counts.get(r.t, 0), r
    top3 = sorted(true_counts, key=lambda t: (-true_counts[t], t))[:3]
    got = {r.t for r in rows}
    assert set(top3) <= got


def test_quantile_deterministic_sample(spark, sf_dir):
    """a14b: the hash-determined sample is ~1/16 of lineitem and the
    sampled p50/p90 land within a loose band of the exact a9 values
    (per-group sample sizes are small at test sf, so the band is
    wide — determinism, not tightness, is the contract)."""
    from mkpipe_extractor_clickhouse_spark.catalog import load_table
    from mkpipe_extractor_clickhouse_spark.operators.llm_curation import (
        QDET_MOD,
        a14b_quantile_deterministic,
    )

    rows = a14b_quantile_deterministic(spark, sf_dir).collect()
    n_total = load_table(spark, sf_dir, "lineitem").count()
    n_samp = sum(r.n_sample for r in rows)
    assert 0.4 / QDET_MOD <= n_samp / n_total <= 2.5 / QDET_MOD
    exact = {
        r.l_returnflag: (r.median_qty, r.p90_price)
        for r in _run("a9_percentiles", spark, sf_dir).collect()
    }
    for r in rows:
        assert r.l_returnflag in exact
        # p90 of a ~6% uniform sample: wide but bounded relative error
        assert abs(r.p90_det - exact[r.l_returnflag][1]) < 0.25 * abs(
            exact[r.l_returnflag][1]
        )
