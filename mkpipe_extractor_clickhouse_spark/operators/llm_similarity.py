"""Similarity-search operators over embedding columns
(SURVEY §2.11 L3-L4, L9 + O4): brute-force top-k cosine as the exact
baseline, partition-local top-k merge (the distributed form, public
REPOSE/ICDE'21 pattern per PAPERS.md), label centroids,
nearest-centroid assignment, and an IVF-bucketed ANN scale path.

Vector math is higher-order array built-ins (zip_with / aggregate) —
JVM-side, codegen'd — except the partition-local heap (l4), which is a
mapInPandas with NumPy dot products (Arrow-batched, the sanctioned
slow path for per-partition imperative logic).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from ..registry import register
from ._cache import ephemeral_cache
from ._determinism import DAVG9, DSUM, _Q, _Q9, _quantize, _quantize9, davg9

TOP_K = 10
QUERY_VEC_ID = 0

# DuckDB-side double-precision vector algebra over the 64-dim FLOAT[]
# column (list_cosine_similarity computes in float32 — not precise
# enough to hash-match a double computation, hence explicit SQL).
_ORACLE_COSINE_TO_QUERY = f"""
    WITH v AS (
      SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN range(1, 65) t(i)
    ),
    q AS (SELECT i, x AS qx FROM v WHERE vec_id = {QUERY_VEC_ID}),
    dots AS (
      SELECT v.vec_id,
             SUM(v.x * q.qx) AS dot,
             SQRT(SUM(v.x * v.x)) AS nv,
             SQRT(SUM(q.qx * q.qx)) AS nq
      FROM v JOIN q USING (i)
      GROUP BY v.vec_id
    )
    SELECT vec_id, ROUND(dot / (nv * nq), 6) AS cosine
    FROM dots
    WHERE vec_id <> {QUERY_VEC_ID}
"""


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine_to_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cosine, label) similarity of every vector to the query
    vector (vec_id=QUERY_VEC_ID), broadcast-joined — one scan, no
    shuffle.  (Round-5 measurement note: unrolling the dot/norm into a
    flat 64-term element_at expression with literal query components
    was MEASURED 12× SLOWER at 2.4 M vectors — the ~190-operator
    expression blows past the codegen method-size limits into the
    interpreted path; the higher-order fold stays fused.  The
    vectorized scale path for this kernel is l4's mapInPandas + NumPy
    partition heaps.)"""
    vecs = _vectors(spark, sf_dir)
    q = vecs.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("v").alias("qv")
    )
    return (
        vecs.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            (_dot("v", "qv") / (_norm("v") * _norm("qv"))).alias("cosine"),
        )
    )


@register(
    "l3_topk_cosine",
    oracle=f"""
    SELECT vec_id, cosine FROM ({_ORACLE_COSINE_TO_QUERY})
    ORDER BY cosine DESC, vec_id LIMIT {TOP_K}
    """,
    tags=("L3", "O3"),
    bench=True,
)
def l3_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine to a query vector. When the packed vector
    layout is already built for this corpus (warm — see
    _packed_layout_if_warm), the query runs on the two-phase packed
    kernel (the 1.55-2x-of-DuckDB path, r9); cold, it falls back to
    the JVM brute force over list<float>. Both paths produce the SAME
    rows: scores quantize to 1e-6 half-away-from-zero (= F.round) with
    vec_id tiebreak, so ulp-level float differences never change the
    selected k."""
    import os

    layout = _packed_layout_if_warm(sf_dir)
    if layout is not None:
        query = _fetch_query_vector(
            os.path.join(sf_dir, "embeddings.parquet"), QUERY_VEC_ID
        )
        return packed_topk_cosine(spark, layout, query, TOP_K)
    sim = cosine_to_query(spark, sf_dir).select(
        "vec_id", F.round("cosine", 6).alias("cosine")
    )
    return sim.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(TOP_K)


_TOPK_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("cosine", T.DoubleType()),
    ]
)


def arrow_topk_cosine(
    vecs: DataFrame, query: list[float], k: int = TOP_K,
    exclude_id: int | None = QUERY_VEC_ID,
) -> DataFrame:
    """Partition-local top-k cosine via mapInArrow with ZERO-COPY
    vector access — the scale kernel behind l4 (and l3's bench path).

    Why mapInArrow and not mapInPandas: pandas materializes the
    vector column as one Python list object PER ROW, and ``np.stack``
    re-boxes every element — measured 6.8× slower than DuckDB's
    native cosine at 2.4 M vectors with the matmul itself nearly
    free. Here the Arrow ListArray's flat values buffer maps straight
    into a (n, dim) ndarray view (``flatten().to_numpy()``, no
    per-row objects), so the kernel is one BLAS matvec per batch.

    Ship FLOAT, upcast in NumPy: ``vecs.v`` should stay the storage
    dtype (array<float>) — casting to array<double> JVM-side costs a
    per-element Cast AND doubles the bytes crossing the bridge
    (measured 1.34 → 0.82 s at 2.4 M vectors, interleaved min-of-5);
    float32→float64 upcast is EXACT, so the double-precision math is
    bit-identical either way. The measured floor of this kernel is
    the row→Arrow serialization itself (scan alone 0.16 s, scan+
    bridge 0.72 s, +math 0.91 s at 2.4 M×64 — the bridge dominates);
    eliminating it needs a JVM-native vector kernel Spark doesn't
    have, not a better Python side.

    Exactness contract (same as the mapInPandas predecessor): scores
    quantize to 1e-6 half-away-from-zero BEFORE the local cut, so
    partition-local winners agree with the global (rounded, vec_id)
    order even at ties; each partition ships ≤ k rows into one
    TakeOrderedAndProject. ``vecs`` must be (vec_id long, v
    array<float|double>).
    """
    import numpy as np
    import pyarrow as pa

    spark = vecs.sparkSession
    bq = spark.sparkContext.broadcast([float(x) for x in query])
    excl = exclude_id

    def local_topk(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        q = np.asarray(bq.value)
        qn = np.sqrt(q @ q)
        best_ids = np.empty(0, dtype=np.int64)
        best_sims = np.empty(0, dtype=np.float64)
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            ids = rb.column(0).to_numpy(zero_copy_only=False)
            col = rb.column(1)
            flat = col.flatten()  # offset-aware view of the values buffer
            # Per-row length check, not just the sum: ragged rows whose
            # lengths happen to total n*dim (63+65, …) would otherwise
            # reshape misaligned and score silently wrong. One C++
            # min/max over the lengths — still no per-row Python.
            mm = pa.compute.min_max(pa.compute.list_value_length(col))
            uniform = (
                col.null_count == 0
                and mm["min"].as_py() == len(q)
                and mm["max"].as_py() == len(q)
            )
            if uniform and flat.null_count == 0:
                m = flat.to_numpy(zero_copy_only=True).reshape(n, len(q))
                if m.dtype != np.float64:
                    m = m.astype(np.float64)  # exact float32→float64
            else:  # ragged/null rows: fall back to per-row boxing
                m = np.stack(col.to_pylist()).astype(np.float64)
            if excl is not None:
                keep = ids != excl
                ids, m = ids[keep], m[keep]
                if ids.size == 0:
                    continue
            sims = (m @ q) / (np.sqrt(np.einsum("ij,ij->i", m, m)) * qn)
            # quantize BEFORE pruning, half-away-from-zero like F.round
            # (np.round is half-to-even) so local cuts match the
            # global (rounded, vec_id) order at ties
            sims = np.trunc(sims * 1e6 + np.copysign(0.5, sims)) / 1e6
            best_ids = np.concatenate([best_ids, ids])
            best_sims = np.concatenate([best_sims, sims])
            if best_ids.size > k:
                order = np.lexsort((best_ids, -best_sims))[:k]
                best_ids, best_sims = best_ids[order], best_sims[order]
        if best_ids.size:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(best_ids, type=pa.int64()),
                    pa.array(best_sims, type=pa.float64()),
                ],
                ["vec_id", "cosine"],
            )

    local = vecs.select(
        F.col("vec_id").cast("long").alias("vec_id"), "v"
    ).mapInArrow(local_topk, _TOPK_SCHEMA)
    return local.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(k)


@register(
    "l4_distributed_topk",
    # The partition-heap algorithm is exact (local cuts use the same
    # quantize-then-(score, vec_id) order as the global one), so the
    # brute-force SQL is a true oracle, not just a recall bound;
    # equality with l3 is additionally asserted in tests/test_llm.py.
    oracle=f"""
    SELECT vec_id, cosine FROM ({_ORACLE_COSINE_TO_QUERY})
    ORDER BY cosine DESC, vec_id LIMIT {TOP_K}
    """,
    tags=("L4", "O4", "D3"),
)
def l4_distributed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed top-k: each partition keeps a local k-cut over
    zero-copy Arrow batches (arrow_topk_cosine), then the k×partitions
    survivors take one TakeOrderedAndProject. Shuffle volume is k rows
    per partition regardless of corpus size — the REPOSE-style scale
    shape, with the r5→r6 kernel upgrade from mapInPandas (per-row
    list boxing) to mapInArrow (flat-buffer matvec). The vectors ship
    in their STORAGE dtype (float32) and upcast exactly in NumPy —
    see arrow_topk_cosine. When the packed layout is warm for this
    corpus, the same exact semantics run on the two-phase packed
    kernel instead (see l3/l4c)."""
    import os

    query = _fetch_query_vector(
        os.path.join(sf_dir, "embeddings.parquet"), QUERY_VEC_ID
    )
    layout = _packed_layout_if_warm(sf_dir)
    if layout is not None:
        return packed_topk_cosine(spark, layout, query, TOP_K)
    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").alias("v"),
    )
    return arrow_topk_cosine(e, query, TOP_K)


def _fetch_query_vector(path: str, vec_id: int) -> list[float]:
    """Driver-side POINT LOOKUP of one vector by id: per row group,
    prune on vec_id statistics, read only the 8-byte id column to
    locate the row, then decode the single owning row group's
    embedding column.  The naive ``filters=`` read looks like a point
    lookup but decodes every unpruned row group's embedding column —
    measured 2.6 s of a 3.6 s l4c query at the 48 M-vector point; this
    helper does it in ~0.2 s, and at 100 TB a serving layer hands the
    query vector over directly."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = []
        for root, _dirs, names in os.walk(path):
            files.extend(
                os.path.join(root, f)
                for f in sorted(names)
                if f.endswith(".parquet")
            )
    else:
        files = [path]
    for f in files:
        pf = pq.ParquetFile(f, memory_map=True)
        id_idx = pf.schema_arrow.names.index("vec_id")
        for rg in range(pf.num_row_groups):
            st = pf.metadata.row_group(rg).column(id_idx).statistics
            if (
                st is not None
                and st.has_min_max
                and not (st.min <= vec_id <= st.max)
            ):
                continue
            ids = (
                pf.read_row_group(rg, columns=["vec_id"])
                .column(0)
                .to_numpy(zero_copy_only=False)
            )
            pos = np.flatnonzero(ids == vec_id)
            if pos.size:
                emb = pf.read_row_group(rg, columns=["embedding"]).column(0)
                return [float(x) for x in emb[int(pos[0])].as_py()]
    raise ValueError(f"query vector vec_id={vec_id} not found")


def _embedding_shards(path: str) -> list[tuple[str, int]]:
    """(file, row_group) shard list for a parquet file or directory —
    one metadata read per file (footers only, never row data).

    Walks the directory RECURSIVELY: a partitioned/nested layout (e.g.
    Spark partitionBy output) with some top-level files would otherwise
    silently scan a subset and return a wrong top-k (ADVICE r7).
    ``_`` / ``.``-prefixed entries (_SUCCESS, _committed, hidden) are
    skipped the way Spark's own file index skips them."""
    import os

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = sorted(
            os.path.join(root, f)
            for root, dirs, names in os.walk(path)
            for f in names
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    else:
        files = [path]
    return [
        (f, rg)
        for f in files
        for rg in range(pq.ParquetFile(f).metadata.num_row_groups)
    ]


def shard_scan_topk_cosine(
    spark: SparkSession,
    parquet_path: str,
    query: list[float],
    k: int = TOP_K,
    exclude_id: int | None = QUERY_VEC_ID,
) -> DataFrame:
    """Top-k cosine with the scan INSIDE the Python worker: Spark
    distributes (file, row_group) shards, and each task reads its row
    groups straight through pyarrow — column-pruned at the footer, the
    FixedSizeList/List values buffer mapped zero-copy into a (n, dim)
    NumPy view.  No vector ever crosses the JVM.

    Why this exists: the r6 decomposition measured the JVM row→Arrow
    bridge at 0.72 s of the 0.91 s kernel wall at 2.4 M×64 (scan 0.16,
    math 0.19) — the serialization IS the floor for any
    mapInArrow/mapInPandas formulation, because Spark's vectorized
    parquet reader still feeds an InternalRow pipeline that the Arrow
    writer re-columnarizes per batch.  Reading the column through
    pyarrow in the task skips that entirely (the same direct-shard
    pattern Petastorm/Ray datasets use over parquet).  It is still
    Spark-scheduled — locality, retries, and the k-per-shard merge are
    the engine's; only the innermost scan is delegated, exactly like a
    DataSource the JVM doesn't have.  Trade-off vs arrow_topk_cosine:
    no Catalyst pushdown INTO upstream operators (this is a leaf scan,
    composable only by path), so the registry keeps both — the
    DataFrame kernel for composition, this for the bench-critical
    leaf-scan shape.

    Determinism contract identical to arrow_topk_cosine: quantize to
    1e-6 half-away-from-zero BEFORE every cut, (score desc, vec_id)
    order, ≤k rows per shard into one TakeOrderedAndProject."""
    import numpy as np
    import pyarrow as pa

    shards = _embedding_shards(parquet_path)
    if not shards:
        raise ValueError(f"no parquet shards under {parquet_path}")
    par = spark.sparkContext.defaultParallelism
    bq = spark.sparkContext.broadcast([float(x) for x in query])
    excl = exclude_id

    def scan_topk(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        q = np.asarray(bq.value)
        qn = np.sqrt(q @ q)
        dim = len(q)
        best_ids = np.empty(0, dtype=np.int64)
        best_sims = np.empty(0, dtype=np.float64)
        pf_cache: dict[str, pq.ParquetFile] = {}
        for rb in batches:
            paths = rb.column(0).to_pylist()
            rgs = rb.column(1).to_pylist()
            for path, rg in zip(paths, rgs):
                pf = pf_cache.get(path)
                if pf is None:
                    # memory_map: with the uncompressed plain layout the
                    # row-group read is a zero-copy view of page cache
                    pf = pf_cache[path] = pq.ParquetFile(
                        path, memory_map=True
                    )
                t = pf.read_row_group(rg, columns=["vec_id", "embedding"])
                n = t.num_rows
                if n == 0:
                    continue
                ids = t.column(0).to_numpy(zero_copy_only=False).astype(
                    np.int64, copy=False
                )
                col = t.column(1).combine_chunks()
                flat = col.flatten()
                mm = pa.compute.min_max(pa.compute.list_value_length(col))
                uniform = (
                    col.null_count == 0
                    and mm["min"].as_py() == dim
                    and mm["max"].as_py() == dim
                )
                if uniform and flat.null_count == 0:
                    m = flat.to_numpy(zero_copy_only=True).reshape(n, dim)
                    if m.dtype != np.float64:
                        m = m.astype(np.float64)  # exact float32→float64
                else:
                    m = np.stack(col.to_pylist()).astype(np.float64)
                if excl is not None:
                    keep = ids != excl
                    ids, m = ids[keep], m[keep]
                    if ids.size == 0:
                        continue
                sims = (m @ q) / (np.sqrt(np.einsum("ij,ij->i", m, m)) * qn)
                sims = np.trunc(sims * 1e6 + np.copysign(0.5, sims)) / 1e6
                best_ids = np.concatenate([best_ids, ids])
                best_sims = np.concatenate([best_sims, sims])
                if best_ids.size > k:
                    order = np.lexsort((best_ids, -best_sims))[:k]
                    best_ids, best_sims = best_ids[order], best_sims[order]
        if best_ids.size:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(best_ids, type=pa.int64()),
                    pa.array(best_sims, type=pa.float64()),
                ],
                ["vec_id", "cosine"],
            )

    # parallelize() slices the shard list directly — one task per
    # shard with NO repartition exchange (a whole extra stage + python
    # worker round-trip measured ~0.5 s of fixed latency at any scale).
    rdd = spark.sparkContext.parallelize(shards, min(len(shards), par))
    tasks = spark.createDataFrame(rdd, "path string, rg int")
    local = tasks.mapInArrow(scan_topk, _TOPK_SCHEMA)
    return local.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(k)


@register(
    "l4b_shard_scan_topk",
    oracle=f"""
    SELECT vec_id, cosine FROM ({_ORACLE_COSINE_TO_QUERY})
    ORDER BY cosine DESC, vec_id LIMIT {TOP_K}
    """,
    tags=("L4", "O4", "D3", "EXT"),
)
def l4b_shard_scan_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l4's exact semantics on the row-group-sharded pyarrow scan path
    (shard_scan_topk_cosine) — same oracle, same quantize-then-cut
    determinism, zero JVM bridge.  The query vector loads driver-side
    through one statistics-pruned pyarrow read (a point lookup over
    footers, never a data scan)."""
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "embeddings.parquet")
    query = _fetch_query_vector(path, QUERY_VEC_ID)
    return shard_scan_topk_cosine(spark, path, query, TOP_K)


# ---------------------------------------------------------------------------
# Packed vector layout + two-phase exact kernel (l4c) — the r9 closure
# of the vector-kernel gap.
#
# The r6 decomposition pinned the mapInArrow kernel's floor on the JVM
# row→Arrow bridge; r7's bridge-free shard scan (l4b) was REFUTED
# because pyarrow's list<float> page decode (dictionary-encoded,
# per-element assembly) costs more than the bridge it avoids.  Both
# floors are artifacts of the STORAGE layout, not of Spark: a one-time
# packed layout — each vector as one plain-encoded 256-byte binary
# value plus its exact float64 norm — turns the page decode into a
# memcpy (no per-element assembly, no dictionary) and the in-task read
# into a zero-copy (n, dim) float32 view.  This is the "build a vector
# index once, scan it at memory bandwidth per query" posture every
# production ANN system (Faiss/Milvus/Vespa) takes; at 100 TB nobody
# brute-forces list<float> parquet per query.
#
# The scoring is two-phase and EXACT:
#   screen  - one float32 GEMM per row group (measured 20x cheaper than
#             the float64 astype+GEMM path: 0.02 s vs 0.40 s per 2.4 M
#             vectors single-threaded) selects candidates within
#             _SCREEN_MARGIN of the row group's k-th best;
#   refine  - candidates are re-scored in float64 with BIT-IDENTICAL
#             formula and operation order to arrow_topk_cosine
#             ((m @ q) / (norm * qn), norms precomputed at pack time by
#             the same einsum), then quantized and cut exactly like the
#             l4 kernel.
# Screen soundness: storage float32 values are exact inputs, so the
# float32 dot's forward error is bounded by gamma_64 * sum|x_i y_i|
# <= 64*2^-24/(1-64*2^-24) * |v||q| ~= 3.9e-6 * |v||q| (Cauchy-Schwarz
# on the absolute vectors); normalized, |cos32 - cos64| <= ~4e-6.  Any
# row of the true local top-k under (quantize-1e-6 score, vec_id) has
# raw score >= kth_raw - 1e-6, hence screen score >= kth_screen -
# (2*4e-6 + 1e-6); _SCREEN_MARGIN = 1e-4 is ~10x that bound.  Every
# candidate is refined in exact float64 before any cut, so ties (e.g.
# the replicated-fixture duplicates) resolve on true (score, vec_id)
# order — no approximation survives to the output.
# ---------------------------------------------------------------------------

_SCREEN_MARGIN = 1e-4
_PACKED_SUBDIR = "embeddings_packed.parquet"


def build_packed_vector_layout(
    spark: SparkSession, sf_dir: str, out_dir: str, dim: int = 64
) -> str:
    """One-time packed layout build: (vec_id long, vec binary, norm
    double) with parquet dictionary encoding OFF.  ``vec`` is the
    vector's float32 values as one little-endian byte string (dim*4
    bytes); ``norm`` is its exact float64 L2 norm computed at pack
    time (same einsum the query kernel uses, so refine bits match).
    Ragged or null vectors are REJECTED here — the layout carries a
    uniform-dim guarantee so the scan path never needs a fallback.
    Idempotent via a _DONE marker; returns the layout directory."""
    import os

    out = os.path.join(out_dir, _PACKED_SUBDIR)
    done = os.path.join(out_dir, "_PACKED_DONE")
    if os.path.exists(done):
        return out

    import numpy as np
    import pyarrow as pa

    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").alias("v"),
    )

    pack_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("vec", T.BinaryType()),
            T.StructField("norm", T.DoubleType()),
        ]
    )

    def pack(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # DRAIN the input before yielding anything: pack's output is as
        # large as its input, and yielding while the JVM writer thread
        # is still streaming input batches was observed (r9, 9.6 M-row
        # point) to deadlock the bidirectional socket pump — the python
        # worker blocks in tcp_sendmsg on its output while the reader
        # side stalls.  Buffering one partition (bounded by
        # maxPartitionBytes) serializes the two directions; the cost is
        # memory the one-time pack job can afford.
        for rb in list(batches):
            n = rb.num_rows
            if n == 0:
                continue
            ids = rb.column(0)
            col = rb.column(1)
            mm = pa.compute.min_max(pa.compute.list_value_length(col))
            if (
                col.null_count
                or mm["min"].as_py() != dim
                or mm["max"].as_py() != dim
            ):
                raise ValueError(
                    "packed layout requires null-free uniform "
                    f"{dim}-dim vectors; got lengths "
                    f"[{mm['min']}, {mm['max']}], "
                    f"nulls={col.null_count}"
                )
            flat = col.flatten()
            if flat.null_count:
                raise ValueError("null elements inside vectors")
            m = flat.to_numpy(zero_copy_only=False).reshape(n, dim)
            m32 = np.ascontiguousarray(m, dtype=np.float32)
            m64 = m32.astype(np.float64)  # exact
            norms = np.sqrt(np.einsum("ij,ij->i", m64, m64))
            offsets = pa.py_buffer(
                (np.arange(n + 1, dtype=np.int32) * (dim * 4)).tobytes()
            )
            vec_arr = pa.Array.from_buffers(
                pa.binary(), n, [None, offsets, pa.py_buffer(m32.tobytes())]
            )
            yield pa.RecordBatch.from_arrays(
                [ids, vec_arr, pa.array(norms, type=pa.float64())],
                ["vec_id", "vec", "norm"],
            )

    (
        e.mapInArrow(pack, pack_schema)
        .repartition(32)
        .write.mode("overwrite")
        .option("parquet.enable.dictionary", "false")
        # random floats are incompressible: snappy saved <1% here but
        # cost a full decompress pass per query (measured: the 48 M
        # point spent its wall in the read path). Uncompressed +
        # plain-encoded means a query scan is a page-cache memcpy.
        .option("compression", "uncompressed")
        .parquet(out)
    )
    with open(done, "w") as fh:
        fh.write("")
    return out


def packed_topk_cosine(
    spark: SparkSession,
    layout_path: str,
    query: list[float],
    k: int = TOP_K,
    exclude_id: int | None = QUERY_VEC_ID,
    dim: int = 64,
) -> DataFrame:
    """Exact top-k cosine over a packed vector layout: Spark schedules
    (file, row_group) shards; each task memory-maps the binary column
    into a zero-copy (n, dim) float32 view, screens with one float32
    GEMM, refines candidates in float64 (bit-identical formula to
    arrow_topk_cosine), quantizes, and ships <= k rows into one
    TakeOrderedAndProject.  See the module comment above for the
    screen-soundness bound."""
    import numpy as np
    import pyarrow as pa

    shards = _embedding_shards(layout_path)
    if not shards:
        raise ValueError(f"no parquet shards under {layout_path}")
    par = spark.sparkContext.defaultParallelism
    bq = spark.sparkContext.broadcast([float(x) for x in query])
    excl = exclude_id

    def scan_topk(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        q64 = np.asarray(bq.value, dtype=np.float64)
        qn = np.sqrt(q64 @ q64)
        q32 = q64.astype(np.float32)
        best_ids = np.empty(0, dtype=np.int64)
        best_sims = np.empty(0, dtype=np.float64)
        pf_cache: dict[str, pq.ParquetFile] = {}
        for rb in batches:
            for path, rg in zip(
                rb.column(0).to_pylist(), rb.column(1).to_pylist()
            ):
                pf = pf_cache.get(path)
                if pf is None:
                    # memory_map: with the uncompressed plain layout the
                    # row-group read is a zero-copy view of page cache
                    pf = pf_cache[path] = pq.ParquetFile(
                        path, memory_map=True
                    )
                t = pf.read_row_group(rg, columns=["vec_id", "vec", "norm"])
                ids = t.column(0).to_numpy(zero_copy_only=False)
                col = t.column(1).combine_chunks()
                norms = t.column(2).to_numpy(zero_copy_only=False)
                n = len(col)
                if n == 0:
                    continue
                bufs = col.buffers()
                offs = np.frombuffer(
                    bufs[1], dtype=np.int32, count=n + 1, offset=col.offset * 4
                )
                if col.null_count or not (np.diff(offs) == dim * 4).all():
                    raise ValueError(
                        f"corrupt packed layout in {path} rg {rg}: "
                        "non-uniform vec byte lengths"
                    )
                m32 = np.frombuffer(bufs[2], dtype=np.float32)[
                    offs[0] // 4 : offs[0] // 4 + n * dim
                ].reshape(n, dim)
                if excl is not None:
                    keep = ids != excl
                    if not keep.all():
                        ids, norms = ids[keep], norms[keep]
                        m32 = m32[keep]
                    if ids.size == 0:
                        continue
                # phase 1: float32 screen
                s32 = (m32 @ q32).astype(np.float64) / (norms * qn)
                if s32.size > k:
                    kth = np.partition(s32, s32.size - k)[s32.size - k]
                    cand = s32 >= kth - _SCREEN_MARGIN
                else:
                    cand = np.ones(s32.size, dtype=bool)
                cids = ids[cand]
                m64 = m32[cand].astype(np.float64)  # exact upcast
                # phase 2: exact float64 refine — same op order as
                # arrow_topk_cosine (norms are the pack-time einsum)
                sims = (m64 @ q64) / (norms[cand] * qn)
                sims = np.trunc(sims * 1e6 + np.copysign(0.5, sims)) / 1e6
                best_ids = np.concatenate([best_ids, cids])
                best_sims = np.concatenate([best_sims, sims])
                if best_ids.size > k:
                    order = np.lexsort((best_ids, -best_sims))[:k]
                    best_ids, best_sims = best_ids[order], best_sims[order]
        if best_ids.size:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(best_ids, type=pa.int64()),
                    pa.array(best_sims, type=pa.float64()),
                ],
                ["vec_id", "cosine"],
            )

    rdd = spark.sparkContext.parallelize(shards, min(len(shards), par))
    tasks = spark.createDataFrame(rdd, "path string, rg int")
    local = tasks.mapInArrow(scan_topk, _TOPK_SCHEMA)
    return local.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(k)


def _packed_cache_dir(sf_dir: str) -> str:
    """Cache directory for an sf_dir's packed layout, keyed by the
    source files' (path, size, mtime) fingerprint — testdata is
    read-only, so the key changes only on fixture regeneration."""
    import hashlib
    import os
    import tempfile

    src = os.path.join(sf_dir, "embeddings.parquet")
    parts = [os.path.abspath(src)]
    if os.path.isdir(src):
        for root, _dirs, names in os.walk(src):
            for f in sorted(names):
                if f.endswith(".parquet"):
                    st = os.stat(os.path.join(root, f))
                    parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    else:
        st = os.stat(src)
        parts.append(f"{st.st_size}:{st.st_mtime_ns}")
    parts.append("layout-v2")  # uncompressed+mmap format (r9 wave 3)
    fp = hashlib.sha1("|".join(parts).encode()).hexdigest()[:16]
    cache = os.path.join(
        tempfile.gettempdir(), "spark_graft_packed_layouts", fp
    )
    os.makedirs(cache, exist_ok=True)
    return cache


def _packed_layout_for(spark: SparkSession, sf_dir: str) -> str:
    """Build-or-reuse the packed layout for an sf_dir (see
    _packed_cache_dir for the fingerprint key)."""
    return build_packed_vector_layout(spark, sf_dir, _packed_cache_dir(sf_dir))


_PACKED_MIN_BYTES = 8 << 20  # ~100k 64-dim vectors


def _packed_layout_if_warm(sf_dir: str) -> str | None:
    """Return the packed layout path when it is ALREADY BUILT for the
    current fixture fingerprint AND the corpus is big enough for the
    shard-scan kernel to win, else None — the warm/cold dispatch the
    registered l3/l4 use (VERDICT r9): a warm pack serves queries at
    memory bandwidth; a cold call must not pay the one-time pack build
    inside an interactive query, so it falls back to the list<float>
    brute-force kernel. The size gate exists because the packed kernel
    carries a fixed floor (shard task scheduling + Python worker
    spin-up, ~0.5 s) that dwarfs the whole brute-force wall on a small
    corpus — measured 0.50 vs 0.15 s on the 4 k-vector sf0.1 fixture,
    while at ≥0.8 M vectors the two kernels cross and the pack wins
    outright (SCALEUP llm points). The probe is one os.stat sum over
    the source files — no Spark action."""
    import os

    cache = _packed_cache_dir(sf_dir)
    if not os.path.exists(os.path.join(cache, "_PACKED_DONE")):
        return None
    src = os.path.join(sf_dir, "embeddings.parquet")
    total = 0
    if os.path.isdir(src):
        for root, _dirs, names in os.walk(src):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in names
                if f.endswith(".parquet")
            )
    elif os.path.exists(src):
        total = os.path.getsize(src)
    if total < _PACKED_MIN_BYTES:
        return None
    return os.path.join(cache, _PACKED_SUBDIR)


@register(
    "l4c_packed_topk",
    oracle=f"""
    SELECT vec_id, cosine FROM ({_ORACLE_COSINE_TO_QUERY})
    ORDER BY cosine DESC, vec_id LIMIT {TOP_K}
    """,
    tags=("L4", "O4", "D3", "EXT"),
)
def l4c_packed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l4's exact semantics on the packed-layout two-phase kernel:
    one-time (cached) pack of embeddings into plain-encoded binary +
    precomputed float64 norms, then float32-screen / float64-refine
    per row group.  Same oracle, same quantize-then-cut determinism;
    measured r9: the screen is ~20x cheaper than the all-float64 GEMM
    and the packed read is a memcpy, removing both previously measured
    floors (JVM Arrow bridge, pyarrow list<float> decode)."""
    import pyarrow.parquet as pq
    import os

    layout = _packed_layout_for(spark, sf_dir)
    path = os.path.join(sf_dir, "embeddings.parquet")
    query = _fetch_query_vector(path, QUERY_VEC_ID)
    return packed_topk_cosine(spark, layout, query, TOP_K)


@register(
    "l9_label_centroids",
    oracle=f"""
    SELECT label, i AS dim,
           {DAVG9.format(x="CAST(embedding[i] AS DOUBLE)")} AS centroid
    FROM embeddings CROSS JOIN range(1, 65) t(i)
    GROUP BY label, i
    """,
    tags=("L9",),
)
def l9_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids: posexplode the vectors, mean per (label,
    dim) at 1e-9 quantization (operators/_determinism.py davg9 — the
    decimal-cast sum this used in r1-r3 drifted 2e-14 between engines
    because Spark and DuckDB round double→decimal differently; the
    quantized-long sum is bit-identical under driver_sim --strict).
    640 output rows regardless of corpus size."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("pos", "x"))
    return ex.groupBy(
        "label", (F.col("pos") + 1).cast("long").alias("dim")
    ).agg(davg9(F.col("x").cast("double")).alias("centroid"))


@register(
    "l9b_nearest_centroid",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN range(1, 65) t(i)
    ),
    cent AS (
      SELECT label AS c_label, i,
             CAST(CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS DOUBLE) AS c
      FROM v GROUP BY label, i
    ),
    dists AS (
      SELECT v.vec_id, v.label, cent.c_label,
             {DSUM.format(x='(v.x - cent.c) * (v.x - cent.c)')} AS d2
      FROM v JOIN cent USING (i)
      GROUP BY v.vec_id, v.label, cent.c_label
    )
    SELECT vec_id, label, c_label AS assigned, d2 AS min_d2
    FROM dists
    QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c_label) = 1
    """,
    tags=("L9",),
)
def l9b_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment (one k-means step): centroids are a
    640-row broadcast; each vector computes 10 squared distances with
    zip_with — no shuffle of the corpus. Deterministic tie-break on
    centroid label."""
    e = _vectors(spark, sf_dir)
    cent = (
        e.select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            (F.sum(F.col("x").cast("decimal(28,12)")).cast("double") / F.count("*"))
            .cast("double")
            .alias("c")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            F.col("label").alias("c_label"),
            F.transform("pc", lambda s: s["c"]).alias("cv"),
        )
    )
    # Per-dimension squared distances quantized to scaled longs BEFORE
    # the fold (dsum discipline): the sum is exact in longs, so the
    # result cannot straddle a 1e-6 rounding boundary differently from
    # the oracle's accumulation order.
    d2 = (
        F.aggregate(
            F.zip_with(
                "v",
                "cv",
                lambda x, c: ((x - c) * (x - c) * 1_000_000 + F.lit(0.5)).cast(
                    "long"
                ),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        / 1_000_000.0
    ).cast("double")
    scored = e.join(F.broadcast(cent)).select(
        "vec_id", "label", "c_label", d2.alias("d2")
    )
    return scored.groupBy("vec_id", "label").agg(
        F.min_by("c_label", F.struct("d2", "c_label")).alias("assigned"),
        F.min("d2").alias("min_d2"),
    )


@register(
    "l14_ivf_topk",
    # ORACLE-CHECKED as of round 4 (was rows-only): the label-centroid
    # IVF is NOT iterative — centroids, probe selection, in-list scan,
    # top-k, and the recall column are all plain relational algebra.
    # Determinism hinges on three alignments with the oracle: quantized
    # (1e-9) centroid means (decimal-cast means drift ~1e-14 between
    # engines), probe ordering on the ROUNDED centroid similarity, and
    # rounded output cosines with vec_id tiebreaks (the l3 discipline).
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN range(1, 65) t(i)
    ),
    q AS (SELECT i, x AS qx FROM v WHERE vec_id = {QUERY_VEC_ID}),
    cent AS (
      SELECT label, i, {DAVG9.format(x="x")} AS c
      FROM v GROUP BY label, i
    ),
    csim AS (
      SELECT c.label,
             ROUND(SUM(c.c * q.qx)
                   / (SQRT(SUM(c.c * c.c)) * SQRT(SUM(q.qx * q.qx))),
                   6) AS c_sim
      FROM cent c JOIN q USING (i) GROUP BY c.label
    ),
    probe AS (SELECT label FROM csim ORDER BY c_sim DESC, label LIMIT 5),
    scored AS (
      SELECT v.vec_id, MAX(v.label) AS label,
             ROUND(SUM(v.x * q.qx)
                   / (SQRT(SUM(v.x * v.x)) * SQRT(SUM(q.qx * q.qx))),
                   6) AS cosine
      FROM v JOIN q USING (i)
      WHERE v.vec_id <> {QUERY_VEC_ID}
      GROUP BY v.vec_id
    ),
    approx AS (
      SELECT vec_id, cosine FROM scored
      WHERE label IN (SELECT label FROM probe)
      ORDER BY cosine DESC, vec_id LIMIT {TOP_K}
    ),
    exact AS (
      SELECT vec_id FROM scored
      ORDER BY cosine DESC, vec_id LIMIT {TOP_K}
    ),
    rec AS (
      SELECT CAST(COUNT(*) * 1000000 / {TOP_K} AS BIGINT)
               AS recall_ppm_at_k
      FROM approx a JOIN exact e USING (vec_id)
    )
    SELECT a.vec_id, a.cosine, r.recall_ppm_at_k FROM approx a, rec r
    """,
    tags=("L3", "L4", "EXT"),
)
def l14_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus to the label centroids
    (the inverted lists), probe only the nprobe=5 lists nearest the
    query, brute-force inside them. At 100 TB the corpus is
    partitioned by list id, so a probe touches nprobe/nlists-ths of the data —
    swap label centroids for k-means centroids without changing the
    plan."""
    nprobe = 5
    vecs = _vectors(spark, sf_dir)
    cent = (
        vecs.select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", "pos")
        # engine-identical 1e-9-quantized mean (davg9): probe selection
        # must not depend on partitioning/merge order OR on the engine
        # (decimal-cast means drift ~1e-14 across engines)
        .agg(davg9(F.col("x").cast("double")).alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            F.col("label").alias("c_label"),
            F.transform("pc", lambda s: s["c"]).alias("cv"),
        )
    )
    q = vecs.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("v").alias("qv"))
    probe_lists = (
        cent.join(F.broadcast(q))
        .select(
            "c_label",
            F.round(
                _dot("cv", "qv") / (_norm("cv") * _norm("qv")), 6
            ).alias("c_sim"),
        )
        .orderBy(F.col("c_sim").desc(), F.col("c_label"))
        .limit(nprobe)
        .select("c_label")
    )
    candidates = vecs.join(
        F.broadcast(probe_lists), vecs.label == F.col("c_label")
    ).filter(F.col("vec_id") != QUERY_VEC_ID)
    sim = candidates.join(F.broadcast(q)).select(
        "vec_id",
        F.round(_dot("v", "qv") / (_norm("v") * _norm("qv")), 6).alias("cosine"),
    )
    res = sim.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(TOP_K)
    return _with_recall(
        res, vecs.filter(F.col("vec_id") != QUERY_VEC_ID), q, TOP_K
    )


def _with_recall(
    res: DataFrame, corpus: DataFrame, q: DataFrame, k: int
) -> DataFrame:
    """Append ``recall_ppm_at_k`` to an ANN top-k result: the fraction
    of the EXACT top-k the approximate result recovered, in ppm (a
    BIGINT, so the driver's rows-only check pins quality without any
    float-canonicalization hazard — VERDICT r3 ask #5).

    The exact arm is one brute-force cosine scan (the l3 shape) per
    query — the same O(corpus·k) work any recall evaluation costs.  In
    production this column is an OFFLINE evaluation surface: compute it
    for a sampled query panel, not per serving query; dropping the
    column removes the scan without touching the ANN plan."""
    exact = (
        corpus.join(F.broadcast(q))
        .select(
            "vec_id",
            F.round(_dot("v", "qv") / (_norm("v") * _norm("qv")), 6).alias(
                "cosine"
            ),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )
    rec = (
        res.agg(F.collect_set("vec_id").alias("a"))
        .join(exact.agg(F.collect_set("vec_id").alias("e")))
        .select(
            (F.size(F.array_intersect("a", "e")) * F.lit(1_000_000) / F.lit(k))
            .cast("long")
            .alias("recall_ppm_at_k")
        )
    )
    return res.join(F.broadcast(rec))


def _vector_matrix_fn(dim: int):
    """Batch decoder shared by the Lloyd kernels: a list<double> Arrow
    column of n vectors → an (n, dim) float64 matrix.  Fails loudly on
    malformed input instead of mis-assigning it: null vectors, vectors
    whose length is not dim (checked per row, so ragged rows that
    happen to total n·dim cannot reshape misaligned) and non-finite
    components (NaN/inf, or a null element, which decodes as NaN) raise
    ValueError.  A factory so the returned function pickles by value
    into the kernels' closures."""

    def to_matrix(lv):
        import numpy as np
        import pyarrow.compute as pc

        n = len(lv)
        mm = pc.min_max(pc.list_value_length(lv))
        lens = {mm["min"].as_py(), mm["max"].as_py()}
        if lv.null_count or lens != {dim}:
            raise ValueError(
                f"ragged or null vectors: every vector must have dim {dim}"
            )
        flat = lv.flatten().to_numpy(zero_copy_only=False)
        assert len(flat) == n * dim
        X = flat.reshape(n, dim)
        if not np.isfinite(X).all():
            raise ValueError(
                "non-finite vector component (NaN, inf or null element)"
            )
        return X

    return to_matrix


def _lloyd_update_fn(cent_blocks, dim: int, dsub: int):
    """mapInArrow kernel factory: one Lloyd assignment + partial-update
    pass over (v: array<double>) batches.  ``cent_blocks`` is a list
    over PQ blocks of (cids, C) — for plain k-means a single block with
    dsub == dim.  Emits per-partition partials (block, cid, pos, qsum,
    cnt) where qsum is the exact int64 sum of quantize9(x) over the
    rows assigned to (block, cid) — the davg9 numerator, exactly.

    Bit-exactness contract (the l20/l21/l21b oracles track codebooks
    bit-for-bit): d2 is folded over positions IN ORDER (acc + (x-c)²,
    one IEEE add/sub/mul chain — identical to the JVM
    aggregate(zip_with(...)) left fold this kernel replaced), argmin
    takes the FIRST minimum (centroids ordered by ascending cid ⇒ ties
    to the lower cid, min_by(struct(d2, cid)) semantics), and the
    quantization is trunc(x·1e9 ± 0.5) toward zero (int64 cast), the
    _quantize9 algebra.  int64 partial sums are order-independent, so
    the update is deterministic under any partitioning."""
    to_matrix = _vector_matrix_fn(dim)

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        CB = [
            (list(cids), np.asarray(C, dtype=np.float64))
            for cids, C in cent_blocks
        ]
        sums = [np.zeros((len(c), dsub), dtype=np.int64) for c, _ in CB]
        cnts = [np.zeros(len(c), dtype=np.int64) for c, _ in CB]
        seen = False
        for batch in batches:
            lv = batch.column(0)
            n = len(lv)
            if n == 0:
                continue
            seen = True
            X = to_matrix(lv)
            y = X * 1e9
            Q = (y + np.where(y >= 0, 0.5, -0.5)).astype(np.int64)
            for b, (cids, C) in enumerate(CB):
                Xb = X[:, b * dsub : (b + 1) * dsub]
                k = C.shape[0]
                D = np.empty((n, k), dtype=np.float64)
                for ci in range(k):
                    acc = np.zeros(n, dtype=np.float64)
                    crow = C[ci]
                    for j in range(dsub):  # in-order fold = JVM aggregate()
                        d = Xb[:, j] - crow[j]
                        acc = acc + d * d
                    D[:, ci] = acc
                lab = np.argmin(D, axis=1)  # first min = lowest cid
                Qb = Q[:, b * dsub : (b + 1) * dsub]
                for ci in range(k):
                    m = lab == ci
                    c = int(m.sum())
                    if c:
                        sums[b][ci] += Qb[m].sum(axis=0, dtype=np.int64)
                        cnts[b][ci] += c
        if not seen:
            return
        ob, oc, op, oq, on = [], [], [], [], []
        for b, (cids, _) in enumerate(CB):
            for ci, cid in enumerate(cids):
                if cnts[b][ci]:
                    for pos in range(dsub):
                        ob.append(b)
                        oc.append(cid)
                        op.append(pos)
                        oq.append(int(sums[b][ci][pos]))
                        on.append(int(cnts[b][ci]))
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ob, type=pa.int32()),
                pa.array(oc, type=pa.int32()),
                pa.array(op, type=pa.int32()),
                pa.array(oq, type=pa.int64()),
                pa.array(on, type=pa.int64()),
            ],
            ["block", "cid", "pos", "qsum", "cnt"],
        )

    return fn


def _lloyd_assign_fn(cent_blocks, dim: int, dsub: int):
    """mapInArrow kernel factory: assignment-only pass over
    (vec_id, v) batches → (vec_id, block, code) rows.  Same d2 fold
    order and first-min tie-break as _lloyd_update_fn, so the emitted
    codes are bit-identical to the JVM min_by assignment."""
    to_matrix = _vector_matrix_fn(dim)

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        CB = [
            (np.asarray(cids, dtype=np.int32), np.asarray(C, dtype=np.float64))
            for cids, C in cent_blocks
        ]
        for batch in batches:
            ids = batch.column(0)
            lv = batch.column(1)
            n = len(lv)
            if n == 0:
                continue
            X = to_matrix(lv)
            out_b, out_code = [], []
            for b, (cids, C) in enumerate(CB):
                Xb = X[:, b * dsub : (b + 1) * dsub]
                k = C.shape[0]
                D = np.empty((n, k), dtype=np.float64)
                for ci in range(k):
                    acc = np.zeros(n, dtype=np.float64)
                    crow = C[ci]
                    for j in range(dsub):
                        d = Xb[:, j] - crow[j]
                        acc = acc + d * d
                    D[:, ci] = acc
                lab = np.argmin(D, axis=1)
                out_b.append(np.full(n, b, dtype=np.int32))
                out_code.append(cids[lab])
            id_arr = ids if len(CB) == 1 else pa.concat_arrays([ids] * len(CB))
            yield pa.RecordBatch.from_arrays(
                [
                    id_arr,
                    pa.array(np.concatenate(out_b), type=pa.int32()),
                    pa.array(np.concatenate(out_code), type=pa.int32()),
                ],
                ["vec_id", "block", "code"],
            )

    return fn


def _lloyd_assign_residual_fn(cent_blocks, dim: int):
    """mapInArrow kernel factory for the IVFADC index build: one pass
    over (vec_id, v) batches → (vec_id, cid, rv) where cid is the
    nearest coarse centroid (same fold order / tie-break as
    _lloyd_update_fn) and rv = v − c(v), the elementwise IEEE subtract
    the JVM zip_with(v, cv, x − c) performed — bit-identical residuals
    without the broadcast-join + argmin-groupBy + residual-join chain."""
    to_matrix = _vector_matrix_fn(dim)

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        cids, C = cent_blocks[0]
        cids = np.asarray(cids, dtype=np.int32)
        C = np.asarray(C, dtype=np.float64)
        k = C.shape[0]
        for batch in batches:
            ids = batch.column(0)
            lv = batch.column(1)
            n = len(lv)
            if n == 0:
                continue
            X = to_matrix(lv)
            D = np.empty((n, k), dtype=np.float64)
            for ci in range(k):
                acc = np.zeros(n, dtype=np.float64)
                crow = C[ci]
                for j in range(dim):
                    d = X[:, j] - crow[j]
                    acc = acc + d * d
                D[:, ci] = acc
            lab = np.argmin(D, axis=1)
            R = X - C[lab]  # elementwise IEEE, == zip_with(v, cv, x - c)
            offsets = pa.array(
                np.arange(0, (n + 1) * dim, dim, dtype=np.int32)
            )
            rv = pa.ListArray.from_arrays(
                offsets, pa.array(R.reshape(-1), type=pa.float64())
            )
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(cids[lab], type=pa.int32()), rv],
                ["vec_id", "cid", "rv"],
            )

    return fn


def _lloyd_reduce(partial_rows, cent_blocks):
    """Reduce per-partition partials to the next codebook with the
    exact davg9 finish: mean = double(Σ quantize9(x)) / (double(count)
    · 1e9) — the same two IEEE ops Spark's
    sum(long).cast(double) / (count · lit(1e9)) performs.  Clusters
    with zero assigned rows drop out, as the grouped-mean update did.

    The count rides on the pos-0 row of each partial group (the kernel
    emits every position of a group it emits at all), so a group
    without one is a malformed partial and raises RuntimeError rather
    than silently dropping its cluster."""
    acc: dict[tuple[int, int], list] = {}
    for r in partial_rows:
        key = (r["block"], r["cid"])
        if key not in acc:
            acc[key] = [{}, 0]
        acc[key][0][r["pos"]] = acc[key][0].get(r["pos"], 0) + r["qsum"]
        if r["pos"] == 0:
            acc[key][1] += r["cnt"]
    missing = sorted(key for key, (qs, _) in acc.items() if 0 not in qs)
    if missing:
        raise RuntimeError(
            f"Lloyd partials without a pos-0 row for (block, cid) {missing}"
        )
    out = []
    for b in range(len(cent_blocks)):
        cids, cvs = [], []
        for (bb, cid), (qs, cnt) in sorted(acc.items()):
            if bb != b or not cnt:
                continue
            cv = [
                float(qs[pos]) / (float(cnt) * 1e9)
                for pos in sorted(qs)
            ]
            cids.append(cid)
            cvs.append(cv)
        out.append((cids, cvs))
    return out


def kmeans_fit(
    vecs: DataFrame, k: int = 10, max_iter: int = 10
) -> DataFrame:
    """Lloyd's k-means over the embedding column — mapInArrow NumPy
    kernel (r13, guide §4.2): each iteration is ONE Arrow pass over the
    pinned vectors emitting per-partition (cid, pos, Σquantize9(x),
    count) partials (k·dim·P tiny rows — model-sized, not data-sized),
    reduced driver-side with the exact davg9 algebra.  This replaced a
    per-iteration broadcast-join + posexplode + two grouped aggs + an
    eager checkpoint (~0.4 s fixed floor per iteration at any SF).

    Deterministic and BIT-IDENTICAL to the previous DataFrame loop (the
    l20/l21b oracles track the codebook bit-for-bit): init centroids
    are the k lowest vec_ids, d2 folds positions in order, ties break
    to the lower cid, update means are davg9-quantized — see
    _lloyd_update_fn for the exact-IEEE correspondence.

    Returns (cid, cv: array<double>) as a driver-local relation (k·dim
    doubles — broadcast-sized by construction).  At 100 TB each
    iteration is one data pass + a P·k·dim partial collect, the
    canonical distributed k-means (MLlib's shape).

    The input is deliberately NOT pinned (r13): both callers hand a
    parquet projection, so each pass re-reads just the embedding
    column instead of materializing an input-sized checkpoint.  No pin
    A/B was run for this choice; it stands on the 100 TB posture, where
    an input-sized localCheckpoint must not exist.

    Raises ValueError on an empty input and, from the kernel, on
    ragged, null or non-finite vectors."""
    spark = vecs.sparkSession
    vecs = vecs.select("vec_id", "v")
    init = vecs.orderBy("vec_id").limit(k).collect()
    if not init:
        raise ValueError("no vectors to fit")
    init = sorted(init, key=lambda r: r["vec_id"])
    dim = len(init[0]["v"])
    cent_blocks = [(
        list(range(1, len(init) + 1)),
        [list(r["v"]) for r in init],
    )]
    vonly = vecs.select("v")
    for _ in range(max_iter):
        partials = vonly.mapInArrow(
            _lloyd_update_fn(cent_blocks, dim, dim),
            "block int, cid int, pos int, qsum long, cnt long",
        ).collect()
        cent_blocks = _lloyd_reduce(partials, cent_blocks)
    cids, cvs = cent_blocks[0]
    return spark.createDataFrame(
        [(int(c), v) for c, v in zip(cids, cvs)], "cid int, cv array<double>"
    )


def _l20_oracle(k: int = 10, iters: int = 5) -> str:
    """Unrolled-Lloyd SQL oracle for l20: a FIXED iteration count means
    k-means needs no recursion at all — each iteration is one
    assignment (argmin distance, ties to the lower cid) plus one
    quantized-mean update, so five iterations unroll into five CTE
    layers.  Determinism rests on the same alignments as l14: davg9
    centroid means, (d2, cid) tie order, and trunc-division purity."""
    layers = []
    for t in range(1, iters + 1):
        layers.append(f"""
    a{t} AS (
      SELECT v.vec_id, c.cid,
             SUM((v.x - c.c) * (v.x - c.c)) AS d2
      FROM v JOIN cent{t - 1} c USING (i)
      GROUP BY v.vec_id, c.cid
    ),
    b{t} AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cid) AS rn
        FROM a{t}
      ) WHERE rn = 1
    ),
    cent{t} AS (
      SELECT b.cid, v.i, {DAVG9.format(x="v.x")} AS c
      FROM b{t} b JOIN v USING (vec_id)
      GROUP BY b.cid, v.i
    )""")
    return f"""
    WITH v AS (
      SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN range(1, 65) t(i)
    ),
    first AS (
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS cid
      FROM (SELECT DISTINCT vec_id FROM embeddings
            ORDER BY vec_id LIMIT {k})
    ),
    cent0 AS (
      SELECT f.cid, v.i, v.x AS c FROM first f JOIN v USING (vec_id)
    ),{",".join(layers)},
    fin AS (
      SELECT v.vec_id, c.cid,
             SUM((v.x - c.c) * (v.x - c.c)) AS d2
      FROM v JOIN cent{iters} c USING (i)
      GROUP BY v.vec_id, c.cid
    ),
    best AS (
      SELECT vec_id, cid, d2 FROM (
        SELECT vec_id, cid, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cid) AS rn
        FROM fin
      ) WHERE rn = 1
    ),
    cells AS (
      SELECT cid, COUNT(*) AS cell_size,
             ROUND(CAST(SUM(CAST(d2 AS DECIMAL(28,10))) AS DOUBLE)
                   / COUNT(*), 6) AS mean_d2
      FROM best GROUP BY cid
    ),
    cl AS (
      SELECT b.cid, e.label, COUNT(*) AS cl
      FROM best b
      JOIN (SELECT DISTINCT vec_id, label FROM embeddings) e
        USING (vec_id)
      GROUP BY b.cid, e.label
    ),
    pur AS (
      SELECT cid, label AS majority_label,
             ROW_NUMBER() OVER (PARTITION BY cid
                                ORDER BY cl DESC, label DESC) AS rn,
             SUM(cl) OVER (PARTITION BY cid) AS tot,
             MAX(cl) OVER (PARTITION BY cid) AS mx
      FROM cl
    )
    SELECT c.cid, c.cell_size, c.mean_d2, p.majority_label,
           CAST(TRUNC(CAST(p.mx AS DOUBLE) * 1000000 / p.tot) AS BIGINT)
             AS purity_ppm
    FROM cells c JOIN (SELECT * FROM pur WHERE rn = 1) p USING (cid)
    """


@register(
    "l20_kmeans_ivf",
    # ORACLE-CHECKED as of round 4 (was rows-only "iterative"): Lloyd
    # with a FIXED iteration budget unrolls into static SQL — see
    # _l20_oracle.  The invariants in tests/test_llm.py still hold.
    oracle=_l20_oracle(),
    tags=("L9", "L4", "EXT"),
)
def l20_kmeans_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-codebook IVF (ROADMAP item delivered): fit k-means on
    the corpus, assign every vector to its cell, report per-cell sizes,
    within-cell mean distance, and — the r3 ask #5 quality surface —
    the majority ground-truth label and its purity in ppm (BIGINT, so
    the rows-only driver check pins clustering quality with no float
    hazard; tests/test_llm.py bounds it)."""
    vecs = _vectors(spark, sf_dir)
    cent = kmeans_fit(vecs, k=10, max_iter=5)
    d2 = F.aggregate(
        F.zip_with("v", "cv", lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    assigned = (
        vecs.join(F.broadcast(cent))
        .select("vec_id", "cid", d2.alias("d2"))
        .groupBy("vec_id")
        .agg(
            F.min_by("cid", F.struct("d2", "cid")).alias("cid"),
            F.min("d2").alias("d2"),
        )
    )
    cells = assigned.groupBy("cid").agg(
        F.count("*").alias("cell_size"),
        F.round((F.sum(F.col("d2").cast("decimal(28,10)")).cast("double") / F.count("*")), 6).alias(
            "mean_d2"
        ),
    )
    purity = (
        assigned.join(vecs.select("vec_id", "label"), "vec_id")
        .groupBy("cid", "label")
        .agg(F.count("*").alias("cl"))
        .groupBy("cid")
        .agg(
            # deterministic at ties: highest label among max-count ones
            F.max(F.struct("cl", "label"))["label"].alias("majority_label"),
            (F.max("cl") * F.lit(1_000_000) / F.sum("cl"))
            .cast("long")
            .alias("purity_ppm"),
        )
    )
    return cells.join(purity, "cid")


# ---- Product quantization (PQ) ANN --------------------------------------

PQ_BLOCKS = 8  # M subvectors of dim/M dims each
PQ_K = 16  # centroids per block codebook
PQ_ITERS = 3
PQ_RERANK = 100  # exact re-rank depth


def pq_train_encode(vecs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Train per-block PQ codebooks and encode the corpus — mapInArrow
    NumPy kernel (r13, guide §4.2): all M block codebooks train
    SIMULTANEOUSLY in each Arrow pass (the kernel slices the full
    vector into M subvectors in-memory — no posexplode relation, no
    per-iteration broadcast join + grouped mean + eager checkpoint),
    partials reduce driver-side with the exact davg9 algebra, and the
    final encoding is one assignment-only Arrow pass against the
    penultimate codebook (exactly the relation the old loop's last
    `assigned` was).  Deterministic and BIT-IDENTICAL to the previous
    DataFrame loop — the l21/l21b unrolled SQL oracles track the
    codebooks bit-for-bit (see _lloyd_update_fn).

    Returns (codebook: (block, cid, cv), codes: (vec_id, block, code)).
    At 100 TB the codes table is the persisted index — M bytes per
    vector instead of 4·dim — and the codebook is a K·M·(dim/M) float
    broadcast; each training pass collects only P·M·K·(dim/M)
    model-sized partials.

    Input contract (r13, no internal pin): callers hand either a cheap
    re-scannable projection (l21 — a parquet column read per pass) or
    an already-pinned relation (l21b's residuals) — pinning here again
    would materialize an input-sized checkpoint twice.  Raises
    ValueError on empty input and on ragged, null or non-finite
    vectors, as kmeans_fit does."""
    spark = vecs.sparkSession
    vecs = vecs.select("vec_id", "v")
    init = sorted(
        vecs.orderBy("vec_id").limit(PQ_K).collect(),
        key=lambda r: r["vec_id"],
    )
    if not init:
        raise ValueError("no vectors to fit")
    dim = len(init[0]["v"])
    dsub = dim // PQ_BLOCKS
    cent_blocks = [
        (
            list(range(1, len(init) + 1)),
            [list(r["v"][b * dsub : (b + 1) * dsub]) for r in init],
        )
        for b in range(PQ_BLOCKS)
    ]
    vonly = vecs.select("v")
    prev = cent_blocks
    for _ in range(PQ_ITERS):
        prev = cent_blocks
        partials = vonly.mapInArrow(
            _lloyd_update_fn(cent_blocks, dim, dsub),
            "block int, cid int, pos int, qsum long, cnt long",
        ).collect()
        cent_blocks = _lloyd_reduce(partials, cent_blocks)
    cent = spark.createDataFrame(
        [
            (b, int(cid), cv)
            for b, (cids, cvs) in enumerate(cent_blocks)
            for cid, cv in zip(cids, cvs)
        ],
        "block int, cid int, cv array<double>",
    )
    # codes come from the LAST assignment (against the penultimate
    # codebook) while the returned codebook is post-update — exactly
    # as the old loop left them.
    codes = vecs.mapInArrow(
        _lloyd_assign_fn(prev, dim, dsub),
        "vec_id long, block int, code int",
    )
    return cent, codes


def _l21_oracle() -> str:
    """Unrolled PQ-ADC SQL oracle for l21 (same move as _l20_oracle):
    the per-block Lloyd training has a FIXED iteration budget, so the
    whole pipeline — codebook training, encoding, quantized ADC table,
    candidate cut, exact re-rank, recall — is static SQL.  The codes
    come from the LAST assignment (against cent2) while the ADC table
    reads the post-update codebook (cent3), exactly as the Spark loop
    leaves them."""
    m, kk, it = PQ_BLOCKS, PQ_K, PQ_ITERS
    dim_sub = 64 // m
    layers = []
    for t in range(1, it + 1):
        layers.append(f"""
    a{t} AS (
      SELECT s.vec_id, s.b, c.cid,
             SUM((s.x - c.c) * (s.x - c.c)) AS d2
      FROM s JOIN cent{t - 1} c ON c.b = s.b AND c.j = s.j
      GROUP BY s.vec_id, s.b, c.cid
    ),
    b{t} AS (
      SELECT vec_id, b, cid FROM (
        SELECT vec_id, b, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, b
                                  ORDER BY d2, cid) AS rn
        FROM a{t}
      ) WHERE rn = 1
    ),
    cent{t} AS (
      SELECT bb.b, bb.cid, s.j, {DAVG9.format(x="s.x")} AS c
      FROM b{t} bb JOIN s ON s.vec_id = bb.vec_id AND s.b = bb.b
      GROUP BY bb.b, bb.cid, s.j
    )""")
    return f"""
    WITH s AS (
      SELECT vec_id, b, j,
             CAST(embedding[b * {dim_sub} + j] AS DOUBLE) AS x
      FROM embeddings
      CROSS JOIN range(0, {m}) tb(b)
      CROSS JOIN range(1, {dim_sub + 1}) tj(j)
      WHERE vec_id <> {QUERY_VEC_ID}
    ),
    qs AS (
      SELECT b, j, CAST(embedding[b * {dim_sub} + j] AS DOUBLE) AS qx
      FROM embeddings
      CROSS JOIN range(0, {m}) tb(b)
      CROSS JOIN range(1, {dim_sub + 1}) tj(j)
      WHERE vec_id = {QUERY_VEC_ID}
    ),
    v AS (
      SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN range(1, 65) t(i)
    ),
    q AS (SELECT i, x AS qx FROM v WHERE vec_id = {QUERY_VEC_ID}),
    first AS (
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS cid
      FROM (SELECT DISTINCT vec_id FROM embeddings
            WHERE vec_id <> {QUERY_VEC_ID} ORDER BY vec_id LIMIT {kk})
    ),
    cent0 AS (
      SELECT s.b, f.cid, s.j, s.x AS c FROM first f JOIN s USING (vec_id)
    ),{",".join(layers)},
    dt AS (
      SELECT c.b, c.cid AS code,
             {_Q9.format(x="SUM((c.c - q2.qx) * (c.c - q2.qx))")} AS dqq
      FROM cent{it} c JOIN qs q2 ON q2.b = c.b AND q2.j = c.j
      GROUP BY c.b, c.cid
    ),
    approx AS (
      SELECT bb.vec_id, SUM(dt.dqq) AS adc
      FROM b{it} bb JOIN dt ON dt.b = bb.b AND dt.code = bb.cid
      GROUP BY bb.vec_id
      ORDER BY adc, vec_id LIMIT {PQ_RERANK}
    ),
    scored AS (
      SELECT v.vec_id,
             ROUND(SUM(v.x * q.qx)
                   / (SQRT(SUM(v.x * v.x)) * SQRT(SUM(q.qx * q.qx))),
                   6) AS cosine
      FROM v JOIN q USING (i)
      WHERE v.vec_id <> {QUERY_VEC_ID}
      GROUP BY v.vec_id
    ),
    res AS (
      SELECT sc.vec_id, sc.cosine
      FROM approx a JOIN scored sc USING (vec_id)
      ORDER BY cosine DESC, vec_id LIMIT {TOP_K}
    ),
    exact AS (
      SELECT vec_id FROM scored ORDER BY cosine DESC, vec_id LIMIT {TOP_K}
    ),
    rec AS (
      SELECT CAST(COUNT(*) * 1000000 / {TOP_K} AS BIGINT)
               AS recall_ppm_at_k
      FROM res r JOIN exact e USING (vec_id)
    )
    SELECT r.vec_id, r.cosine, rc.recall_ppm_at_k FROM res r, rec rc
    """


@register(
    "l21_pq_topk",
    # ORACLE-CHECKED as of round 4 (was rows-only): fixed-budget Lloyd
    # unrolls into static SQL — see _l21_oracle.  ADC table entries are
    # 1e-9-quantized longs so the candidate cut is deterministic in any
    # engine and any partial-agg order.
    oracle=_l21_oracle(),
    tags=("L3", "L4", "EXT", "pq"),
)
def l21_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-k (ROADMAP item delivered): train
    M=4 per-block codebooks, encode the corpus to M small codes,
    score candidates with asymmetric distance (query-to-centroid
    lookup tables, the public Jégou et al. PAMI'11 ADC scheme), then
    exact-cosine re-rank the top candidates.

    Scale shape: the scored index is (vec_id, block, code) — M ints
    per vector — joined to a K·M-row broadcast distance table; the
    full vectors are touched only for the PQ_RERANK survivors (an
    equi-join on vec_id). At 100 TB this is the memory-bound ANN path:
    ~16× less data scanned per query than brute force, same plan
    shape at any corpus size."""
    vecs = _vectors(spark, sf_dir)
    corpus = vecs.filter(F.col("vec_id") != QUERY_VEC_ID)
    cent, codes = pq_train_encode(corpus)

    q = vecs.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("v").alias("qv"))
    qsub = q.select(
        F.explode(
            F.expr(
                f"transform(sequence(0, {PQ_BLOCKS - 1}), b -> named_struct("
                f"'block', b, 'sv', slice(qv, b * (size(qv) div {PQ_BLOCKS}) + 1,"
                f" size(qv) div {PQ_BLOCKS})))"
            )
        ).alias("s")
    ).select("s.block", F.col("s.sv").alias("qsv"))
    # ADC lookup table: distance from the query's subvector to every
    # centroid of its block — K·M tiny rows, broadcast everywhere.
    dtable = (
        cent.join(F.broadcast(qsub), "block")
        .select(
            "block",
            F.col("cid").alias("code"),
            # 1e-9-quantized table entries: the M-way ADC sum then runs
            # over exact longs, so the candidate cut is deterministic
            # across engines AND across Spark partial-agg orders
            _quantize9(
                F.aggregate(
                    F.zip_with("cv", "qsv", lambda c, x: (c - x) * (c - x)),
                    F.lit(0.0),
                    lambda acc, y: acc + y,
                )
            ).alias("dqq"),
        )
    )
    approx = (
        codes.join(F.broadcast(dtable), ["block", "code"])
        .groupBy("vec_id")
        .agg(F.sum("dqq").alias("adc_d2"))
        .orderBy(F.col("adc_d2").asc(), F.col("vec_id"))
        .limit(PQ_RERANK)
    )
    rerank = approx.join(corpus, "vec_id").join(F.broadcast(q)).select(
        "vec_id",
        F.round(_dot("v", "qv") / (_norm("v") * _norm("qv")), 6).alias("cosine"),
    )
    res = rerank.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(TOP_K)
    return _with_recall(res, corpus, q, TOP_K)


# ---- IVF-PQ (IVFADC): coarse quantizer + PQ over residuals -----------

IVFPQ_NLISTS = 10
IVFPQ_NPROBE = 4
IVFPQ_RERANK = 150  # exact re-rank depth (constant w.r.t. corpus size)


def ivfpq_index(corpus: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Build the IVFADC index (Jégou et al., PAMI'11 §IV): a coarse
    k-means quantizer partitions the corpus into inverted lists, and
    product quantization encodes each vector's RESIDUAL v − c(v)
    against its coarse centroid. Residuals have far smaller variance
    than raw vectors, so the same K·M code budget quantizes them with
    much lower error — that is the whole point of the two-level scheme.

    Returns (coarse: (cid, cv), assigned: (vec_id, cid),
    pq_codebook: (block, cid, cv), codes: (vec_id, block, code)).

    Scale shape: the persisted index is assigned ⋈ codes — one int +
    M bytes per vector, partitionable by list id; both codebooks are
    tiny broadcasts. Training is Lloyd Arrow passes (kmeans_fit /
    pq_train_encode), never an all-pairs.  r13: the coarse assignment
    and the residual computation fuse into ONE Arrow pass
    (_lloyd_assign_residual_fn) whose pinned output feeds both the
    probe membership join and the residual-PQ training — replacing a
    broadcast-join + argmin-groupBy + residual-join chain (bit-exact;
    the l21b oracle's strict hash pins it).  Pin size note: rows ∝
    corpus docs (vec_id + cid + dim doubles) — input-sized, reused by
    4 PQ training passes + encode + membership; at 100 TB write the
    index to storage instead (it IS the persisted artifact)."""
    coarse = kmeans_fit(corpus, k=IVFPQ_NLISTS, max_iter=3)
    crows = sorted(coarse.collect(), key=lambda r: r["cid"])
    cent_blocks = [(
        [int(r["cid"]) for r in crows],
        [list(r["cv"]) for r in crows],
    )]
    dim = len(crows[0]["cv"])
    assigned_res = ephemeral_cache(
        corpus.select("vec_id", "v").mapInArrow(
            _lloyd_assign_residual_fn(cent_blocks, dim),
            "vec_id long, cid int, rv array<double>",
        )
    )
    pq_codebook, codes = pq_train_encode(
        assigned_res.select("vec_id", F.col("rv").alias("v"))
    )
    return coarse, assigned_res.select("vec_id", "cid"), pq_codebook, codes


def _l21b_oracle() -> str:
    """Unrolled IVFADC SQL oracle: coarse Lloyd (3 iterations, k=10)
    over the corpus, residuals against the final coarse codebook,
    per-block residual-PQ Lloyd (3 iterations, K=16), rounded probe
    selection, quantized per-list ADC tables, exact re-rank, recall —
    the full Jégou IVFADC pipeline as static SQL (the l20/l21 move,
    composed)."""
    m, kk, it = PQ_BLOCKS, PQ_K, PQ_ITERS
    nlists, nprobe = IVFPQ_NLISTS, IVFPQ_NPROBE
    dsub = 64 // m
    coarse = []
    for t in range(1, 4):
        coarse.append(f"""
    ka{t} AS (
      SELECT v.vec_id, c.cid, SUM((v.x - c.c) * (v.x - c.c)) AS d2
      FROM cv v JOIN cc{t - 1} c USING (i)
      GROUP BY v.vec_id, c.cid
    ),
    kb{t} AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cid) AS rn
        FROM ka{t}
      ) WHERE rn = 1
    ),
    cc{t} AS (
      SELECT b.cid, v.i, {DAVG9.format(x="v.x")} AS c
      FROM kb{t} b JOIN cv v USING (vec_id)
      GROUP BY b.cid, v.i
    )""")
    pq = []
    for t in range(1, it + 1):
        pq.append(f"""
    pa{t} AS (
      SELECT r.vec_id, r.b, c.cid, SUM((r.rx - c.c) * (r.rx - c.c)) AS d2
      FROM rs r JOIN pc{t - 1} c ON c.b = r.b AND c.j = r.j
      GROUP BY r.vec_id, r.b, c.cid
    ),
    pb{t} AS (
      SELECT vec_id, b, cid FROM (
        SELECT vec_id, b, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, b
                                  ORDER BY d2, cid) AS rn
        FROM pa{t}
      ) WHERE rn = 1
    ),
    pc{t} AS (
      SELECT bb.b, bb.cid, r.j, {DAVG9.format(x="r.rx")} AS c
      FROM pb{t} bb JOIN rs r ON r.vec_id = bb.vec_id AND r.b = bb.b
      GROUP BY bb.b, bb.cid, r.j
    )""")
    return f"""
    WITH cv AS (
      SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN range(1, 65) t(i)
      WHERE vec_id <> {QUERY_VEC_ID}
    ),
    qv AS (
      SELECT i, CAST(embedding[i] AS DOUBLE) AS qx
      FROM embeddings CROSS JOIN range(1, 65) t(i)
      WHERE vec_id = {QUERY_VEC_ID}
    ),
    kfirst AS (
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS cid
      FROM (SELECT DISTINCT vec_id FROM embeddings
            WHERE vec_id <> {QUERY_VEC_ID} ORDER BY vec_id LIMIT {nlists})
    ),
    cc0 AS (
      SELECT f.cid, v.i, v.x AS c FROM kfirst f JOIN cv v USING (vec_id)
    ),{",".join(coarse)},
    fin AS (
      SELECT v.vec_id, c.cid, SUM((v.x - c.c) * (v.x - c.c)) AS d2
      FROM cv v JOIN cc3 c USING (i)
      GROUP BY v.vec_id, c.cid
    ),
    assigned AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cid) AS rn
        FROM fin
      ) WHERE rn = 1
    ),
    res0 AS (  -- residuals against the assigned coarse centroid
      SELECT v.vec_id, v.i, v.x - c.c AS rx
      FROM cv v
      JOIN assigned a USING (vec_id)
      JOIN cc3 c ON c.cid = a.cid AND c.i = v.i
    ),
    rs AS (  -- residual subvectors
      SELECT vec_id, (i - 1) // {dsub} AS b,
             i - ((i - 1) // {dsub}) * {dsub} AS j, rx
      FROM res0
    ),
    pfirst AS (
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS cid
      FROM (SELECT DISTINCT vec_id FROM embeddings
            WHERE vec_id <> {QUERY_VEC_ID} ORDER BY vec_id LIMIT {kk})
    ),
    pc0 AS (
      SELECT r.b, f.cid, r.j, r.rx AS c FROM pfirst f JOIN rs r USING (vec_id)
    ),{",".join(pq)},
    probe AS (
      SELECT cid AS list_id FROM (
        SELECT c.cid, ROUND(SUM((q.qx - c.c) * (q.qx - c.c)), 6) AS cd2
        FROM cc3 c JOIN qv q USING (i) GROUP BY c.cid
      ) ORDER BY cd2, cid LIMIT {nprobe}
    ),
    qres AS (  -- per-list query residual subvectors
      SELECT p.list_id, (q.i - 1) // {dsub} AS b,
             q.i - ((q.i - 1) // {dsub}) * {dsub} AS j,
             q.qx - c.c AS qrx
      FROM probe p
      JOIN cc3 c ON c.cid = p.list_id
      JOIN qv q ON q.i = c.i
    ),
    dt AS (
      SELECT qr.list_id, pc.b, pc.cid AS code,
             {_Q9.format(x="SUM((pc.c - qr.qrx) * (pc.c - qr.qrx))")} AS dqq
      FROM pc{it} pc
      JOIN qres qr ON qr.b = pc.b AND qr.j = pc.j
      GROUP BY qr.list_id, pc.b, pc.cid
    ),
    approx AS (
      SELECT a.vec_id, SUM(dt.dqq) AS adc
      FROM assigned a
      JOIN probe p ON p.list_id = a.cid
      JOIN pb{it} cd ON cd.vec_id = a.vec_id
      JOIN dt ON dt.list_id = a.cid AND dt.b = cd.b AND dt.code = cd.cid
      GROUP BY a.vec_id
      ORDER BY adc, a.vec_id LIMIT {IVFPQ_RERANK}
    ),
    scored AS (
      SELECT v.vec_id,
             ROUND(SUM(v.x * q.qx)
                   / (SQRT(SUM(v.x * v.x)) * SQRT(SUM(q.qx * q.qx))),
                   6) AS cosine
      FROM cv v JOIN qv q USING (i)
      GROUP BY v.vec_id
    ),
    res AS (
      SELECT sc.vec_id, sc.cosine
      FROM approx a JOIN scored sc USING (vec_id)
      ORDER BY cosine DESC, vec_id LIMIT {TOP_K}
    ),
    exact AS (
      SELECT vec_id FROM scored ORDER BY cosine DESC, vec_id LIMIT {TOP_K}
    ),
    rec AS (
      SELECT CAST(COUNT(*) * 1000000 / {TOP_K} AS BIGINT)
               AS recall_ppm_at_k
      FROM res r JOIN exact e USING (vec_id)
    )
    SELECT r.vec_id, r.cosine, rc.recall_ppm_at_k FROM res r, rec rc
    """


@register(
    "l21b_ivfpq_topk",
    # ORACLE-CHECKED as of round 4 (was rows-only): the residual
    # two-level pipeline unrolls like l20/l21 — see _l21b_oracle.
    oracle=_l21b_oracle(),
    tags=("L3", "L4", "EXT", "pq", "ivf"),
)
def l21b_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC ANN top-k: probe the nprobe coarse lists nearest the
    query, score ONLY their members with asymmetric distance over
    residual codes, exact-cosine re-rank the survivors.

    ADC over residuals: for each probed list l the query residual is
    q − c_l, and the per-(list, block, code) lookup table holds
    ‖(q − c_l)_b − pq_b(code)‖² — summing a vector's M table entries
    approximates ‖q − (c_l + pq(r_v))‖², the PAMI'11 ADC estimator.
    The table is nprobe·M·K rows, broadcast; the scan touches
    nprobe/nlists of the code index and the full vectors only for the
    PQ_RERANK survivors — the memory-bound 100 TB ANN path."""
    vecs = _vectors(spark, sf_dir)
    corpus = vecs.filter(F.col("vec_id") != QUERY_VEC_ID)
    coarse, assigned, pq_codebook, codes = ivfpq_index(corpus)

    q = vecs.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("v").alias("qv"))
    cdist = F.aggregate(
        F.zip_with("cv", "qv", lambda c, x: (c - x) * (c - x)),
        F.lit(0.0),
        lambda acc, y: acc + y,
    )
    probed = (
        coarse.join(F.broadcast(q))
        # rounded probe ordering (the l14 discipline): selection must
        # not flip on sub-1e-6 float drift between engines
        .select("cid", "cv", "qv", F.round(cdist, 6).alias("cd2"))
        .orderBy(F.col("cd2").asc(), F.col("cid"))
        .limit(IVFPQ_NPROBE)
    )
    # Per-list query residual, sliced into PQ blocks.
    qres = probed.select(
        F.col("cid").alias("list_id"),
        F.explode(
            F.expr(
                f"transform(sequence(0, {PQ_BLOCKS - 1}), b -> named_struct("
                f"'block', b, 'qsv', slice(zip_with(qv, cv, (x, c) -> x - c),"
                f" b * (size(qv) div {PQ_BLOCKS}) + 1, size(qv) div {PQ_BLOCKS})))"
            )
        ).alias("s"),
    ).select("list_id", "s.block", F.col("s.qsv").alias("qsv"))
    dtable = qres.join(pq_codebook, "block").select(
        "list_id",
        "block",
        F.col("cid").alias("code"),
        # 1e-9-quantized entries (the l21 discipline): the ADC sum then
        # runs over exact longs — deterministic candidate cut
        _quantize9(
            F.aggregate(
                F.zip_with("cv", "qsv", lambda c, x: (c - x) * (c - x)),
                F.lit(0.0),
                lambda acc, y: acc + y,
            )
        ).alias("dqq"),
    )
    members = assigned.join(
        F.broadcast(probed.select(F.col("cid").alias("list_id"))),
        assigned.cid == F.col("list_id"),
        "inner",
    ).select("vec_id", "list_id")
    approx = (
        members.join(codes, "vec_id")
        .join(F.broadcast(dtable), ["list_id", "block", "code"])
        .groupBy("vec_id")
        .agg(F.sum("dqq").alias("adc_d2"))
        .orderBy(F.col("adc_d2").asc(), F.col("vec_id"))
        .limit(IVFPQ_RERANK)
    )
    rerank = approx.join(corpus, "vec_id").join(F.broadcast(q)).select(
        "vec_id",
        F.round(_dot("v", "qv") / (_norm("v") * _norm("qv")), 6).alias("cosine"),
    )
    res = rerank.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(TOP_K)
    return _with_recall(res, corpus, q, TOP_K)


KNN_K = 5
KNN_QUERY_MOD = 100  # vec_id % 100 == 0 → the query set


@register(
    "l30_knn_join",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN range(1, 65) t(i)
    ),
    q AS (
      SELECT vec_id AS q_id, i, x AS qx FROM v
      WHERE vec_id % {KNN_QUERY_MOD} = 0
    ),
    dots AS (
      SELECT q.q_id, v.vec_id AS n_id,
             SUM(v.x * q.qx) AS dot,
             SQRT(SUM(v.x * v.x)) AS nv,
             SQRT(SUM(q.qx * q.qx)) AS nq
      FROM v JOIN q USING (i)
      WHERE v.vec_id <> q.q_id
      GROUP BY q.q_id, v.vec_id
    ),
    ranked AS (
      SELECT q_id, n_id, ROUND(dot / (nv * nq), 6) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY q_id
               ORDER BY ROUND(dot / (nv * nq), 6) DESC, n_id
             ) AS rank
      FROM dots
    )
    SELECT q_id, n_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {KNN_K}
    """,
    tags=("L3", "W8", "EXT"),
)
def l30_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched k-NN join — exact top-k cosine neighbors for EVERY vector
    in a query set (the ANN-serving shape, vs l3's single query): the
    query block broadcasts against one corpus scan, scoring stays in
    zip_with/aggregate codegen, and the per-query top-k is a
    (q_id)-partitioned rank window. Shuffle is the Q×N scored pairs
    hashed on q_id; the partition-heap variant (l4) is the drop-in when
    Q×N outgrows a shuffle, and IVF bucketing (l14) when the corpus
    side must shrink first."""
    vecs = _vectors(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") % KNN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    scored = (
        vecs.join(F.broadcast(queries), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            F.round(
                _dot("v", "qv") / (_norm("v") * _norm("qv")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= KNN_K)
    )


HARD_NEG_K = 3


@register(
    "l34_hard_negatives",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN range(1, 65) t(i)
    ),
    q AS (
      SELECT vec_id AS q_id, label AS q_label, i, x AS qx FROM v
      WHERE vec_id % {KNN_QUERY_MOD} = 0
    ),
    dots AS (
      SELECT q.q_id, v.vec_id AS n_id,
             SUM(v.x * q.qx) AS dot,
             SQRT(SUM(v.x * v.x)) AS nv,
             SQRT(SUM(q.qx * q.qx)) AS nq
      FROM v JOIN q USING (i)
      WHERE v.label <> q.q_label
      GROUP BY q.q_id, v.vec_id
    ),
    ranked AS (
      SELECT q_id, n_id, ROUND(dot / (nv * nq), 6) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY q_id
               ORDER BY ROUND(dot / (nv * nq), 6) DESC, n_id
             ) AS rank
      FROM dots
    )
    SELECT q_id, n_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {HARD_NEG_K}
    """,
    tags=("L3", "W8", "EXT"),
)
def l34_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training (the
    retrieval-training companion to the k-NN join l30): for each anchor
    in the query set, the top-k most-similar corpus vectors with a
    DIFFERENT label — maximally confusable negatives, the pairs an
    InfoNCE trainer wants in the denominator.  Same plan family as l30
    (anchor block broadcast against one corpus scan, zip_with/aggregate
    cosine in codegen, per-anchor rank window); the label-mismatch
    predicate rides the broadcast join as a residual, so negatives are
    filtered before scoring ever shuffles.  At 100 TB the broadcast
    block rotates through anchor chunks while the corpus is scanned
    once per chunk — or route candidates through IVF buckets (l14) and
    mine within probed cells only."""
    vecs = _vectors(spark, sf_dir)
    anchors = vecs.filter(F.col("vec_id") % KNN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
    )
    scored = vecs.join(
        F.broadcast(anchors), F.col("label") != F.col("q_label")
    ).select(
        "q_id",
        F.col("vec_id").alias("n_id"),
        F.round(_dot("v", "qv") / (_norm("v") * _norm("qv")), 6).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("n_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= HARD_NEG_K)


@register(
    "l53_embedding_outliers",
    oracle=f"""
    WITH cent AS (
      SELECT label, i,
             CAST(CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE)
                    AS DECIMAL(28,12))) AS DOUBLE)
                  / COUNT(*) AS DOUBLE) AS c
      FROM embeddings CROSS JOIN range(1, 65) t(i)
      GROUP BY label, i
    ),
    dims AS (
      SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN range(1, 65) t(i)
    ),
    d AS (
      SELECT vec_id, dims.label,
             SUM({_Q.format(x='(x - c) * (x - c)')}) AS d2q
      FROM dims JOIN cent ON dims.label = cent.label AND dims.i = cent.i
      GROUP BY vec_id, dims.label
    ),
    s AS (
      SELECT label, COUNT(*) AS n, SUM(d2q) AS sq,
             SUM(CAST(d2q AS DECIMAL(38,0)) * d2q) AS ssq
      FROM d GROUP BY label
    ),
    t AS (
      SELECT label, n,
             CAST(sq AS DOUBLE) / 1000000.0 / n AS mean_d2,
             SQRT((CAST(ssq AS DOUBLE) / 1000000000000.0
                   - (CAST(sq AS DOUBLE) / 1000000.0)
                     * (CAST(sq AS DOUBLE) / 1000000.0) / n) / (n - 1))
               AS std_d2
      FROM s
    )
    SELECT d.label, MAX(t.n) AS n_vecs,
           SUM(CASE WHEN CAST(d2q AS DOUBLE) / 1000000.0
                         > mean_d2 + 3 * std_d2 THEN 1 ELSE 0 END)
             AS outliers,
           ROUND(MAX(mean_d2), 6) AS mean_d2,
           ROUND(MAX(std_d2), 6) AS std_d2
    FROM d JOIN t ON d.label = t.label
    GROUP BY d.label
    """,
    tags=("L9", "L3", "EXT", "dq"),
)
def l53_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier screening — per label: squared L2
    distance of every vector to its label centroid, then a one-sided
    3σ count (mislabeled / corrupt embedding detector, the dq2 rule
    lifted into vector space). Determinism: centroids use the l9
    decimal-sum convention; per-dimension (x−c)² addends are
    quantized before the 64-dim sum (a raw float sum over dims would
    associate differently per engine); the distance moments reuse the
    dq2 integer discipline. Shapes: dims explode to a (label, dim)
    dictionary join (≤ labels·64 rows, broadcast), one vec-level
    aggregate, one label-level aggregate — all partial→final, no
    all-pairs anything."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "xf"),
    ).select(
        "vec_id",
        "label",
        (F.col("pos") + 1).alias("i"),
        F.col("xf").cast("double").alias("x"),
    )
    cent = dims.groupBy("label", "i").agg(
        (
            F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
            / F.count("*")
        )
        .cast("double")
        .alias("c")
    )
    d = (
        dims.join(F.broadcast(cent), ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(
                _quantize((F.col("x") - F.col("c")) * (F.col("x") - F.col("c")))
            ).alias("d2q")
        )
    )
    s = d.groupBy("label").agg(
        F.count("*").alias("n"),
        F.sum("d2q").alias("sq"),
        F.sum(F.col("d2q").cast("decimal(38,0)") * F.col("d2q")).alias("ssq"),
    )
    mean_d2 = F.col("sq").cast("double") / 1_000_000.0 / F.col("n")
    std_d2 = F.sqrt(
        (
            F.col("ssq").cast("double") / 1_000_000_000_000.0
            - (F.col("sq").cast("double") / 1_000_000.0)
            * (F.col("sq").cast("double") / 1_000_000.0)
            / F.col("n")
        )
        / (F.col("n") - 1)
    )
    t = s.select(
        "label", "n", mean_d2.alias("mean_d2"), std_d2.alias("std_d2")
    )
    j = d.join(F.broadcast(t), "label")
    flag = (
        F.col("d2q").cast("double") / 1_000_000.0
        > F.col("mean_d2") + 3 * F.col("std_d2")
    ).cast("long")
    return j.groupBy("label").agg(
        F.max("n").alias("n_vecs"),
        F.sum(flag).alias("outliers"),
        F.round(F.max("mean_d2"), 6).alias("mean_d2"),
        F.round(F.max("std_d2"), 6).alias("std_d2"),
    )


@register(
    "l76_mips_topk",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN range(1, 65) t(i)
    ),
    q AS (SELECT i, x AS qx FROM v WHERE vec_id = {QUERY_VEC_ID}),
    dots AS (
      SELECT v.vec_id,
             SUM(CAST(TRUNC(v.x * q.qx * 1000000000000
                 + (CASE WHEN v.x * q.qx >= 0 THEN 0.5 ELSE -0.5 END))
                 AS BIGINT)) AS dotq,
             SUM(CAST(TRUNC(v.x * v.x * 1000000000000 + 0.5)
                 AS BIGINT)) AS ssqq
      FROM v JOIN q USING (i)
      GROUP BY v.vec_id
    )
    SELECT vec_id, ROUND(dotq / 1000000000000.0, 6) AS inner_product,
           ROUND(SQRT(ssqq / 1000000000000.0), 6) AS vec_norm
    FROM dots WHERE vec_id <> {QUERY_VEC_ID}
    ORDER BY inner_product DESC, vec_id LIMIT {TOP_K}
    """,
    tags=("L3", "O3", "EXT"),
)
def l76_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum inner-product search (MIPS) top-k — the retrieval
    metric for unnormalized embeddings (recommendation / reranking
    scores), distinct from l3's cosine: a long vector can win on raw
    dot product while losing on angle. Exact brute force here (JVM
    zip_with/aggregate fold, TakeOrderedAndProject — no UDF, no global
    sort); the reported vec_norm is the Cauchy–Schwarz pruning handle
    for the scale path: sort the corpus by ‖x‖ descending and stop
    scanning when ‖q‖·‖x‖ falls below the current kth dot — the
    classic exact-MIPS early exit (LEMP/FEXIPRO family), which maps to
    a norm-bucketed scan ordering at 100 TB. Selection is by the
    ROUNDED score (+ vec_id tiebreak) so both engines cut the same k
    rows despite ulp drift."""
    vecs = _vectors(spark, sf_dir)
    q = vecs.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("v").alias("qv")
    )
    # per-term products quantized to 1e-12 longs BEFORE the fold (the
    # dsum discipline) — the sums are exact integers, immune to the
    # accumulation-order ulp drift a raw double fold would carry.
    def _q12(x):
        y = x * 1_000_000_000_000
        return (
            y + F.when(y >= 0, F.lit(0.5)).otherwise(F.lit(-0.5))
        ).cast("long")

    dotq = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: _q12(x * y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    ssqq = F.aggregate(
        F.zip_with("v", "v", lambda x, y: _q12(x * y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        vecs.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            F.round(dotq / 1e12, 6).alias("inner_product"),
            F.round(F.sqrt(ssqq / 1e12), 6).alias("vec_norm"),
        )
    )
    return scored.orderBy(
        F.col("inner_product").desc(), F.col("vec_id")
    ).limit(TOP_K)


# --- round 5c: embedding compression + truncated-dim retrieval --------

# Shared expression text (IDENTICAL in Spark and DuckDB so every double
# op runs in the same order → same IEEE result → same FLOOR):
_SQ8_CODE = (
    "CASE WHEN mx = mn THEN 0 "
    "ELSE CAST(FLOOR(((x - mn) * 255) / (mx - mn)) AS BIGINT) END"
)
_SQ8_DEQ = (
    "CASE WHEN mx = mn THEN mn "
    "ELSE mn + (CAST(code AS DOUBLE) * (mx - mn)) / 255 END"
)
_SQ8_ERR = "CAST(FLOOR(((x - deq) * (x - deq)) * 1000000000000) AS BIGINT)"


@register(
    "l93_sq8_quantize",
    oracle=f"""
    WITH vals AS (
      SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN range(1, 65) t(i)
    ),
    stats AS (
      SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM vals GROUP BY i
    ),
    coded AS (
      SELECT vec_id, i, x, mn, mx, {_SQ8_CODE} AS code
      FROM vals JOIN stats USING (i)
    ),
    deqd AS (
      SELECT vec_id, i, code, {_SQ8_DEQ} AS deq, x FROM coded
    ),
    err AS (
      SELECT vec_id, code, i, {_SQ8_ERR} AS err_e12 FROM deqd
    )
    SELECT vec_id,
           SUM(err_e12) AS mse_e12_sum,
           SUM(code * i) AS code_checksum
    FROM err GROUP BY vec_id
    ORDER BY mse_e12_sum DESC, vec_id LIMIT 20
    """,
    tags=("L4", "EXT", "ann", "quantization"),
)
def l93_sq8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension int8 scalar quantization (SQ8 — the FAISS
    ScalarQuantizer / Milvus SQ8 compression every embedding store
    ships): per dim, min/max over the corpus define an affine grid;
    each value maps to floor((x-mn)*255/(mx-mn)) and back. Output =
    the 20 vectors with the worst reconstruction error (squared-error
    quantized to e-12 longs so the 64-term sum is INTEGER — double
    summation order never matters) plus a code checksum pinning every
    code byte. Scale shape: per-dim stats are one 64-row aggregate
    broadcast back to the exploded values — the fact side is one
    shuffle-free scan + a final per-vector rollup; at 100 TB the codes
    write back as a byte column at 4× compression. Shared expression
    text with the DuckDB oracle makes every FLOOR bit-identical."""
    emb = load_table(spark, sf_dir, "embeddings")
    vals = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "i0", "x"
        ),
    ).selectExpr("vec_id", "i0 + 1 AS i", "x")
    stats = vals.groupBy("i").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    coded = vals.join(F.broadcast(stats), "i").selectExpr(
        "vec_id", "i", "x", "mn", "mx", f"{_SQ8_CODE} AS code"
    )
    deqd = coded.selectExpr(
        "vec_id", "i", "code", f"{_SQ8_DEQ} AS deq", "x"
    )
    err = deqd.selectExpr("vec_id", "code", "i", f"{_SQ8_ERR} AS err_e12")
    return (
        err.groupBy("vec_id")
        .agg(
            F.sum("err_e12").alias("mse_e12_sum"),
            F.sum(F.expr("code * i")).alias("code_checksum"),
        )
        .orderBy(F.desc("mse_e12_sum"), "vec_id")
        .limit(20)
    )


L94_PREFIX = 16
L94_SHORTLIST = 50
L94_K = 10
# per-dim integer partial dot: one double multiply then floor → the
# 64-term sum is integer arithmetic, order-free in both engines
_L94_P = "CAST(FLOOR((x * qx) * 1000000000) AS BIGINT)"


@register(
    "l94_matryoshka_rerank",
    oracle=f"""
    WITH vals AS (
      SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN range(1, 65) t(i)
    ),
    q AS (SELECT i, x AS qx FROM vals WHERE vec_id = {QUERY_VEC_ID}),
    p AS (
      SELECT v.vec_id, v.i, {_L94_P} AS pd
      FROM vals v JOIN q USING (i) WHERE v.vec_id <> {QUERY_VEC_ID}
    ),
    dots AS (
      SELECT vec_id,
             SUM(CASE WHEN i <= {L94_PREFIX} THEN pd ELSE 0 END) AS pdot_e9,
             SUM(pd) AS fdot_e9
      FROM p GROUP BY vec_id
    ),
    short AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY pdot_e9 DESC, vec_id) AS pr
      FROM dots
    ),
    rer AS (
      SELECT vec_id, pdot_e9, fdot_e9,
             ROW_NUMBER() OVER (ORDER BY fdot_e9 DESC, vec_id) AS rank
      FROM short WHERE pr <= {L94_SHORTLIST}
    ),
    exact AS (
      SELECT vec_id,
             ROW_NUMBER() OVER (ORDER BY fdot_e9 DESC, vec_id) AS er
      FROM dots
    ),
    rec AS (
      SELECT COUNT(*) * (1000000 // {L94_K}) AS recall_ppm
      FROM rer JOIN exact USING (vec_id)
      WHERE rer.rank <= {L94_K} AND exact.er <= {L94_K}
    )
    SELECT r.rank, r.vec_id, r.fdot_e9, r.pdot_e9, rec.recall_ppm
    FROM rer r, rec WHERE r.rank <= {L94_K} ORDER BY r.rank
    """,
    tags=("L4", "EXT", "ann", "matryoshka"),
)
def l94_matryoshka_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka / truncated-dimension retrieval (the MRL pattern —
    Kusupati et al., NeurIPS'22 — productized by every 2024+ embedding
    API): shortlist with the FIRST {16} dimensions (4× cheaper dot
    products, 4× smaller hot index), then re-rank the shortlist with
    the full vector, reporting recall vs exact full-dim top-k in ppm —
    the measured cost of the truncation, in-query like l14/l21's
    recall. All dot products are per-dim floor(x*q*1e9) integers, so
    both engines sum exactly. Scale shape: the prefix scan is the only
    full-corpus pass (at 100 TB: scan a 16-dim column family, not the
    64-dim payload); the rerank touches SHORTLIST rows. Everything is
    one exploded scan + broadcast query row + two window top-k cuts
    (TakeOrderedAndProject-class, no global sort)."""
    emb = load_table(spark, sf_dir, "embeddings")
    vals = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "i0", "x"
        ),
    ).selectExpr("vec_id", "i0 + 1 AS i", "x")
    q = vals.filter(F.col("vec_id") == QUERY_VEC_ID).selectExpr(
        "i", "x AS qx"
    )
    p = (
        vals.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(q), "i")
        .selectExpr("vec_id", "i", f"{_L94_P} AS pd")
    )
    dots = p.groupBy("vec_id").agg(
        F.sum(
            F.expr(f"CASE WHEN i <= {L94_PREFIX} THEN pd ELSE 0 END")
        ).alias("pdot_e9"),
        F.sum("pd").alias("fdot_e9"),
    )
    # both full-corpus cuts are TakeOrderedAndProject (orderBy+limit) —
    # never a global row_number window, which would single-partition the
    # whole dots relation; ranks are assigned only inside the 50-row
    # shortlist
    short = dots.orderBy(F.desc("pdot_e9"), "vec_id").limit(L94_SHORTLIST)
    w_f = Window.orderBy(F.desc("fdot_e9"), "vec_id")
    rer = short.withColumn("rank", F.row_number().over(w_f)).filter(
        F.col("rank") <= L94_K
    )
    exact = (
        dots.orderBy(F.desc("fdot_e9"), "vec_id")
        .limit(L94_K)
        .select("vec_id")
    )
    rec = (
        rer.join(exact, "vec_id")
        .agg((F.count("*") * (1000000 // L94_K)).alias("recall_ppm"))
    )
    return (
        rer.crossJoin(F.broadcast(rec))
        .select("rank", "vec_id", "fdot_e9", "pdot_e9", "recall_ppm")
        .orderBy("rank")
    )


# ---- l107: power-iteration PCA (top principal direction) -------------

PI_ROUNDS = 3


def _pi_tdiv(a: str, b: str) -> str:
    """Truncate-toward-zero integer division. Spark's `div` and
    DuckDB's integer `//` BOTH truncate toward zero (verified:
    -7 // 2 = -3 in DuckDB — it does NOT floor; see
    tests/test_determinism.py), so the sign routing below is
    belt-and-suspenders, kept because it makes the intended
    semantics explicit and costs one folded CASE."""
    return (
        f"(CASE WHEN {a} >= 0 THEN ({a}) {{div}} ({b})"
        f" ELSE -((-({a})) {{div}} ({b})) END)"
    )


def _pi_round_sql(r: int) -> str:
    """One unrolled power-iteration round in pure integer arithmetic:
    s = E v (rescaled), w = E^T s, v' = w normalized to +-1e6 by the
    max component.  `{div}` is substituted per engine."""
    tdiv = _pi_tdiv("w", "GREATEST(m {div} 1000000, 1)")
    return f"""
    s{r} AS (
      SELECT e.vec_id,
             {_pi_tdiv("SUM(e.e * v.v)", "1000000")} AS s
      FROM eq e JOIN v{r - 1} v USING (j)
      GROUP BY e.vec_id
    ),
    w{r} AS (
      SELECT e.j, SUM(s.s * e.e) AS w
      FROM eq e JOIN s{r} s USING (vec_id)
      GROUP BY e.j
    ),
    m{r} AS (SELECT MAX(ABS(w)) AS m FROM w{r}),
    v{r} AS (
      SELECT j, CAST({tdiv} AS BIGINT) AS v
      FROM w{r} CROSS JOIN m{r}
    )"""


_PI_SQL_BODY = f"""
    WITH eq AS (
      SELECT vec_id, j, {{q}} AS e
      FROM ({{unnest}})
    ),
    v0 AS (
      SELECT j, CAST(1000000 AS BIGINT) AS v
      FROM (SELECT DISTINCT j FROM eq)
    ),
    {",".join(_pi_round_sql(r) for r in range(1, PI_ROUNDS + 1))}
    SELECT v{PI_ROUNDS}.j AS dim, v{PI_ROUNDS}.v AS component_e6,
           CAST(w{PI_ROUNDS}.w AS BIGINT) AS gain_raw
    FROM v{PI_ROUNDS} JOIN w{PI_ROUNDS} USING (j)
    ORDER BY dim
"""

_PI_DUCK_UNNEST = """
      SELECT vec_id, i AS j, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, UNNEST(GENERATE_SERIES(1, len(embedding))) g(i)
"""


@register(
    "l107_power_iteration",
    oracle=_PI_SQL_BODY.format(
        div="//", q=_Q.format(x="x"), unnest=_PI_DUCK_UNNEST
    ),
    tags=("L9", "A2", "EXT", "embeddings"),
)
def l107_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal DIRECTION of the embedding matrix by {PI_ROUNDS}
    unrolled power-iteration rounds (v' ∝ EᵀE v) — the first step of
    every PCA/whitening/spectral pass over an embedding corpus, kept
    matrix-free: each round is two aggregations (scores s = Ev, then
    loadings w = Eᵀs), never a materialized d×d covariance.

    Deterministic across engines because NO float ever flows between
    steps: embeddings quantize once to 1e-6 longs, the score rescale
    and the per-round max-normalization are truncating integer
    divisions (sign routed around a non-negative divide, since Spark
    `div` truncates while DuckDB `//` floors), and every sum is a
    64-bit integer sum — order-independent by construction.  The
    rescales keep all magnitudes inside int64 at any corpus size
    (|e|≤2e6, |v|≤1e6 ⇒ per-row dot ≤ 1.3e14, rescaled to ≤1.3e8
    before the loading sum).

    Scale shape: rounds are FIXED (3); the Spark side keeps the dot
    products ROW-LOCAL — v rides to each round as a d-long literal
    array (the same bounded driver roundtrip as l101's argmax: d
    longs, never corpus data), so each round is one codegen'd
    map stage + one d-group partial aggregation.  Nothing corpus-sized
    ever shuffles; at 100 TB each round moves d longs per partition.
    The oracle's relational form (explode + keyed joins) computes the
    identical integers — THAT equivalence is what the driver checks."""
    emb = load_table(spark, sf_dir, "embeddings")
    eq = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: _quantize(x.cast("double"))
        ).alias("earr"),
    )
    eq = ephemeral_cache(eq)  # quantize once; re-read per round
    d = int(eq.select(F.size("earr")).first()[0])
    v = [1000000] * d
    for r in range(1, PI_ROUNDS + 1):
        v_lit = f"array({', '.join(f'{x}L' for x in v)})"
        dot = f"aggregate(zip_with(earr, {v_lit}, (x, y) -> x * y), 0L, (a, b) -> a + b)"
        s_expr = _pi_tdiv(dot, "1000000").format(div="div")
        w_rows = (
            eq.select(F.expr(s_expr).alias("s"), F.posexplode("earr"))
            .groupBy("pos")
            .agg(F.sum(F.col("s") * F.col("col")).alias("w"))
            .orderBy("pos")
            .collect()
        )
        w = [row["w"] for row in w_rows]
        m = max(abs(x) for x in w)
        scale = max(m // 1000000, 1)
        # truncate-toward-zero, matching the SQL tdiv
        v = [x // scale if x >= 0 else -((-x) // scale) for x in w]
    rows = [
        (j + 1, int(v[j]), int(w[j])) for j in range(d)
    ]
    return spark.createDataFrame(
        rows, "dim int, component_e6 long, gain_raw long"
    ).orderBy("dim")


# ---- l108: ANN tuning curve — recall@k vs nprobe ---------------------

ANN_NPROBES = (1, 2, 3, 5, 8, 10)


def _ann_np_sql(np_: int) -> str:
    return f"""
    a{np_} AS (
      SELECT vec_id FROM sims WHERE c_rank <= {np_}
      ORDER BY cosine DESC, vec_id LIMIT {TOP_K}
    ),
    r{np_} AS (
      SELECT {np_} AS nprobe,
             (SELECT COUNT(*) FROM sims WHERE c_rank <= {np_})
               AS n_candidates,
             (SELECT CAST(COUNT(*) * 1000000 / {TOP_K} AS BIGINT)
              FROM a{np_} JOIN exact USING (vec_id)) AS recall_ppm
    )"""


@register(
    "l108_ann_recall_curve",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN range(1, 65) t(i)
    ),
    q AS (SELECT i, x AS qx FROM v WHERE vec_id = {QUERY_VEC_ID}),
    cent AS (
      SELECT label, i, {DAVG9.format(x="x")} AS c
      FROM v GROUP BY label, i
    ),
    csim AS (
      SELECT c.label,
             ROUND(SUM(c.c * q.qx)
                   / (SQRT(SUM(c.c * c.c)) * SQRT(SUM(q.qx * q.qx))),
                   6) AS c_sim
      FROM cent c JOIN q USING (i) GROUP BY c.label
    ),
    ranked AS (
      SELECT label,
             ROW_NUMBER() OVER (ORDER BY c_sim DESC, label) AS c_rank
      FROM csim
    ),
    scored AS (
      SELECT v.vec_id, MAX(v.label) AS label,
             ROUND(SUM(v.x * q.qx)
                   / (SQRT(SUM(v.x * v.x)) * SQRT(SUM(q.qx * q.qx))),
                   6) AS cosine
      FROM v JOIN q USING (i)
      WHERE v.vec_id <> {QUERY_VEC_ID}
      GROUP BY v.vec_id
    ),
    sims AS (
      SELECT s.vec_id, s.cosine, r.c_rank
      FROM scored s JOIN ranked r ON s.label = r.label
    ),
    exact AS (
      SELECT vec_id FROM sims ORDER BY cosine DESC, vec_id LIMIT {TOP_K}
    ),
    {",".join(_ann_np_sql(np_) for np_ in ANN_NPROBES)}
    SELECT * FROM (
      {" UNION ALL ".join(f"SELECT * FROM r{np_}" for np_ in ANN_NPROBES)}
    ) ORDER BY nprobe
    """,
    tags=("L3", "L4", "EXT"),
)
def l108_ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN deployment curve: recall@{TOP_K} and candidate-scan cost
    as nprobe sweeps the IVF probe budget — the plot every vector-store
    rollout is tuned from (l83 is this for LSH; this is the IVF twin).
    One centroid ranking and ONE full scored relation (cosine +
    owning-list rank per vector, cached) serve every sweep point: a
    probe budget of np is just `c_rank <= np`, so the sweep adds six
    top-k cuts over the same cached relation, not six scans.  Exact
    arm and determinism discipline are l14's (davg9-quantized
    centroids, 1e-6-rounded cosines, vec_id tiebreaks).

    At 100 TB the scored relation is materialized once per evaluation
    panel — the marginal cost per extra sweep point is a filtered
    top-k, which is why recall curves are cheap to keep fresh in
    production while full re-benchmarks are not."""
    vecs = _vectors(spark, sf_dir)
    q = vecs.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("v").alias("qv")
    )
    cent = (
        vecs.select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(davg9(F.col("x").cast("double")).alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            F.col("label").alias("c_label"),
            F.transform("pc", lambda s: s["c"]).alias("cv"),
        )
    )
    csim = cent.join(F.broadcast(q)).select(
        "c_label",
        F.round(_dot("cv", "qv") / (_norm("cv") * _norm("qv")), 6).alias(
            "c_sim"
        ),
    )
    ranked = csim.select(
        "c_label",
        F.row_number()
        .over(Window.orderBy(F.col("c_sim").desc(), "c_label"))
        .alias("c_rank"),
    )
    sims = (
        vecs.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(_dot("v", "qv") / (_norm("v") * _norm("qv")), 6).alias(
                "cosine"
            ),
        )
        .join(F.broadcast(ranked), F.col("label") == F.col("c_label"))
        .select("vec_id", "cosine", "c_rank")
    )
    sims = ephemeral_cache(sims)
    exact = (
        sims.orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
        .agg(F.collect_set("vec_id").alias("e"))
    )
    out = None
    for np_ in ANN_NPROBES:
        cand = sims.filter(F.col("c_rank") <= np_)
        approx = cand.orderBy(F.col("cosine").desc(), "vec_id").limit(TOP_K)
        row = (
            approx.agg(F.collect_set("vec_id").alias("a"))
            .join(F.broadcast(exact))
            .join(
                F.broadcast(cand.agg(F.count("*").alias("n_candidates")))
            )
            .select(
                F.lit(np_).alias("nprobe"),
                "n_candidates",
                (
                    F.size(F.array_intersect("a", "e"))
                    * F.lit(1_000_000)
                    / F.lit(TOP_K)
                )
                .cast("long")
                .alias("recall_ppm"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("nprobe")
