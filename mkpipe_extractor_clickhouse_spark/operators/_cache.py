"""Leak-free intra-query caching (ADVICE r9).

``DataFrame.cache()`` registers the plan with Spark's CacheManager,
which holds it for the SESSION's lifetime unless somebody calls
``unpersist()`` — a builder that caches an intermediate therefore
leaks executor storage every invocation in a long-lived session
(the round driver and ad-hoc users don't clearCache between queries;
only bench_sweep does).

``ephemeral_cache`` gives the same reuse without the leak: an eager
``localCheckpoint`` stores the relation's partitions (exactly like a
materialized cache) but is tracked at the RDD level, so the
ContextCleaner auto-unpersists the blocks once the returned DataFrame
is garbage-collected on the driver. Eager, not lazy: a lazily-
checkpointed plan that first materializes inside ANOTHER query's
action emits "attempted to access non-existent accumulator" ERROR
noise from the DAGScheduler (its SQL-metric accumulators belong to an
already-cleaned QueryExecution) — observed here, so the checkpoint
runs as its own job at build time, matching the repo's existing
eager-localCheckpoint pattern. The trade, documented for the 100 TB
posture: lineage is TRUNCATED at the checkpoint, so a lost executor
cannot recompute those blocks from source (acceptable for the
short-lived intra-query intermediates this is used for; cluster jobs
that need fault-tolerant reuse should persist to a real checkpoint
dir instead).

``collect_if_small`` is the other driver-memory primitive: one bounded
collect that hands a small relation to a driver-side finish and refuses
a large one, so an exact kernel can skip its distributed rounds on small
inputs while the driver never holds more than the caller's bound.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame


def ephemeral_cache(df: DataFrame, *, required: bool = False) -> DataFrame:
    """Cache-like reuse whose storage is freed by GC, not unpersist().

    ``required=True`` marks CORRECTNESS pins (e.g. freezing a
    monotonically_increasing_id mapping so two subtree re-evaluations
    cannot mint different ids) — those always materialize.  Plain
    perf pins honor ``SPARK_GRAFT_NO_PIN=1`` and become identity, the
    control arm for one-shot A/B measurements (scripts/exp_pin_ab.py):
    an eager checkpoint moves compute to DataFrame build time, so only
    a rebuild+execute timing can tell whether a pin actually pays."""
    if not required and os.environ.get("SPARK_GRAFT_NO_PIN") == "1":
        return df
    return df.localCheckpoint(eager=True)


def collect_if_small(df: DataFrame, max_rows: int) -> pa.Table | None:
    """``df`` as an Arrow table if it has at most ``max_rows`` rows, else
    None.  One job (``limit(max_rows + 1).toArrow()``) whatever the
    answer, and the driver holds at most ``max_rows + 1`` rows: a caller
    that gets None drops nothing it needs and runs its distributed path,
    which reads ``df`` again."""
    head = df.limit(max_rows + 1).toArrow()
    return head if head.num_rows <= max_rows else None


def file_fingerprint(path: str) -> tuple:
    """Cheap identity of a parquet source, no Spark job: a single file's
    ``((size, mtime_ns),)``, or a directory's ``(name, size, mtime_ns)``
    per ``.parquet`` part file (``os.walk`` order, names sorted within a
    directory).  It changes whenever the data is rewritten.  Raises
    OSError when ``path`` does not exist."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return ((st.st_size, st.st_mtime_ns),)
    parts = []
    for root, _dirs, names in os.walk(path):
        for f in sorted(names):
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(root, f))
                parts.append((f, st.st_size, st.st_mtime_ns))
    return tuple(parts)
