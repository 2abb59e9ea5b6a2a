"""Pipeline facade: the reference user's YAML surface, Spark-native.

A user of the reference configures pipelines as
``connections:`` + ``pipelines: [{source, destination, tables: [...]}]``
(reference README.md:17-42) with the table parameters of
reference README.md:100-117. This module accepts that exact dict shape
(parse the YAML with any loader — the engine takes plain dicts, keeping
pyyaml out of the dependency set), resolves each table through the
extractor-parity core, and runs the extract→load→commit-state loop.

Connections:
  * ``variant: parquet``   — directory of parquet tables (the fixture
    corpus, or any lake path); executes everything natively in Spark.
  * ``variant: clickhouse`` / ``variant: jdbc`` — remote sources;
    reader construction lives in sources/jdbc.py (connector JARs
    required). run_pipelines rejects these loudly rather than
    misreading a remote config as a local path — wire the JdbcSource
    reader into an extractor when a live server exists.
  * ``variant: clickhouse_http`` — jar-free remote over the public
    HTTP wire, BOTH sides: as a SOURCE it is the reference's
    extract-from-ClickHouse loop (ClickHouseHttpExtractor — window
    predicates render into the POSTed SQL, optional per-task range
    slices); as a DESTINATION it streams per-partition JSONEachRow
    INSERTs (ClickHouseHttpSink). Wire-tested end-to-end against the
    in-process protocol double (x44 / tests/test_ch_http.py).
  * ``variant: manifest`` (destination only) — manifest-committed
    parquet tables (sources/manifest.py).  Its ManifestLoader publishes
    each batch and its watermark in one atomic commit, so there is no
    sidecar ``_state.json``; ``auto_compact_max_dirs`` bounds the batch
    directories a table accretes.

A variant only picks the extractor and the loader.  Every table runs
through the one ``IncrementalRunner``, whose watermark lives in
``<path>/_state.json`` unless the loader's own commits carry it.

Scheduling.  One call is one tick over the selected tables of every
pipeline.  Tables that write the same destination table (destination
path plus ``target_name``) form a *chain*: they run one at a time, in
config order, so their watermarks commit in that order.  Different
chains run at the same time, on one process-wide thread pool of width
``min(chains, sc.defaultParallelism)``.  Each chain runs with the
caller's job group, job tags, description and scheduler pool, so its
Spark jobs are attributed and scheduled as if the caller had submitted
them.  A failing table with ``pass_on_error`` reports status ``error``
and its chain goes on; without it, the failure stops its own chain
only, the other chains finish and commit, and then the first such error
in config order is raised.  Results come back per pipeline, in config
order.
"""

from __future__ import annotations

import functools
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

from .sources.extract import (
    ExtractResult,
    IncrementalRunner,
    ParquetExtractor,
    ParquetLoader,
    TableConfig,
)
from .sources.state import WatermarkStore

_TABLE_FIELDS = {
    "name",
    "target_name",
    "replication_method",
    "iterate_column",
    "iterate_column_type",
    "filter_lower_bound",
    "filter_upper_bound",
    "custom_query",
    "custom_query_file",
    "custom_query_dialect",
    "write_partitions",
    "partitions_column",
    "partitions_count",
    "pass_on_error",
}


def table_config_from_dict(d: dict) -> TableConfig:
    """Accept the reference's table parameter names (README.md:100-117).
    ``tags``/``dedup_keys`` are coerced to tuples;
    ``partitions_column``/``partitions_count`` are per-TABLE (the
    reference's shape) and flow to the remote extractor; other unknown
    keys (fetchsize) are reader tuning handled at the source layer, not
    errors."""
    kwargs = {k: v for k, v in d.items() if k in _TABLE_FIELDS}
    if "dedup_keys" in d:
        kwargs["dedup_keys"] = tuple(d["dedup_keys"])
    if "tags" in d:
        kwargs["tags"] = tuple(d["tags"])
    return TableConfig(**kwargs)


@dataclass
class PipelineResult:
    table: str
    status: str  # extracted | no_new_data | error
    write_mode: str | None = None
    last_point: str | None = None
    error: str | None = None


@dataclass
class Pipeline:
    """One source→destination pipeline over a list of tables."""

    source_dir: str
    dest_dir: str
    tables: list[dict] = field(default_factory=list)
    sql_dir: str | None = None
    loader: object | None = None  # override: any ParquetLoader-contract loader
    extractor: object | None = None  # override: any extract()-contract source

    def runner(self) -> IncrementalRunner:
        os.makedirs(self.dest_dir, exist_ok=True)
        loader = self.loader or ParquetLoader(self.dest_dir)
        return IncrementalRunner(
            extractor=self.extractor
            or ParquetExtractor(self.source_dir, sql_dir=self.sql_dir),
            loader=loader,
            # a loader whose commits carry the watermark (the manifest
            # destination) needs no sidecar state file
            store=None
            if hasattr(loader, "last_point")
            else WatermarkStore(f"{self.dest_dir}/_state.json"),
        )

    def run(
        self, spark: SparkSession, tags: list[str] | None = None
    ) -> list[PipelineResult]:
        """One tick over every table — the MkPipe pipeline semantics,
        including per-table pass_on_error (reference README.md:117) and
        tag-selective execution (reference README.md:116): with ``tags``
        given, only tables carrying at least one of them run.  Tables
        are scheduled as in :func:`run_pipelines`."""
        return _run_tick(spark, [self], tags)[0]


@functools.cache
def _tick_pool(width: int) -> ThreadPoolExecutor:
    """The process-wide pool that runs table chains.  Long-lived on
    purpose: in PySpark's pinned-thread mode every Python thread owns a
    JVM thread, which a per-tick pool would start and stop every tick."""
    return ThreadPoolExecutor(max_workers=width, thread_name_prefix="mkpipe-tick")


def _run_tick(
    spark: SparkSession, pipes: list[Pipeline], tags: list[str] | None
) -> list[list[PipelineResult]]:
    """One tick over the selected tables of ``pipes``; results per
    pipeline, in config order.  Chains, their pool and the error order
    are as the module docstring states.  A table tick is a few small
    Spark jobs, so tables run one after another leave most task slots
    idle."""
    results: list[list[PipelineResult | None]] = [[] for _ in pipes]
    chains: dict[tuple[str, str], list] = {}
    for i, pipe in enumerate(pipes):
        runner = pipe.runner()
        for tdict in pipe.tables:
            if tags is not None and not set(tags) & set(tdict.get("tags", [])):
                continue
            table = table_config_from_dict(tdict)
            slot = (i, len(results[i]))
            results[i].append(None)
            key = (os.path.abspath(pipe.dest_dir), table.target_name)
            chains.setdefault(key, []).append((slot, runner, table))
    errors: dict[tuple[int, int], Exception] = {}

    def run_chain(chain) -> None:
        try:
            for (i, j), runner, table in chain:
                try:
                    res: ExtractResult = runner.run_once(spark, table)
                    results[i][j] = PipelineResult(
                        table=table.target_name,
                        status="no_new_data" if res.no_new_data else "extracted",
                        write_mode=res.write_mode,
                        last_point=res.last_point_value,
                    )
                except Exception as e:  # noqa: BLE001 — pass_on_error contract
                    if not table.pass_on_error:
                        errors[i, j] = e
                        return
                    results[i][j] = PipelineResult(
                        table=table.target_name, status="error", error=str(e)
                    )
        finally:
            # the inherited session tags would outlive the tick on this
            # long-lived thread
            spark.clearTags()

    pool = _tick_pool(spark.sparkContext.defaultParallelism)
    futures = [
        pool.submit(inheritable_thread_target(spark)(run_chain), chain)
        for chain in chains.values()
    ]
    for f in futures:
        f.result()
    if errors:
        raise errors[min(errors)]
    return results


def run_pipelines(
    config: dict, spark: SparkSession, tags: list[str] | None = None
) -> dict[str, list[PipelineResult]]:
    """Execute a full config dict of the reference's YAML shape:
    ``{"connections": {...}, "pipelines": [{name, source, destination,
    tables}]}``. Parquet connections declare ``path``; destinations
    declare ``path`` too.  Every pipeline is checked before any table
    runs; then all their tables run as one tick (see ``_run_tick``)."""
    conns = config.get("connections", {})
    names: list[str] = []
    pipes: list[Pipeline] = []
    for p in config.get("pipelines", []):
        src = conns[p["source"]]
        dst = conns[p["destination"]]
        if "path" not in dst and dst.get("variant") in ("clickhouse_http", "manifest"):
            # An http destination still needs a LOCAL state directory
            # for watermarks.  Never default into the source data dir
            # (two pipelines sharing a source would clobber one state
            # file, and makedirs would pollute the source tree):
            # require an explicit path, namespaced per pipeline.
            raise ValueError(
                f"pipeline {p['name']!r}: {dst.get('variant')} destination "
                "needs an explicit 'path'; "
                "refusing to default into the source data directory"
            )
        custom_loader = None
        if dst.get("variant") == "manifest":
            # lakehouse destination: snapshots + the watermark INSIDE
            # the same atomic commit — no sidecar state file at all
            from .sources.manifest import ManifestLoader

            custom_loader = ManifestLoader(
                dst["path"], auto_compact_max_dirs=dst.get("auto_compact_max_dirs")
            )
        elif dst.get("variant") == "clickhouse_http":
            # jar-free remote destination: rows stream out over the
            # ClickHouse HTTP INSERT protocol, one connection per task
            from .sources.ch_http import ClickHouseHttpLoader, ClickHouseHttpSink

            custom_loader = ClickHouseHttpLoader(
                ClickHouseHttpSink(
                    host=dst["host"],
                    port=int(dst.get("port", 8123)),
                    user=dst.get("user", "default"),
                    password=dst.get("password", ""),
                    database=dst.get("database", "default"),
                )
            )
        custom_extractor = None
        if src.get("variant") == "clickhouse_http":
            # jar-free remote SOURCE: the reference's extract-from-
            # ClickHouse loop over the HTTP wire — incremental window
            # predicates render into the POSTed SQL server-side
            from .sources.ch_http import (
                ClickHouseHttpExtractor,
                ClickHouseHttpSource,
            )

            custom_extractor = ClickHouseHttpExtractor(
                ClickHouseHttpSource(
                    host=src["host"],
                    port=int(src.get("port", 8123)),
                    user=src.get("user", "default"),
                    password=src.get("password", ""),
                    database=src.get("database", "default"),
                ),
                # Connection-level values are DEFAULTS only; the
                # reference defines partitions_column/partitions_count
                # per table, and the extractor resolves table-config
                # values first (then these, then iterate_column),
                # probing MIN/MAX server-side when bounds are absent.
                partition_column=src.get("partitions_column"),
                lower_bound=src.get("lower_bound"),
                upper_bound=src.get("upper_bound"),
                num_partitions=int(src.get("partitions_count", 1)),
            )
        for side, c in (("source", src), ("destination", dst)):
            variant = c.get("variant", "parquet")
            if variant == "clickhouse_http":
                continue
            if variant == "manifest" and side == "destination":
                continue
            if variant != "parquet":
                # Remote variants go through sources/jdbc.py readers and
                # need connector JARs on the classpath — not available
                # (or testable) in this environment, so fail loudly
                # rather than misread a remote config as a local path.
                raise NotImplementedError(
                    f"{side} variant {variant!r}: only 'parquet' connections "
                    "run end-to-end here; build remote readers with "
                    "sources.jdbc.JdbcSource / ClickHouseNativeSource "
                    "(CLICKHOUSE_JAR_PACKAGES lists the required jars)"
                )
        if custom_extractor is None and "path" not in src:
            raise ValueError(
                f"pipeline {p['name']!r}: parquet source needs a 'path'"
            )
        names.append(p["name"])
        pipes.append(
            Pipeline(
                source_dir=src.get("path", ""),
                dest_dir=dst["path"],
                tables=p.get("tables", []),
                sql_dir=p.get("sql_dir"),
                loader=custom_loader,
                extractor=custom_extractor,
            )
        )
    return dict(zip(names, _run_tick(spark, pipes, tags)))
