"""Extractor-parity core: the reference's replication semantics, Spark-first.

Reproduces the full decision tree of the reference ``extract()``
(reference ``mkpipe_extractor_clickhouse/__init__.py:56-134``):

  * full replication → overwrite, no filter (``:116-123``)
  * incremental + static bounds → append, half-open range (``:72-85``)
  * incremental + last_point → append, ``col >= last_point`` (``:86-91``)
  * incremental initial → overwrite, trivial filter (``:92-94``)
  * custom query with ``{query_filter}`` splice (``:96-99, 118-120``)
  * empty-source probe: empty+initial → empty df/overwrite; empty+append
    → df=None "no new data" (``:103-108``)
  * watermark = stringified max(iterate_column) (``:110-115``)

One tick path, shared by every source and destination:

  * :func:`plan_window` decides the window and write mode (the JDBC
    plugin surface uses it too);
  * each extractor only reads its source for that window, then hands
    the batch to :func:`finish_extract` — the status records, the empty
    probe where one is still needed, and the observed row count and
    watermark (this parquet extractor, and the ClickHouse HTTP one in
    ``ch_http.py``);
  * each file destination runs :func:`prepare_batch` — the
    boundary-bounded dedup and the file-count control — before its own
    write (``ParquetLoader`` here, ``ManifestLoader`` in
    ``manifest.py``);
  * :class:`IncrementalRunner` runs extract → load → commit, with the
    watermark in a sidecar store or in the destination's own commits.

Differences (deliberate fixes, SURVEY §4 caveats — *behavior* preserved,
costs removed):
  * predicates are typed Column expressions pushed into the parquet/JDBC
    scan by Catalyst, not interpolated SQL strings;
  * the watermark ``max(iterate_column)`` and the batch's row count
    are ``observe()`` metrics computed by the write's own tasks — the
    reference re-executes the source query for the probe and again for
    the watermark (``:103, :112``), i.e. up to three scans per tick.
    Under :class:`IncrementalRunner` an append is one scan: the write's
    observed count decides "no new data", so no probe runs.  The
    take(1) probe stays on the initial overwrite (an empty source still
    overwrites) and for callers that only extract, which get the
    reference's df=None handoff;
  * the loader dedups the ``>=`` boundary re-read on append via a
    key-based anti-join, making incremental runs idempotent (the
    reference leaves boundary duplicates to the destination); the
    existing-keys read is bounded to the extraction window, so the
    anti-join build side stays O(boundary) at any destination size.
"""

from __future__ import annotations

import contextvars
import logging
import os
import threading
from dataclasses import dataclass
from typing import Literal

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.errors import AnalysisException

from ..catalog import SCHEMAS, load_table, register_views
from .filter_spec import FilterSpec, splice_query_filter
from .state import WatermarkStore

WriteMode = Literal["overwrite", "append"]

logger = logging.getLogger(__name__)

# Temp views belong to the whole session, and a view name resolves when
# spark.sql analyses the query: concurrent custom queries over different
# source directories must not see each other's registrations between the
# two, so registration and analysis happen under this one lock.
_VIEWS_LOCK = threading.Lock()

# True while an IncrementalRunner extracts: its loader writes every
# batch, so an append needs no empty probe (the write's observed row
# count decides).  A context variable, so concurrent table chains and
# extract-only callers each see their own value.
_RUNNER_TICK: contextvars.ContextVar[bool] = contextvars.ContextVar(
    "runner_tick", default=False
)


@dataclass
class TableConfig:
    """Mirror of the reference's table config surface
    (reference README.md:100-117)."""

    name: str
    target_name: str | None = None
    replication_method: Literal["full", "incremental"] = "full"
    iterate_column: str | None = None
    iterate_column_type: Literal["int", "datetime"] = "int"
    filter_lower_bound: object | None = None
    filter_upper_bound: object | None = None
    custom_query: str | None = None
    custom_query_file: str | None = None
    # "clickhouse" translates the custom query's ClickHouse dialect to
    # Spark SQL (sources/ch_dialect.py) before execution — the porting
    # path for queries written against the reference's passthrough.
    custom_query_dialect: Literal["spark", "clickhouse"] = "spark"
    write_partitions: int | None = None
    # Per-TABLE parallel-read slicing (reference README "All Table
    # Parameters": partitions_column / partitions_count are table-level,
    # not connection-level). Remote extractors read these first and fall
    # back to connection defaults, then to iterate_column.
    partitions_column: str | None = None
    partitions_count: int | None = None
    partition_columns: tuple[str, ...] = ()  # destination partitionBy
    dedup_keys: tuple[str, ...] = ()  # idempotent-append keys
    # columns whose per-batch min/max land in manifest zone maps (the
    # ManifestLoader destination only; plain parquet loaders ignore it)
    stats_columns: tuple[str, ...] = ()
    tags: tuple[str, ...] = ()  # selective execution (reference README.md:116)
    pass_on_error: bool = False

    def __post_init__(self) -> None:
        if self.target_name is None:
            self.target_name = self.name


@dataclass
class ExtractResult:
    """Handoff contract from :func:`finish_extract` to the loader
    (reference __init__.py:132-134): df=None means "no new data, skip
    the write".

    ``window`` is the extraction predicate the batch satisfies; the
    loader uses it to bound the idempotent-append anti-join to the
    watermark boundary instead of scanning every historical key.

    ``observation`` carries the batch's row count and, when the batch
    projects the iterate column, the watermark ``max`` as ``df.observe()``
    metrics riding the batch's FIRST action (normally the loader's
    write): the reference pays a dedicated ``max(iterate_column)`` scan
    per tick (__init__.py:112) — at a 100 TB source that is a second
    full read — whereas the observed metrics are computed by the same
    tasks that write the data, for free.  Whoever commits the watermark
    calls :meth:`resolve_last_point` after the batch is materialized:
    :class:`IncrementalRunner` for a sidecar store, the loader itself
    when its commit carries it.  A batch whose write observed 0 rows is
    :attr:`no_new_data` and never moves the watermark."""

    df: DataFrame | None
    write_mode: WriteMode
    last_point_value: str | None = None
    window: FilterSpec | None = None
    observation: Observation | None = None
    iterate_column: str | None = None  # observed max, for the fallback
    rows: int | None = None  # observed row count, once resolved

    def resolve_last_point(self) -> str | None:
        """Stringified watermark (reference __init__.py:113-115)."""
        self._resolve()
        return self.last_point_value

    @property
    def no_new_data(self) -> bool:
        """The probed df=None handoff, or an observed count of 0: the
        append a runner tick runs without a probe lets its write decide."""
        if self.df is None:
            return True
        self._resolve()
        return self.rows == 0

    def _resolve(self) -> None:
        """Read the observed metrics into ``rows`` and
        ``last_point_value``.

        Zero-cost when an action already ran on ``df`` (the observation
        captured the metrics during it). For extract-only callers that
        never materialized the batch, this triggers the one dedicated
        scan the reference always pays — detected via the JVM
        observation's non-blocking probe, so it never deadlocks waiting
        for an action that will not come."""
        if self.observation is None or self.rows is not None:
            return
        try:
            # Non-blocking probe via the JVM observation. getRowOrEmpty
            # is private[sql] Scala — present in the pinned Spark 4.1.2
            # but not public API, so guard it: a pyspark upgrade or a
            # Connect session must degrade to the dedicated aggregate
            # the reference always pays (__init__.py:112), not crash.
            jo = self.observation._jo
            pending = jo is not None and not jo.getRowOrEmpty().isDefined()
        except Exception:
            metrics = self.df.agg(*_observed(self.iterate_column)).first().asDict()
        else:
            if pending:
                self.df.count()
            metrics = self.observation.get
        self.rows = metrics["rows"]
        if "max_val" in metrics:
            val = metrics["max_val"]
            self.last_point_value = str(val) if val is not None else None
        if self.rows == 0:
            self.last_point_value = None


def _observed(iterate_column: str | None) -> list:
    """The batch metrics :func:`finish_extract` observes: the row count,
    and the watermark max when the batch projects the iterate column."""
    metrics = [F.count(F.lit(1)).alias("rows")]
    if iterate_column is not None:
        metrics.append(F.max(iterate_column).alias("max_val"))
    return metrics


def plan_window(
    table: TableConfig, last_point: str | None
) -> tuple[FilterSpec | None, WriteMode]:
    """The pure extraction decision tree (reference __init__.py:56-94),
    shared by the fixture extractor and the JDBC plugin surface
    (plugin.py): returns the window predicate (None = full replication)
    and the write mode.

      * incremental + static bounds → append, half-open range
      * incremental + last_point   → append, ``col >= last_point``
      * incremental initial        → overwrite, trivial filter
      * full                       → overwrite, no filter
    """
    if table.replication_method == "incremental" and table.iterate_column:
        has_static_bounds = (
            table.filter_lower_bound is not None
            or table.filter_upper_bound is not None
        )
        if has_static_bounds:
            return (
                FilterSpec(
                    column=table.iterate_column,
                    column_type=table.iterate_column_type,
                    lower=table.filter_lower_bound,
                    upper=table.filter_upper_bound,
                ),
                "append",
            )
        if last_point:
            return (
                FilterSpec(
                    column=table.iterate_column,
                    column_type=table.iterate_column_type,
                    last_point=last_point,
                ),
                "append",
            )
        return FilterSpec(column=table.iterate_column), "overwrite"
    return None, "overwrite"


class ParquetExtractor:
    """The engine's native extractor over the fixture catalog.

    ``source_filter`` lets tests simulate "data arriving over time" by
    constraining what the source can see (FIXTURES.md incremental
    protocol).
    """

    def __init__(self, sf_dir: str, sql_dir: str | None = None):
        self.sf_dir = sf_dir
        self.sql_dir = sql_dir

    def _resolve_custom_query(self, table: TableConfig) -> str | None:
        # reference __init__.py:45-54
        sql = None
        if table.custom_query:
            sql = table.custom_query
        elif table.custom_query_file:
            base = self.sql_dir or os.path.join(os.getcwd(), "sql")
            with open(os.path.join(base, table.custom_query_file)) as f:
                sql = f.read()
        if sql is not None and table.custom_query_dialect == "clickhouse":
            from .ch_dialect import translate

            # dedup_keys + iterate_column double as the ReplacingMergeTree
            # (key, version) contract, letting `FROM t FINAL` translate.
            sql = translate(
                sql,
                final_dedup_keys=table.dedup_keys,
                final_order_col=table.iterate_column,
            )
        return sql

    def _read_source(
        self,
        spark: SparkSession,
        table: TableConfig,
        spec: FilterSpec | None,
        custom_query: str | None,
        source_filter=None,
    ) -> DataFrame:
        """``source_filter`` constrains what the SOURCE can see (the
        FIXTURES.md arrival-simulation protocol) — for custom queries it
        is applied to the source table's view *before* the user SQL
        runs, since the query result need not carry the filter column."""
        if custom_query is not None:
            # S3: the user's SQL runs *natively in Spark* over registered
            # views — this is the reference's ClickHouse-passthrough path
            # (__init__.py:96-101) turned into real query execution.
            # Register only the tables the query text mentions (plus the
            # source table) — not the whole catalog on every tick.
            import re

            # Spark SQL resolves identifiers case-insensitively, so the
            # mention scan must too ('FROM Orders' still needs the view).
            mentioned = [
                t
                for t in SCHEMAS
                if t == table.name
                or re.search(rf"\b{t}\b", custom_query, re.IGNORECASE)
            ]
            spliced = splice_query_filter(custom_query, spec)
            with _VIEWS_LOCK:
                register_views(spark, self.sf_dir, mentioned)
                if source_filter is not None:
                    load_table(spark, self.sf_dir, table.name).filter(
                        source_filter
                    ).createOrReplaceTempView(table.name)
                try:
                    return spark.sql(spliced)
                except AnalysisException:
                    # Quoted/exotic identifiers can defeat the mention
                    # scan; register the whole catalog (cheap, lazy
                    # metadata) and retry before surfacing a resolution
                    # error.
                    register_views(
                        spark,
                        self.sf_dir,
                        [t for t in SCHEMAS if t not in mentioned],
                    )
                    return spark.sql(spliced)
        df = load_table(spark, self.sf_dir, table.name)
        if spec is not None and not spec.is_trivial:
            df = df.filter(spec.to_column())
        if source_filter is not None:
            df = df.filter(source_filter)
        return df

    def extract(
        self,
        table: TableConfig,
        spark: SparkSession,
        last_point: str | None = None,
        source_filter=None,
    ) -> ExtractResult:
        custom_query = self._resolve_custom_query(table)
        spec, write_mode = plan_window(table, last_point)
        df = self._read_source(spark, table, spec, custom_query, source_filter)
        # The watermark fallback must see the SAME source constraint as
        # the extraction, or it would advance past rows the source never
        # delivered and silently skip them forever.
        return finish_extract(
            df,
            table,
            spec,
            write_mode,
            lambda: self._read_source(
                spark, table, spec, None, source_filter
            ).agg(F.max(table.iterate_column).alias("max_val")),
        )


def finish_extract(
    df: DataFrame,
    table: TableConfig,
    spec: FilterSpec | None,
    write_mode: WriteMode,
    base_max,
) -> ExtractResult:
    """The tail every extractor shares (reference __init__.py:59-65,
    103-134): the status records, the empty probe and the watermark.
    ``df`` is the batch read for the window ``spec`` that
    :func:`plan_window` chose; ``base_max()`` returns the one-row
    ``max_val`` relation over the un-projected source window, for a
    batch that does not carry the iterate column.

      * full replication (no spec) → overwrite, no probe, no watermark;
      * empty + initial → the empty df, overwrite; empty + append →
        df=None "no new data" — except inside an
        :class:`IncrementalRunner` tick, where an append runs no probe:
        the write's observed row count decides (see
        :attr:`ExtractResult.no_new_data`);
      * otherwise the watermark rides the batch's first action as an
        observed ``max`` (see :class:`ExtractResult`), or comes from one
        ``base_max()`` row when the batch does not project the column.
    """
    # structured-dict log records, reference __init__.py:59-65
    logger.info(
        {
            "table": table.target_name,
            "status": "extracting",
            "replication_method": table.replication_method,
        }
    )
    if spec is None:
        return ExtractResult(df, "overwrite", None)
    if write_mode == "overwrite" or not _RUNNER_TICK.get():
        # Empty probe on the un-observed lineage: take(1) touches
        # minimal input, and must NOT be the observation's first action
        # (the observed metrics would then cover one partial scan
        # instead of the whole batch).
        if df.isEmpty():
            if write_mode == "overwrite":
                # reference __init__.py:105
                logger.info(
                    {"table": table.target_name, "status": "empty_source_initial_load"}
                )
                return ExtractResult(df=df, write_mode=write_mode, window=spec)
            logger.info({"table": table.target_name, "status": "no_new_data"})
            return ExtractResult(df=None, write_mode=write_mode, window=spec)
        # reference __init__.py:125-131
        logger.info(
            {"table": table.target_name, "status": "extracted", "write_mode": write_mode}
        )
    column = table.iterate_column if table.iterate_column in df.columns else None
    obs = Observation()
    df = df.observe(obs, *_observed(column))
    last_point_value = None
    if column is None:
        # The reference aggregates max(iterate_column) over the query
        # *result* (__init__.py:112) and therefore breaks when a custom
        # query does not project the iterate column; the caller's
        # ``base_max`` reads the source window instead.
        row = base_max().first()
        if row and row["max_val"] is not None:
            last_point_value = str(row["max_val"])
    return ExtractResult(
        df,
        write_mode,
        last_point_value,
        window=spec,
        observation=obs,
        iterate_column=column,
    )


def apply_write_partitions(df: DataFrame, n: int) -> DataFrame:
    """Output-file-count control (reference README.md:114).

    ``coalesce`` when shrinking — it merges partitions without a
    shuffle, matching the reference's semantics and cost; ``repartition``
    only when scaling UP, where a shuffle is unavoidable because
    coalesce cannot split partitions."""
    current = df.rdd.getNumPartitions()
    if n <= current:
        return df.coalesce(n)
    return df.repartition(n)


class ParquetLoader:
    """Destination side of the reference's ExtractResult contract:
    overwrite/append parquet writes (reference delegates this to the
    MkPipe loader; write modes at __init__.py:85-93, 116-117)."""

    def __init__(self, dest_dir: str):
        self.dest_dir = dest_dir

    def path(self, table: TableConfig) -> str:
        return os.path.join(self.dest_dir, f"{table.target_name}.parquet")

    def read(self, spark: SparkSession, table: TableConfig) -> DataFrame:
        """Destination read that survives schema evolution: appended
        batches may carry columns earlier batches lack (a source ALTER
        TABLE mid-stream — the reference passes whatever schema the
        connector returns, __init__.py:26-43). A plain parquet read
        adopts one footer's schema and silently drops the others'
        extra columns; ``mergeSchema`` unions footers instead, so new
        columns appear null-filled on pre-evolution rows. Footer
        merging is a driver-side metadata operation (one footer per
        file, not a data scan), so this stays cheap even on large
        destinations."""
        return spark.read.option("mergeSchema", "true").parquet(self.path(table))

    def load(self, spark: SparkSession, table: TableConfig, result: ExtractResult) -> None:
        if result.df is None:
            return  # no_new_data (__init__.py:107-108)
        path = self.path(table)
        before = set(data_files(path)) if result.write_mode == "append" else set()
        df = prepare_batch(
            result,
            table,
            lambda schema: spark.read.schema(schema).parquet(path) if before else None,
        )
        writer = df.write.mode(result.write_mode)
        if table.partition_columns:
            # Hive-style destination layout: boundary-bounded dedup reads
            # and downstream range queries prune whole directories.
            writer = writer.partitionBy(*table.partition_columns)
        writer.parquet(path)
        drop_empty_files(
            [f for f in data_files(path) if f not in before], keep_one=not before
        )


def prepare_batch(result: ExtractResult, table: TableConfig, read_dest) -> DataFrame:
    """The batch prelude every file destination shares: the
    idempotent-append dedup, then the output-file-count control.

    Idempotent-append dedup absorbs the ``>=`` boundary re-read
    (SURVEY §4.2).  Duplicates can only exist where the destination
    overlaps the extraction window — previous ticks wrote rows with
    iterate_column <= last_point, the batch carries >= last_point — so
    the destination read is bounded to the window predicate
    (:func:`bound_to_window`): the anti-join build side is O(boundary),
    not O(history), and the filter prunes whole directories when the
    destination is partitioned by the iterate column
    (``partition_columns``) and row groups otherwise (parquet min/max
    pushdown).

    ``read_dest(schema)`` is the loader's own read of its destination
    with the declared :func:`boundary_schema`, so Spark runs no
    footer-inference job; it returns None while the destination holds
    no data."""
    df = result.df
    if result.write_mode == "append" and table.dedup_keys:
        existing = read_dest(boundary_schema(df, table, result.window))
        if existing is not None:
            df = df.join(
                bound_to_window(existing, table, result.window),
                on=list(table.dedup_keys),
                how="left_anti",
            )
    if table.write_partitions:
        df = apply_write_partitions(df, table.write_partitions)
    return df


def boundary_schema(
    batch: DataFrame, table: TableConfig, window: FilterSpec | None
) -> T.StructType:
    """Schema of a destination's boundary read: the dedup keys, plus the
    window column when the batch has it, typed as the batch types them.
    Declaring it spares Spark the footer-inference job an undeclared
    ``spark.read.parquet`` runs on every append; destination files that
    predate a column read it as null, as a merged-schema read would."""
    fields = {f.name.lower(): f for f in batch.schema.fields}
    names = [k.lower() for k in table.dedup_keys]
    if (
        window is not None
        and not window.is_trivial
        and window.column.lower() in fields
        and window.column.lower() not in names
    ):
        names.append(window.column.lower())
    return T.StructType([fields[n] for n in names])


def bound_to_window(
    existing: DataFrame, table: TableConfig, window: FilterSpec | None
) -> DataFrame:
    """The dedup keys of the destination rows inside the extraction
    window (see :func:`prepare_batch`)."""
    if (
        window is not None
        and not window.is_trivial
        and window.column in existing.columns
    ):
        existing = existing.filter(window.to_column())
    return existing.select(*table.dedup_keys)


def data_files(root: str) -> list[str]:
    """Parquet data files under ``root``, recursively (hive-partitioned
    layouts keep theirs in key=value subdirectories), skipping the
    ``_``/``.``-prefixed names Spark's file index skips."""
    return sorted(
        os.path.join(d, n)
        for d, _dirs, names in os.walk(root)
        for n in names
        if n.endswith(".parquet") and not n.startswith(("_", "."))
    )


def drop_empty_files(written: list[str], keep_one: bool) -> None:
    """Delete the 0-row files among ``written``.  A write leaves one
    whenever its first task has no rows (a boundary re-read the anti-join
    absorbed entirely, or one empty input split); every later read would
    list and open it.  Row counts come from the parquet footers, a
    driver-side metadata read with no Spark job.  With ``keep_one``, a
    write that landed no rows at all keeps one file, the only carrier of
    the table's schema."""
    import pyarrow.parquet as pq

    empty = [f for f in written if pq.read_metadata(f).num_rows == 0]
    if keep_one and len(empty) == len(written):
        empty = empty[1:]
    for f in empty:
        os.unlink(f)
        crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.unlink(crc)


@dataclass
class IncrementalRunner:
    """The one extract → load → commit loop (one MkPipe "pipeline"
    tick), for every extractor and every destination.

    An append batch reaches the loader un-probed (see
    :func:`finish_extract`): the loaders write a 0-row batch as no file
    and no commit, and :attr:`ExtractResult.no_new_data` reads the
    write's observed count.

    The watermark lives in one of two places:

      * ``store`` given: a sidecar :class:`WatermarkStore`, committed
        after a successful write.  Appends are idempotent via
        dedup_keys, so a crash between write and commit re-extracts the
        same window without duplicating rows.
      * ``store`` None: the loader's own commits (``loader.last_point``,
        the manifest destination).  Its atomic publish carries data and
        watermark together, so there is no crash window at all.
    """

    extractor: ParquetExtractor
    loader: ParquetLoader
    store: WatermarkStore | None = None

    def run_once(
        self, spark: SparkSession, table: TableConfig, source_filter=None
    ) -> ExtractResult:
        if self.store is None:
            last_point = self.loader.last_point(table)
        else:
            last_point = self.store.get(table.target_name)
        tick = _RUNNER_TICK.set(True)
        try:
            result = self.extractor.extract(
                table, spark, last_point=last_point, source_filter=source_filter
            )
        finally:
            _RUNNER_TICK.reset(tick)
        self.loader.load(spark, table, result)
        if result.write_mode == "append" and result.df is not None:
            # no probe ran: the write's observed count decides
            # (reference __init__.py:107, 125-131)
            record = {"table": table.target_name, "status": "no_new_data"}
            if not result.no_new_data:
                record.update(status="extracted", write_mode="append")
            logger.info(record)
        if self.store is not None:
            # The write above was the observation's action — resolving
            # the watermark here reads the captured metric, no extra scan.
            last_point = result.resolve_last_point()
            if last_point is not None:
                self.store.set(table.target_name, last_point)
        return result
