"""Installable plugin surface — parity with the reference's setuptools
registration (reference ``setup.py:10-14``: entry point group
``mkpipe.extractors``, name ``clickhouse``) and its extractor class
(reference ``mkpipe_extractor_clickhouse/__init__.py:17``:
``class ClickhouseExtractor(BaseExtractor, variant='clickhouse')``).

An MkPipe-style core discovers this class via
``importlib.metadata.entry_points(group="mkpipe.extractors")`` after
``pip install``; the ``variant`` class attribute carries the reference's
registration key without requiring the mkpipe base package at import
time.

The class is the remote-source twin of sources/extract.ParquetExtractor:
the same pure decision tree (``plan_window``) decides the window and
write mode, and the window is rendered INTO the pushdown SQL shipped to
ClickHouse (reference ``__init__.py:72-99``) — via the typed
``FilterSpec.to_sql`` renderer rather than raw f-string interpolation.
Reader construction is pure option-plumbing over sources/jdbc.py and is
unit-tested without a live server (tests/test_plugin.py); ``.load()``
requires a reachable ClickHouse, which this container does not ship.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrameReader, SparkSession

from .sources.extract import TableConfig, WriteMode, plan_window
from .sources.filter_spec import FilterSpec, remote_window_query
from .sources.jdbc import ConnectionConfig, JdbcSource


@dataclass
class ExtractPlan:
    """What one extraction tick will ask the remote server to do."""

    reader: DataFrameReader
    write_mode: WriteMode
    window: FilterSpec | None
    sql: str | None  # pushdown SQL, None = plain table read


class ClickhouseSparkExtractor:
    """ClickHouse extractor, Spark-side (reference __init__.py:17-134).

    ``config`` is the reference's connection dict shape
    (reference __init__.py:18-24 / README.md:100-111)::

        {"host": ..., "port": 8123, "database": ...,
         "user": "default", "password": "", "fetchsize": 100000}
    """

    variant = "clickhouse"

    def __init__(self, config: dict):
        self.connection = ConnectionConfig(
            host=config["host"],
            database=config["database"],
            port=int(config.get("port", 8123)),
            user=config.get("user", "default"),
            password=config.get("password", ""),
        )
        self.source = JdbcSource(
            self.connection,
            fetchsize=int(config.get("fetchsize", 100_000)),
            driver=config.get("driver"),
            # optional explicit URL: point the same extractor at any
            # JDBC database (tests: embedded Derby)
            url_override=config.get("jdbc_url"),
        )

    def plan_extract(
        self,
        spark: SparkSession,
        table: TableConfig,
        last_point: str | None = None,
        partitions_column: str | None = None,
        partitions_count: int = 10,
        lower_bound: object | None = None,
        upper_bound: object | None = None,
    ) -> ExtractPlan:
        """Build the (lazy) reader for one tick without contacting the
        server: decision tree → window predicate → pushdown SQL.

        Mirrors the reference's query synthesis (__init__.py:66-99):
        custom queries get the ``{query_filter}`` splice; plain tables
        get ``SELECT * ... WHERE <window>`` so the predicate runs on the
        ClickHouse side, not post-transfer.  Range-partitioned parallel
        reads pass through to Spark's JDBC partitioning options."""
        spec, write_mode = plan_window(table, last_point)
        sql = remote_window_query(
            f"{self.connection.database}.{table.name}", table.custom_query, spec
        )
        if sql is not None:
            reader = self.source.reader(spark, sql, is_query=True)
        else:
            reader = self.source.reader(
                spark,
                table.name,
                partitions_column=partitions_column,
                partitions_count=partitions_count,
                lower_bound=lower_bound,
                upper_bound=upper_bound,
            )
        return ExtractPlan(reader=reader, write_mode=write_mode, window=spec, sql=sql)
