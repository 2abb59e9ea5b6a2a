"""Typed filter-spec builder — the reference's one-and-only "planner".

The reference synthesizes WHERE clauses by f-string interpolation
(reference ``mkpipe_extractor_clickhouse/__init__.py:73-99``): lower
bound inclusive (``>=``), upper bound exclusive (``<``), watermark
``>= last_point``, and int literals unquoted vs datetime literals
quoted. This module reproduces those exact semantics as typed
``pyspark.sql.Column`` expressions — never string SQL — which removes
the injection/quoting hazards flagged in SURVEY §4.3 while keeping
behavioral parity (property-tested in tests/test_filter_spec.py).

``to_sql()`` renders the equivalent ANSI WHERE clause for the
``{query_filter}`` splice path (S3) and for DuckDB oracle SQL.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Literal

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnType = Literal["int", "datetime"]


def _lit(value: object, column_type: ColumnType) -> Column:
    """Typed literal: the Column analogue of the reference's
    quote-iff-datetime rendering (__init__.py:75-83, 88-91)."""
    if column_type == "int":
        return F.lit(int(value))  # type: ignore[arg-type]
    return F.lit(str(value)).cast("timestamp_ntz")


def _sql_lit(value: object, column_type: ColumnType, dialect: str = "spark") -> str:
    if column_type == "int":
        return str(int(value))  # type: ignore[arg-type]
    if dialect == "spark":
        # TIMESTAMP_NTZ: a plain TIMESTAMP literal is LTZ in Spark and
        # would drag the session timezone into NTZ comparisons
        return f"TIMESTAMP_NTZ '{value}'"
    return f"TIMESTAMP '{value}'"


@dataclass(frozen=True)
class FilterSpec:
    """A synthesized extraction predicate on one iterate column.

    Exactly one of three shapes, mirroring the reference's priority
    order (__init__.py:72-94):
      * static bounds — ``lower``/``upper`` set (either optional):
        ``col >= lower AND col < upper`` (half-open)
      * watermark — ``last_point`` set: ``col >= last_point``
      * trivial — nothing set: all rows (``WHERE 1=1``)
    """

    column: str
    column_type: ColumnType = "int"
    lower: object | None = None  # inclusive
    upper: object | None = None  # exclusive
    last_point: object | None = None

    @property
    def is_trivial(self) -> bool:
        return self.lower is None and self.upper is None and self.last_point is None

    def to_column(self) -> Column:
        if self.lower is not None or self.upper is not None:
            cond = F.lit(True)
            if self.lower is not None:
                cond = cond & (F.col(self.column) >= _lit(self.lower, self.column_type))
            if self.upper is not None:
                cond = cond & (F.col(self.column) < _lit(self.upper, self.column_type))
            return cond
        if self.last_point is not None:
            # ``>=`` — NOT ``>`` — for reference parity: the boundary row
            # is re-extracted every run (__init__.py:89) and must be
            # deduplicated at load (see extract.py).
            return F.col(self.column) >= _lit(self.last_point, self.column_type)
        return F.lit(True)

    def to_sql(self, dialect: str = "spark") -> str:
        """Render as a ``WHERE ...`` clause for the {query_filter}
        splice (S3). ``dialect="spark"`` (default — the engine executes
        the splice) emits TIMESTAMP_NTZ literals so NTZ comparisons stay
        timezone-free; ``dialect="ansi"`` emits plain TIMESTAMP for
        engines without the NTZ keyword (DuckDB)."""
        conds: list[str] = []
        if self.lower is not None or self.upper is not None:
            if self.lower is not None:
                conds.append(
                    f"{self.column} >= {_sql_lit(self.lower, self.column_type, dialect)}"
                )
            if self.upper is not None:
                conds.append(
                    f"{self.column} < {_sql_lit(self.upper, self.column_type, dialect)}"
                )
        elif self.last_point is not None:
            conds.append(
                f"{self.column} >= {_sql_lit(self.last_point, self.column_type, dialect)}"
            )
        if not conds:
            return "WHERE 1=1"
        return "WHERE " + " AND ".join(conds)


def splice_query_filter(custom_query: str, spec: FilterSpec | None) -> str:
    """Replace ``{query_filter}`` in user SQL (reference __init__.py:96-99,
    118-119): the spec's WHERE clause, or ``WHERE 1=1`` when absent."""
    clause = spec.to_sql() if spec is not None else "WHERE 1=1"
    return custom_query.replace("{query_filter}", clause)


def remote_window_query(
    relation: str, custom_query: str | None, spec: FilterSpec | None
) -> str | None:
    """The SQL a remote source runs for one extraction window (reference
    __init__.py:66-99): a custom query gets the ``{query_filter}``
    splice; a plain ``relation`` with a non-trivial window gets
    ``SELECT * FROM <relation> WHERE <window>``, so the predicate runs
    server-side, not post-transfer.  None means a plain read of the whole
    relation."""
    if custom_query is not None:
        return splice_query_filter(custom_query, spec)
    if spec is not None and not spec.is_trivial:
        return f"SELECT * FROM {relation} {spec.to_sql(dialect='ansi')}"
    return None
