"""Live-wire integration test for the jar-free ClickHouse HTTP source:
the in-process wire-format double (sources/ch_http_stub.py) executes
the received SQL in DuckDB over the fixture parquet — so everything
except ClickHouse's own SQL engine is the real code path, including
the per-task executor-side HTTP fetches."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from mkpipe_extractor_clickhouse_spark.catalog import load_table
from mkpipe_extractor_clickhouse_spark.sources.ch_http import (
    ClickHouseHttpSource,
    ch_type_to_spark,
)
from mkpipe_extractor_clickhouse_spark.sources.ch_http_stub import (
    STUB_KEY as KEY,
    STUB_USER as USER,
    start_stub,
)

@pytest.fixture(scope="module")
def ch_server(sf_dir):
    store: dict = {}
    server, port, log = start_stub(sf_dir, store=store)
    yield port, log, store
    server.shutdown()


def _source(port: int) -> ClickHouseHttpSource:
    return ClickHouseHttpSource(
        host="127.0.0.1", port=port, user=USER, password=KEY
    )


def test_type_mapping():
    from pyspark.sql import types as T

    assert ch_type_to_spark("Nullable(Int64)") == T.LongType()
    assert ch_type_to_spark("LowCardinality(String)") == T.StringType()
    assert ch_type_to_spark("DateTime64(6)") == T.TimestampNTZType()
    assert ch_type_to_spark("Decimal(28, 6)") == T.DecimalType(28, 6)
    with pytest.raises(ValueError):
        ch_type_to_spark("AggregateFunction(uniq, UInt64)")


def test_full_table_read(spark, sf_dir, ch_server):
    port, _, _store = ch_server
    df = _source(port).load(spark, "nation")
    want = load_table(spark, sf_dir, "nation")
    assert sorted(df.columns) == sorted(want.columns)
    assert df.count() == want.count()


def test_pushdown_query_read(spark, sf_dir, ch_server):
    port, log, _store = ch_server
    n_before = len(log)
    df = _source(port).load(
        spark,
        "SELECT event_type, count(*) AS n FROM events "
        "WHERE value > 100 GROUP BY event_type",
        is_query=True,
    )
    got = {(r.event_type, r.n) for r in df.collect()}
    want = {
        (r.event_type, r.n)
        for r in load_table(spark, sf_dir, "events")
        .filter(F.col("value") > 100)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want
    # the aggregation text reached the server (pushdown, not local agg)
    assert any("GROUP BY event_type" in q for q in log[n_before:])


def test_partitioned_parallel_read(spark, sf_dir, ch_server):
    port, log, _store = ch_server
    n_before = len(log)
    ev = load_table(spark, sf_dir, "events")
    hi = ev.agg(F.max("event_id")).first()[0]
    df = _source(port).load(
        spark,
        "events",
        partition_column="event_id",
        lower_bound=0,
        upper_bound=int(hi),
        num_partitions=4,
    )
    assert df.count() == ev.count()
    # 1 probe + 4 slice fetches, each with its own bounded predicate
    slice_queries = [
        q for q in log[n_before:] if "JSONEachRow" in q and "WHERE" in q
    ]
    assert len(slice_queries) == 4
    assert len({q for q in slice_queries}) == 4  # distinct bounds
    # values round-trip exactly (ts via NTZ parse, doubles via JSON)
    a = {tuple(r) for r in df.select("event_id", "ts", "value").collect()}
    b = {tuple(r) for r in ev.select("event_id", "ts", "value").collect()}
    assert a == b


def test_bad_credentials_fail(spark, ch_server):
    port, _, _store = ch_server
    import urllib.error

    bad = ClickHouseHttpSource(
        host="127.0.0.1", port=port, user="wrong", password="nope"
    )
    with pytest.raises(urllib.error.HTTPError):
        bad.probe_schema("SELECT * FROM nation")


def test_http_sink_roundtrip(spark, sf_dir, ch_server):
    """Distributed INSERT: each partition posts its own JSONEachRow
    batches; reading the table back through the source recovers the
    exact rows."""
    from mkpipe_extractor_clickhouse_spark.sources.ch_http import (
        ClickHouseHttpSink,
    )

    port, log, store = ch_server
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .filter(F.col("event_id") <= 500)
        .repartition(4)
    )
    sink = ClickHouseHttpSink(
        host="127.0.0.1", port=port, user=USER, password=KEY, batch_rows=100
    )
    n = sink.save(ev, "sink_events")
    assert n == ev.count()
    assert len(store["sink_events"]) == n
    # multiple chunked inserts happened (500 rows / batch_rows=100 over
    # 4 partitions → at least 5 POSTs)
    inserts = [q for q in log if q.upper().startswith("INSERT INTO")]
    assert len(inserts) >= 5
    back = _source(port).load(spark, "sink_events")
    got = sorted(
        (r["event_id"], r["user_id"], r["event_type"], float(r["value"]))
        for r in back.collect()
    )
    want = sorted(
        (r["event_id"], r["user_id"], r["event_type"], float(r["value"]))
        for r in ev.collect()
    )
    assert got == want


def test_http_sink_bad_credentials(spark, sf_dir, ch_server):
    from urllib.error import HTTPError

    from mkpipe_extractor_clickhouse_spark.sources.ch_http import (
        ClickHouseHttpSink,
    )

    port, _, _store = ch_server
    ev = load_table(spark, sf_dir, "events").select("event_id").limit(5)
    sink = ClickHouseHttpSink(
        host="127.0.0.1", port=port, user=USER, password="wrong"
    )
    with pytest.raises(Exception) as e:
        sink.save(ev, "nope")
    assert "401" in str(e.value) or isinstance(e.value, HTTPError)


def test_pipeline_clickhouse_http_destination(spark, sf_dir, ch_server, tmp_path):
    """Config-driven pipeline with a clickhouse_http DESTINATION: full
    replication truncates + inserts (re-running does not duplicate),
    and the rows land readable through the source connector."""
    from mkpipe_extractor_clickhouse_spark.pipeline import run_pipelines

    port, log, store = ch_server
    config = {
        "connections": {
            "src": {"variant": "parquet", "path": sf_dir},
            "ch": {
                "variant": "clickhouse_http",
                "host": "127.0.0.1",
                "port": port,
                "user": USER,
                "password": KEY,
                "path": str(tmp_path / "state"),
            },
        },
        "pipelines": [
            {
                "name": "to_ch",
                "source": "src",
                "destination": "ch",
                "tables": [
                    {
                        "name": "nation",
                        "target_name": "nation_out",
                        "replication_method": "full",
                    }
                ],
            }
        ],
    }
    r1 = run_pipelines(config, spark)
    assert r1["to_ch"][0].status == "extracted"
    n = len(store["nation_out"])
    assert n == 25
    # re-run: overwrite truncates first — no duplication
    run_pipelines(config, spark)
    assert len(store["nation_out"]) == n
    back = _source(port).load(spark, "nation_out")
    assert back.count() == 25


def test_http_sink_null_timestamp_preserved(spark, ch_server):
    """NaT must serialize as JSON null in the JSONEachRow body, not the
    literal string "NaT" (round-4 ADVICE fix)."""
    import datetime as dt

    from pyspark.sql import types as T

    from mkpipe_extractor_clickhouse_spark.sources.ch_http import (
        ClickHouseHttpSink,
    )

    port, _log, store = ch_server
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 12, 30, 0)), (2, None)],
        T.StructType(
            [
                T.StructField("id", T.LongType(), False),
                T.StructField("ts", T.TimestampNTZType(), True),
            ]
        ),
    )
    sink = ClickHouseHttpSink(
        host="127.0.0.1", port=port, user=USER, password=KEY
    )
    assert sink.save(df, "ntz_tbl") == 2
    rows = {r["id"]: r["ts"] for r in store["ntz_tbl"]}
    assert rows[2] is None
    assert str(rows[1]).startswith("2024-01-01")


def test_pipeline_http_destination_requires_state_path(spark, sf_dir):
    """A clickhouse_http destination with no 'path' must refuse to run
    rather than silently writing watermark state into the SOURCE data
    directory (round-4 ADVICE fix)."""
    from mkpipe_extractor_clickhouse_spark.pipeline import run_pipelines

    config = {
        "connections": {
            "src": {"variant": "parquet", "path": sf_dir},
            "ch": {
                "variant": "clickhouse_http",
                "host": "127.0.0.1",
                "port": 9,
                "user": USER,
                "password": KEY,
            },
        },
        "pipelines": [
            {
                "name": "no_state_path",
                "source": "src",
                "destination": "ch",
                "tables": [{"name": "events"}],
            }
        ],
    }
    with pytest.raises(ValueError, match="explicit 'path'"):
        run_pipelines(config, spark)


# ---- round 5c: the HTTP SOURCE as a config-driven extractor ---------------


def test_http_extractor_window_pushdown(spark, sf_dir, ch_server):
    """Incremental ticks render the watermark window INTO the POSTed
    SQL (server-side filtering); the >= boundary re-delivery is the
    loader's problem, not the extractor's."""
    from mkpipe_extractor_clickhouse_spark.sources.ch_http import (
        ClickHouseHttpExtractor,
    )
    from mkpipe_extractor_clickhouse_spark.sources.extract import TableConfig

    port, log, _ = ch_server
    ex = ClickHouseHttpExtractor(_source(port))
    t = TableConfig(
        name="events",
        replication_method="incremental",
        iterate_column="event_id",
        iterate_column_type="int",
    )
    res = ex.extract(t, spark)
    assert res.write_mode == "overwrite"
    n0 = res.df.count()
    assert n0 == load_table(spark, sf_dir, "events").count()
    last = res.resolve_last_point()
    res2 = ex.extract(t, spark, last_point=last)
    assert res2.write_mode == "append"
    # inclusive boundary: exactly the watermark row comes back
    assert res2.df.count() == 1
    assert any(f"event_id >= {last}" in q for q in log)


def test_http_extractor_empty_window_is_no_new_data(spark, ch_server, caplog):
    """An empty append window is df=None, with the same structured
    status record the parquet extractor emits."""
    import logging

    from mkpipe_extractor_clickhouse_spark.sources.ch_http import (
        ClickHouseHttpExtractor,
    )
    from mkpipe_extractor_clickhouse_spark.sources.extract import TableConfig

    port, _, _ = ch_server
    ex = ClickHouseHttpExtractor(_source(port))
    t = TableConfig(
        name="events",
        replication_method="incremental",
        iterate_column="event_id",
        iterate_column_type="int",
        custom_query=(
            "SELECT event_id, event_type FROM events {query_filter}"
        ),
    )
    # append tick whose watermark is beyond all data → df=None
    with caplog.at_level(
        logging.INFO, logger="mkpipe_extractor_clickhouse_spark.sources.extract"
    ):
        res = ex.extract(t, spark, last_point="1000000000")
    assert res.df is None and res.write_mode == "append"
    assert {"table": "events", "status": "no_new_data"} in [
        r.msg for r in caplog.records
    ]


def test_http_append_tick_fetches_window_once(spark, sf_dir, ch_server, tmp_path):
    """An append tick of a pipeline with an HTTP source posts the window
    query once, for the write: no empty probe fetches it first (the
    write's observed count decides "no new data").  Only the initial
    load, which must overwrite even when empty, still probes."""
    from mkpipe_extractor_clickhouse_spark.pipeline import run_pipelines

    port, log, _ = ch_server
    config = {
        "connections": {
            "ch": {
                "variant": "clickhouse_http",
                "host": "127.0.0.1",
                "port": port,
                "user": USER,
                "password": KEY,
            },
            "lake": {"variant": "parquet", "path": str(tmp_path / "lake")},
        },
        "pipelines": [
            {
                "name": "p",
                "source": "ch",
                "destination": "lake",
                "tables": [
                    {
                        "name": "events",
                        "replication_method": "incremental",
                        "iterate_column": "event_id",
                        "iterate_column_type": "int",
                        "dedup_keys": ["event_id"],
                    }
                ],
            }
        ],
    }

    def fetches(since: int) -> list[str]:
        return [q for q in log[since:] if q.endswith("FORMAT JSONEachRow")]

    before = len(log)
    assert run_pipelines(config, spark)["p"][0].status == "extracted"
    assert len(fetches(before)) == 2  # the initial load's probe and write
    before = len(log)
    res = run_pipelines(config, spark)["p"][0]
    assert (res.status, res.write_mode) == ("extracted", "append")
    (fetch,) = fetches(before)
    assert f"event_id >= {res.last_point}" in fetch
    n_src = load_table(spark, sf_dir, "events").count()
    assert spark.read.parquet(f"{tmp_path}/lake/events.parquet").count() == n_src


def test_http_extractor_partitioned_slices(spark, sf_dir, ch_server):
    """Range partitioning hands each Spark task its own slice SELECT."""
    from mkpipe_extractor_clickhouse_spark.sources.ch_http import (
        ClickHouseHttpExtractor,
    )
    from mkpipe_extractor_clickhouse_spark.sources.extract import TableConfig

    port, log, _ = ch_server
    before = len(log)
    hi = (
        load_table(spark, sf_dir, "events")
        .agg(F.max("event_id"))
        .collect()[0][0]
    )
    ex = ClickHouseHttpExtractor(
        _source(port),
        partition_column="event_id",
        lower_bound=0,
        upper_bound=int(hi),
        num_partitions=3,
    )
    t = TableConfig(name="events", replication_method="full")
    res = ex.extract(t, spark)
    assert res.df.count() == load_table(spark, sf_dir, "events").count()
    slices = {q for q in log[before:] if "__t WHERE event_id" in q}
    assert len(slices) == 3
    # JDBC stride semantics: outer edges unbounded, NULLs caught
    assert any("IS NULL" in q for q in slices)
    assert not all(">=" in q for q in slices)


def test_http_extractor_per_table_partitions_autobounds(
    spark, sf_dir, ch_server
):
    """The reference defines partitions_column/partitions_count per
    TABLE, and derives bounds when not configured: a reference-shaped
    table config must slice the fetch (not silently degrade to one
    slice) with bounds probed via a server-side MIN/MAX — never a
    ValueError for missing connection-level bounds."""
    from mkpipe_extractor_clickhouse_spark.sources.ch_http import (
        ClickHouseHttpExtractor,
    )
    from mkpipe_extractor_clickhouse_spark.sources.extract import TableConfig

    port, log, _ = ch_server
    before = len(log)
    ex = ClickHouseHttpExtractor(_source(port))  # no connection-level config
    t = TableConfig(
        name="events",
        replication_method="full",
        partitions_column="event_id",
        partitions_count=4,
    )
    res = ex.extract(t, spark)
    assert res.df.count() == load_table(spark, sf_dir, "events").count()
    new = log[before:]
    assert any("MIN(event_id)" in q and "MAX(event_id)" in q for q in new)
    slices = {q for q in new if "__t WHERE event_id" in q}
    assert len(slices) == 4


def test_http_extractor_partitions_fall_back_to_iterate_column(
    spark, sf_dir, ch_server
):
    """partitions_count without a column falls back to iterate_column
    (the reference's behavior)."""
    from mkpipe_extractor_clickhouse_spark.sources.ch_http import (
        ClickHouseHttpExtractor,
    )
    from mkpipe_extractor_clickhouse_spark.sources.extract import TableConfig

    port, log, _ = ch_server
    before = len(log)
    ex = ClickHouseHttpExtractor(_source(port))
    t = TableConfig(
        name="events",
        replication_method="incremental",
        iterate_column="event_id",
        iterate_column_type="int",
        partitions_count=2,
    )
    res = ex.extract(t, spark)
    assert res.df.count() == load_table(spark, sf_dir, "events").count()
    slices = {q for q in log[before:] if "__t WHERE event_id" in q}
    assert len(slices) == 2


def test_http_extractor_rejects_source_filter(spark, ch_server):
    from mkpipe_extractor_clickhouse_spark.sources.ch_http import (
        ClickHouseHttpExtractor,
    )
    from mkpipe_extractor_clickhouse_spark.sources.extract import TableConfig

    port, _, _ = ch_server
    ex = ClickHouseHttpExtractor(_source(port))
    with pytest.raises(ValueError, match="remote source"):
        ex.extract(
            TableConfig(name="events", replication_method="full"),
            spark,
            source_filter="1=1",
        )


def test_http_load_stale_bounds_lose_no_rows(spark, sf_dir, ch_server):
    """Bounds STRIDE the range, they don't filter it (Spark-JDBC
    semantics): a load() with bounds far narrower than the data must
    still return every row — the edge slices are unbounded."""
    port, _, _ = ch_server
    ev = load_table(spark, sf_dir, "events")
    df = _source(port).load(
        spark,
        "events",
        partition_column="event_id",
        lower_bound=100,
        upper_bound=120,  # covers ~nothing; rows live far outside
        num_partitions=4,
    )
    assert df.count() == ev.count()


def test_http_extractor_table_column_ignores_connection_bounds(
    spark, sf_dir, ch_server
):
    """Connection-level bounds belong to the CONNECTION's partition
    column; when a per-table partitions_column resolves a DIFFERENT
    column, the extractor must probe fresh MIN/MAX bounds for THAT
    column instead of striding the wrong value range — and must never
    lose rows either way."""
    from mkpipe_extractor_clickhouse_spark.sources.ch_http import (
        ClickHouseHttpExtractor,
    )
    from mkpipe_extractor_clickhouse_spark.sources.extract import TableConfig

    port, log, _ = ch_server
    before = len(log)
    ex = ClickHouseHttpExtractor(
        _source(port),
        partition_column="user_id",
        lower_bound=1,
        upper_bound=3,  # sane for user_id, nonsense for event_id
        num_partitions=4,
    )
    t = TableConfig(
        name="events",
        replication_method="full",
        partitions_column="event_id",
        partitions_count=4,
    )
    res = ex.extract(t, spark)
    assert res.df.count() == load_table(spark, sf_dir, "events").count()
    new = log[before:]
    # fresh probe on the TABLE's column, and slices stride event_id
    assert any("MIN(event_id)" in q and "MAX(event_id)" in q for q in new)
    slices = {q for q in new if "__t WHERE event_id" in q}
    assert len(slices) == 4
    # no slice strided the connection column
    assert not any("__t WHERE user_id" in q for q in new)


def test_http_extractor_datetime_iterate_fallback_degrades(
    spark, sf_dir, ch_server
):
    """partitions_count with only a DATETIME iterate_column cannot
    integer-stride: it must degrade to a single-slice fetch (full
    rows back), never crash on int(datetime)."""
    from mkpipe_extractor_clickhouse_spark.sources.ch_http import (
        ClickHouseHttpExtractor,
    )
    from mkpipe_extractor_clickhouse_spark.sources.extract import TableConfig

    port, log, _ = ch_server
    before = len(log)
    ex = ClickHouseHttpExtractor(_source(port))
    t = TableConfig(
        name="events",
        replication_method="full",
        iterate_column="ts",
        iterate_column_type="datetime",
        partitions_count=3,
    )
    res = ex.extract(t, spark)
    assert res.df.count() == load_table(spark, sf_dir, "events").count()
    assert not any("__t WHERE ts" in q for q in log[before:])
