"""Pipeline facade tests: the reference's YAML config shape runs
end-to-end (reference README.md:17-42 surface)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mkpipe_extractor_clickhouse_spark.pipeline import (
    Pipeline,
    run_pipelines,
    table_config_from_dict,
)


def test_config_dict_pipeline(spark, sf_dir, tmp_path):
    config = {
        "connections": {
            "lake_source": {"variant": "parquet", "path": sf_dir},
            "warehouse": {"variant": "parquet", "path": str(tmp_path / "wh")},
        },
        "pipelines": [
            {
                "name": "lake_to_wh",
                "source": "lake_source",
                "destination": "warehouse",
                "tables": [
                    {"name": "nation", "target_name": "stg_nation"},
                    {
                        "name": "events",
                        "target_name": "stg_events",
                        "replication_method": "incremental",
                        "iterate_column": "event_id",
                        "iterate_column_type": "int",
                        "dedup_keys": ["event_id"],
                    },
                    {
                        "name": "events",
                        "target_name": "agg_events",
                        "replication_method": "full",
                        "custom_query": (
                            "SELECT event_type, COUNT(*) AS n FROM events "
                            "{query_filter} GROUP BY event_type"
                        ),
                    },
                ],
            }
        ],
    }
    results = run_pipelines(config, spark)["lake_to_wh"]
    assert [r.status for r in results] == ["extracted"] * 3
    assert results[0].write_mode == "overwrite"
    assert results[1].write_mode == "overwrite"  # initial incremental load
    assert results[1].last_point is not None

    wh = str(tmp_path / "wh")
    assert spark.read.parquet(f"{wh}/stg_nation.parquet").count() == 25
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert spark.read.parquet(f"{wh}/stg_events.parquet").count() == n_events
    agg = spark.read.parquet(f"{wh}/agg_events.parquet")
    assert set(agg.columns) == {"event_type", "n"}

    # second tick: incremental sees no new data beyond the boundary row
    results2 = run_pipelines(config, spark)["lake_to_wh"]
    assert results2[1].status == "extracted"  # boundary >= re-read
    assert (
        spark.read.parquet(f"{wh}/stg_events.parquet").count() == n_events
    )  # idempotent via dedup_keys


def test_pass_on_error(spark, sf_dir, tmp_path):
    pipe = Pipeline(
        source_dir=sf_dir,
        dest_dir=str(tmp_path),
        tables=[
            {"name": "nonexistent_table", "pass_on_error": True},
            {"name": "region"},
        ],
    )
    results = pipe.run(spark)
    assert results[0].status == "error"
    assert results[1].status == "extracted"
    assert spark.read.parquet(f"{tmp_path}/region.parquet").count() == 5


def test_tag_selective_execution(spark, sf_dir, tmp_path):
    """reference README.md:116: tags select which tables a run touches."""
    pipe = Pipeline(
        source_dir=sf_dir,
        dest_dir=str(tmp_path),
        tables=[
            {"name": "region", "tags": ["dims"]},
            {"name": "nation", "tags": ["dims", "geo"]},
            {"name": "supplier", "tags": ["facts"]},
        ],
    )
    results = pipe.run(spark, tags=["dims"])
    assert [r.table for r in results] == ["region", "nation"]
    results_all = pipe.run(spark)  # no tags → everything
    assert len(results_all) == 3


def test_cli_main(sf_dir, tmp_path):
    """python -m mkpipe_extractor_clickhouse_spark <config.json> runs a
    pipeline end-to-end and reports per-table JSON lines."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    config = {
        "connections": {
            "src": {"variant": "parquet", "path": sf_dir},
            "dst": {"variant": "parquet", "path": str(tmp_path / "out")},
        },
        "pipelines": [
            {
                "name": "p1",
                "source": "src",
                "destination": "dst",
                "tables": [{"name": "region"}],
            }
        ],
    }
    cfg = tmp_path / "config.json"
    cfg.write_text(json.dumps(config))
    repo = str(Path(__file__).resolve().parent.parent)
    out = subprocess.run(
        [sys.executable, "-m", "mkpipe_extractor_clickhouse_spark", str(cfg)],
        capture_output=True,
        text=True,
        cwd=repo,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [json.loads(l) for l in out.stdout.splitlines() if l.startswith("{")]
    assert lines[-1]["table"] == "region"
    assert lines[-1]["status"] == "extracted"


def test_pipeline_manifest_destination(spark, sf_dir, tmp_path):
    """variant: manifest destination runs ticks through the one runner
    with a ManifestLoader — snapshots + watermark in ONE atomic
    commit, no sidecar _state.json at all."""
    import os

    from mkpipe_extractor_clickhouse_spark.pipeline import run_pipelines
    from mkpipe_extractor_clickhouse_spark.sources.extract import TableConfig
    from mkpipe_extractor_clickhouse_spark.sources.manifest import (
        ManifestLoader,
    )

    dst = str(tmp_path / "lake")
    config = {
        "connections": {
            "src": {"variant": "parquet", "path": sf_dir},
            "lake": {"variant": "manifest", "path": dst},
        },
        "pipelines": [
            {
                "name": "to_lake",
                "source": "src",
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
    out = run_pipelines(config, spark)
    assert out["to_lake"][0].status == "extracted"
    loader = ManifestLoader(dst)
    t = TableConfig(name="events")
    from mkpipe_extractor_clickhouse_spark.catalog import load_table

    n_src = load_table(spark, sf_dir, "events").count()
    assert loader.table(t).read(spark).count() == n_src
    # watermark inside the manifest, not a sidecar
    assert loader.last_point(t) == str(n_src - 1)
    assert not os.path.exists(os.path.join(dst, "_state.json"))
    # idle second tick: boundary row re-extracted, nothing re-published
    head = loader.table(t).head_version()
    run_pipelines(config, spark)
    assert loader.table(t).head_version() == head
    assert loader.table(t).read(spark).count() == n_src


# ---- scheduling: one chain per destination table, run concurrently ----


def _lake_config(src: str, dst: str, tables: list[dict]) -> dict:
    return {
        "connections": {
            "src": {"variant": "parquet", "path": src},
            "dst": {"variant": "parquet", "path": dst},
        },
        "pipelines": [
            {"name": "p", "source": "src", "destination": "dst", "tables": tables}
        ],
    }


def _record_ticks(monkeypatch):
    """Wall interval and thread of every table tick, keyed by target."""
    import threading
    import time

    from mkpipe_extractor_clickhouse_spark.sources.extract import (
        IncrementalRunner,
    )

    ticks: list[tuple[str, float, float, int]] = []
    run_once = IncrementalRunner.run_once

    def traced(self, spark, table, source_filter=None):
        t0 = time.perf_counter()
        try:
            return run_once(self, spark, table, source_filter)
        finally:
            ticks.append(
                (table.target_name, t0, time.perf_counter(), threading.get_ident())
            )

    monkeypatch.setattr(IncrementalRunner, "run_once", traced)
    return ticks


def test_results_in_config_order(spark, sf_dir, tmp_path):
    tables = [{"name": t} for t in ("supplier", "region", "nation", "customer")]
    config = _lake_config(sf_dir, str(tmp_path / "a"), tables)
    config["connections"]["dst2"] = {"variant": "parquet", "path": str(tmp_path / "b")}
    config["pipelines"].append(
        {"name": "q", "source": "src", "destination": "dst2", "tables": tables[::-1]}
    )
    out = run_pipelines(config, spark)
    assert list(out) == ["p", "q"]
    assert [r.table for r in out["p"]] == ["supplier", "region", "nation", "customer"]
    assert [r.table for r in out["q"]] == ["customer", "nation", "region", "supplier"]
    assert {r.status for rs in out.values() for r in rs} == {"extracted"}


def test_same_target_entries_run_in_order(spark, sf_dir, tmp_path, monkeypatch):
    """Two entries that write one destination table form one chain: they
    never overlap, and the rows and watermark equal a sequential run."""
    from mkpipe_extractor_clickhouse_spark.sources.extract import (
        IncrementalRunner,
        ParquetExtractor,
        ParquetLoader,
    )
    from mkpipe_extractor_clickhouse_spark.sources.state import WatermarkStore

    def window(lo, hi):
        return {
            "name": "events",
            "target_name": "ev",
            "replication_method": "incremental",
            "iterate_column": "event_id",
            "iterate_column_type": "int",
            "filter_lower_bound": lo,
            "filter_upper_bound": hi,
        }

    tables = [window(0, 300), {"name": "nation"}, window(300, 600), {"name": "region"}]
    ticks = _record_ticks(monkeypatch)
    dst = str(tmp_path / "conc")
    out = run_pipelines(_lake_config(sf_dir, dst, tables), spark)["p"]
    assert [r.table for r in out] == ["ev", "nation", "ev", "region"]
    ev = sorted((a, b) for name, a, b, _ in ticks if name == "ev")
    assert len(ev) == 2 and ev[0][1] <= ev[1][0]

    seq = str(tmp_path / "seq")
    runner = IncrementalRunner(
        ParquetExtractor(sf_dir), ParquetLoader(seq), WatermarkStore(f"{seq}/_state.json")
    )
    for t in (tables[0], tables[2]):
        runner.run_once(spark, table_config_from_dict(t))

    def rows(d):
        return sorted(spark.read.parquet(f"{d}/ev.parquet").collect())

    assert rows(dst) == rows(seq)
    assert WatermarkStore(f"{dst}/_state.json").get("ev") == "599"
    assert runner.store.get("ev") == "599"


def test_failing_chain_stops_alone_then_raises_first_error(spark, sf_dir, tmp_path):
    import os

    import pytest

    dst = str(tmp_path / "wh")
    tables = [
        {"name": "region"},
        {"name": "no_such_table_a", "target_name": "bad"},
        {"name": "nation", "target_name": "bad"},  # same chain: never runs
        {"name": "no_such_table_b"},
        {"name": "supplier"},
    ]
    with pytest.raises(KeyError, match="no_such_table_a"):
        run_pipelines(_lake_config(sf_dir, dst, tables), spark)
    assert spark.read.parquet(f"{dst}/region.parquet").count() == 5
    assert spark.read.parquet(f"{dst}/supplier.parquet").count() > 0
    assert not os.path.exists(f"{dst}/bad.parquet")


def test_pool_threads_are_reused_across_ticks(spark, sf_dir, tmp_path, monkeypatch):
    import threading

    def pool_threads():
        return {t.ident for t in threading.enumerate() if t.name.startswith("mkpipe-tick")}

    ticks = _record_ticks(monkeypatch)
    config = _lake_config(
        sf_dir, str(tmp_path / "wh"), [{"name": "region"}, {"name": "nation"}]
    )
    run_pipelines(config, spark)
    first = pool_threads()
    run_pipelines(config, spark)
    assert pool_threads() == first
    assert {t[3] for t in ticks} <= first
    assert threading.get_ident() not in first


@pytest.mark.parametrize("variant", ["parquet", "manifest"])
def test_append_tick_runs_two_jobs_in_callers_group(
    spark, sf_dir, tmp_path, variant
):
    """An append tick is the anti-join's broadcast build and the write
    (the staging write, for a manifest destination): the write's
    observed row count decides "no new data", so no empty probe runs,
    and the boundary read declares its schema, so no footer-inference
    job.  The jobs carry the caller's job group although they run on
    pool threads."""
    from mkpipe_extractor_clickhouse_spark.sources.manifest import ManifestLoader

    sc = spark.sparkContext
    pipe = Pipeline(
        source_dir=sf_dir,
        dest_dir=str(tmp_path),
        loader=ManifestLoader(str(tmp_path)) if variant == "manifest" else None,
        tables=[
            {
                "name": "events",
                "replication_method": "incremental",
                "iterate_column": "event_id",
                "iterate_column_type": "int",
                "dedup_keys": ["event_id"],
            }
        ],
    )
    assert pipe.run(spark)[0].write_mode == "overwrite"
    group = f"append-tick-{variant}-{tmp_path.name}"
    sc.setJobGroup(group, "one append tick")
    try:
        res = pipe.run(spark)[0]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert res.write_mode == "append"
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2


def _slices(spark, sf_dir, src: str, upper: int) -> None:
    """The source as of one arrival: the events with event_id < upper."""
    from mkpipe_extractor_clickhouse_spark.catalog import load_table

    load_table(spark, sf_dir, "events").filter(F.col("event_id") < upper).repartition(
        4
    ).write.mode("overwrite").parquet(f"{src}/events.parquet")


def test_appends_leave_no_empty_files(spark, sf_dir, tmp_path):
    """No append leaves a 0-row file, in a parquet or a manifest
    destination, and an idle tick leaves the file set unchanged."""
    import pyarrow.parquet as pq

    from mkpipe_extractor_clickhouse_spark.sources.extract import data_files

    src = str(tmp_path / "src")
    table = {
        "name": "events",
        "replication_method": "incremental",
        "iterate_column": "event_id",
        "iterate_column_type": "int",
        "dedup_keys": ["event_id"],
    }
    config = {
        "connections": {
            "src": {"variant": "parquet", "path": src},
            "lake": {"variant": "parquet", "path": str(tmp_path / "lake")},
            "mfst": {"variant": "manifest", "path": str(tmp_path / "mfst")},
        },
        "pipelines": [
            {"name": n, "source": "src", "destination": n, "tables": [table]}
            for n in ("lake", "mfst")
        ],
    }
    for upper in (200, 400, 600, 800):  # initial load, then three appends
        _slices(spark, sf_dir, src, upper)
        out = run_pipelines(config, spark)
        assert {r.status for rs in out.values() for r in rs} == {"extracted"}
    files = data_files(str(tmp_path / "lake")) + data_files(str(tmp_path / "mfst"))
    assert files and all(pq.read_metadata(f).num_rows > 0 for f in files)
    assert spark.read.parquet(f"{tmp_path}/lake/events.parquet").count() == 800
    run_pipelines(config, spark)  # idle: only the boundary row re-delivers
    assert data_files(str(tmp_path / "lake")) + data_files(str(tmp_path / "mfst")) == files


def test_empty_append_window_is_no_new_data(spark, sf_dir, tmp_path, caplog):
    """An append over an empty static-bounds window runs no probe: the
    write observes 0 rows, the tick reports ``no_new_data``, and neither
    destination gains a file, a commit or a new watermark."""
    import logging

    from mkpipe_extractor_clickhouse_spark.sources.extract import (
        TableConfig,
        data_files,
    )
    from mkpipe_extractor_clickhouse_spark.sources.manifest import ManifestLoader
    from mkpipe_extractor_clickhouse_spark.sources.state import WatermarkStore

    def config(lo: int, hi: int) -> dict:
        table = {
            "name": "events",
            "replication_method": "incremental",
            "iterate_column": "event_id",
            "iterate_column_type": "int",
            "dedup_keys": ["event_id"],
            "filter_lower_bound": lo,
            "filter_upper_bound": hi,
        }
        return {
            "connections": {
                "src": {"variant": "parquet", "path": sf_dir},
                "lake": {"variant": "parquet", "path": str(tmp_path / "lake")},
                "mfst": {"variant": "manifest", "path": str(tmp_path / "mfst")},
            },
            "pipelines": [
                {"name": n, "source": "src", "destination": n, "tables": [table]}
                for n in ("lake", "mfst")
            ],
        }

    out = run_pipelines(config(0, 50), spark)
    assert {r.status for rs in out.values() for r in rs} == {"extracted"}
    files = data_files(str(tmp_path / "lake")) + data_files(str(tmp_path / "mfst"))
    mt = ManifestLoader(str(tmp_path / "mfst")).table(TableConfig(name="events"))
    head = mt.head_version()
    with caplog.at_level(
        logging.INFO, logger="mkpipe_extractor_clickhouse_spark.sources.extract"
    ):
        out = run_pipelines(config(10**9, 10**9 + 10), spark)
    assert [(r.status, r.last_point) for rs in out.values() for r in rs] == [
        ("no_new_data", None)
    ] * 2
    assert [r.msg for r in caplog.records].count(
        {"table": "events", "status": "no_new_data"}
    ) == 2
    assert files == data_files(str(tmp_path / "lake")) + data_files(
        str(tmp_path / "mfst")
    )
    assert WatermarkStore(f"{tmp_path}/lake/_state.json").get("events") == "49"
    assert mt.head_version() == head
    assert mt.manifest()["meta"]["last_point"] == "49"


def test_empty_overwrite_keeps_one_schema_file(spark, sf_dir, tmp_path):
    from mkpipe_extractor_clickhouse_spark.sources.extract import data_files

    src = str(tmp_path / "src")
    _slices(spark, sf_dir, src, 0)
    pipe = Pipeline(
        source_dir=src, dest_dir=str(tmp_path / "wh"), tables=[{"name": "events"}]
    )
    pipe.run(spark)
    assert len(data_files(f"{tmp_path}/wh/events.parquet")) == 1
    assert spark.read.parquet(f"{tmp_path}/wh/events.parquet").count() == 0


def test_concurrent_custom_queries_read_their_own_views(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Temp views are session-wide: two chains whose custom queries both
    name ``nation``, over different source directories, must each read
    their own.  The patched registration sleeps so that, without the
    extractor's lock, the other chain re-registers the view in between."""
    import time

    from mkpipe_extractor_clickhouse_spark.catalog import load_table
    from mkpipe_extractor_clickhouse_spark.sources import extract

    nation = load_table(spark, sf_dir, "nation")
    key = F.col("n_nationkey")
    for name, cond in (("a", key < 10), ("b", key >= 10)):
        nation.filter(cond).write.parquet(f"{tmp_path}/{name}/nation.parquet")

    register = extract.register_views

    def slow_register(*a, **kw):
        register(*a, **kw)
        time.sleep(1.0)

    monkeypatch.setattr(extract, "register_views", slow_register)
    table = {"name": "nation", "custom_query": "SELECT * FROM nation {query_filter}"}
    config = {
        "connections": {
            "a": {"variant": "parquet", "path": f"{tmp_path}/a"},
            "b": {"variant": "parquet", "path": f"{tmp_path}/b"},
            "out_a": {"variant": "parquet", "path": f"{tmp_path}/out_a"},
            "out_b": {"variant": "parquet", "path": f"{tmp_path}/out_b"},
        },
        "pipelines": [
            {"name": n, "source": n, "destination": f"out_{n}", "tables": [table]}
            for n in ("a", "b")
        ],
    }
    run_pipelines(config, spark)

    def keys(n):
        out = spark.read.parquet(f"{tmp_path}/out_{n}/nation.parquet")
        return sorted(r.n_nationkey for r in out.collect())

    assert keys("a") == list(range(10))
    assert keys("b") == list(range(10, 25))


def test_many_chains_commit_every_watermark(spark, sf_dir, tmp_path):
    """More chains than pool threads, with frequent thread switches: every
    chain's watermark lands in the shared state file, none lost."""
    import sys

    from mkpipe_extractor_clickhouse_spark.sources.state import WatermarkStore

    tables = [
        {
            "name": "events",
            "target_name": f"ev{i}",
            "replication_method": "incremental",
            "iterate_column": "event_id",
            "iterate_column_type": "int",
            "filter_lower_bound": 0,
            "filter_upper_bound": 50 * (i + 1),
        }
        for i in range(2 * spark.sparkContext.defaultParallelism)
    ]
    dst = str(tmp_path / "wh")
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        out = run_pipelines(_lake_config(sf_dir, dst, tables), spark)["p"]
    finally:
        sys.setswitchinterval(interval)
    expected = {t["target_name"]: str(t["filter_upper_bound"] - 1) for t in tables}
    assert {r.table: r.last_point for r in out} == expected
    assert WatermarkStore(f"{dst}/_state.json")._read() == expected
