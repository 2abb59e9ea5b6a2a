"""Manifest-committed table: snapshot isolation, time travel,
rollback, optimistic concurrency, vacuum, and the transactional
watermark (data + state in one atomic rename)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from mkpipe_extractor_clickhouse_spark.catalog import load_table
from mkpipe_extractor_clickhouse_spark.sources.extract import (
    IncrementalRunner,
    ParquetExtractor,
    TableConfig,
)
from mkpipe_extractor_clickhouse_spark.sources.manifest import (
    ManifestedTable,
    ManifestLoader,
)


@pytest.fixture
def mt(tmp_path):
    return ManifestedTable(str(tmp_path / "t.mfst"))


def test_append_visibility_and_crash_invisibility(spark, mt):
    assert mt.read(spark) is None
    mt.commit_append(spark.range(5))
    assert mt.read(spark).count() == 5
    # crash simulation: a staged-but-unpublished batch stays invisible
    mt.stage_batch(spark.range(100))
    assert mt.read(spark).count() == 5
    mt.commit_append(spark.range(3))
    assert mt.read(spark).count() == 8


def test_overwrite_time_travel_rollback(spark, mt):
    v1 = mt.commit_append(spark.range(5))
    v2 = mt.commit_overwrite(spark.range(2))
    assert mt.read(spark).count() == 2
    # time travel: the pre-overwrite snapshot is still readable
    assert mt.read(spark, version=v1).count() == 5
    # rollback republishes the old dirs as a NEW head
    v3 = mt.rollback(v1)
    assert v3 > v2
    assert mt.read(spark).count() == 5


def test_commit_conflict_retries_from_new_head(spark, mt):
    mt.commit_append(spark.range(4))
    # interloper steals the next version with a manual manifest
    steal = mt.head_version() + 1
    stolen = {
        "version": steal, "parent": steal - 1, "op": "append",
        "dirs": mt.manifest()["dirs"], "meta": {},
    }
    with open(mt._manifest_path(steal), "w") as f:
        json.dump(stolen, f)
    v = mt.commit_append(spark.range(6))
    assert v == steal + 1  # landed after the interloper, not on it
    assert mt.read(spark).count() == 10


def test_vacuum_drops_only_unreferenced(spark, mt):
    mt.commit_append(spark.range(5))
    mt.commit_overwrite(spark.range(2))
    mt.stage_batch(spark.range(50))  # orphan from a "crash"
    # min_age_seconds=0: this test holds exclusive access to the table
    removed = mt.vacuum(keep_versions=1, min_age_seconds=0)
    # the overwritten v1 batch and the orphan go; live data stays
    assert len(removed) == 2
    assert mt.read(spark).count() == 2
    assert mt.versions() == [mt.head_version()]


def test_vacuum_keeps_ref_tips(spark, mt):
    """A branch tip behind the head keeps its manifest and batch dirs
    through vacuum, so read_ref still reads it."""
    mt.commit_append(spark.range(5))
    v2 = mt.commit_append(spark.range(3))
    mt.branch_create("dev")  # tip at v2
    v3 = mt.commit_overwrite(spark.range(2))
    removed = mt.vacuum(keep_versions=1, min_age_seconds=0)
    assert removed == []  # v3's dir is live, v1's and v2's are dev's
    assert mt.versions() == [v2, v3]
    assert mt.refs() == {"dev": v2}
    assert mt.read_ref(spark, "dev").count() == 8
    assert mt.read(spark).count() == 2


def test_fast_forward_after_vacuum(spark, mt):
    """vacuum keeps the manifests along a branch's lineage down to the
    oldest ref tip, so fast_forward can still walk dev's chain back to
    main's tip after the intermediate snapshot was vacuumed."""
    v1 = mt.commit_append(spark.range(5))
    mt.branch_create("main")
    mt.branch_create("dev")
    v2 = mt.commit_append_on("dev", spark.range(3))
    v3 = mt.commit_append_on("dev", spark.range(2))
    mt.vacuum(keep_versions=1, min_age_seconds=0)
    assert mt.versions() == [v1, v2, v3]
    assert mt.fast_forward("main", "dev") == v3
    assert mt.read_ref(spark, "main").count() == 10


def test_lineage_only_snapshot_refuses_rollback_and_clone(spark, mt, tmp_path):
    """A snapshot vacuum keeps only for ref lineage may have lost its
    dirs: rollback and clone_at refuse it rather than publish a head
    or a clone that misses data."""
    mt.commit_append(spark.range(5))
    mt.branch_create("old")
    v2 = mt.commit_append(spark.range(3))
    mt.commit_overwrite(spark.range(2))
    mt.branch_create("new")  # tip v3; its lineage walks v3 → v2 → v1
    mt.vacuum(keep_versions=1, min_age_seconds=0)
    assert v2 in mt.versions()  # lineage only: v2's own batch is gone
    with pytest.raises(FileNotFoundError):
        mt.rollback(v2)
    with pytest.raises(FileNotFoundError):
        mt.clone_at(str(tmp_path / "c.mfst"), version=v2)
    assert not (tmp_path / "c.mfst").exists()
    assert mt.read_ref(spark, "old").count() == 5


def test_manifest_runner_transactional_watermark(spark, sf_dir, tmp_path):
    """Two incremental ticks through the manifest loader: final
    snapshot equals the source, boundary duplicates absorbed, and the
    watermark travels inside the commit metadata (no sidecar store)."""
    table = TableConfig(
        name="events",
        replication_method="incremental",
        iterate_column="event_id",
        iterate_column_type="int",
        dedup_keys=("event_id",),
    )
    runner = IncrementalRunner(
        extractor=ParquetExtractor(sf_dir),
        loader=ManifestLoader(str(tmp_path)),
    )
    n_source = load_table(spark, sf_dir, "events").count()
    cut = n_source // 2

    runner.run_once(spark, table, source_filter=F.col("event_id") < cut)
    assert runner.loader.last_point(table) == str(cut - 1)

    runner.run_once(spark, table)
    mt = runner.loader.table(table)
    assert mt.read(spark).count() == n_source  # >= boundary row deduped
    assert runner.loader.last_point(table) == str(n_source - 1)
    # watermark is inside the head manifest, not a sidecar file
    assert mt.manifest()["meta"]["last_point"] == str(n_source - 1)
    assert not os.path.exists(str(tmp_path / "state.json"))

    # idle tick: the >= boundary re-read extracts one already-loaded
    # row; the loader detects the fully-deduped batch from parquet
    # footers and publishes nothing — no version churn
    head = mt.head_version()
    res = runner.run_once(spark, table)
    assert res.df is not None  # boundary row re-extracted by contract
    assert mt.head_version() == head
    assert mt.read(spark).count() == n_source


def test_manifest_stream_sink_exactly_once(spark, sf_dir, tmp_path):
    """Streamed micro-batches land exactly once: the final snapshot
    equals the source, and re-invoking the handler with an old
    batch_id publishes nothing."""
    from mkpipe_extractor_clickhouse_spark.sources.manifest import (
        manifest_stream_sink,
    )
    from mkpipe_extractor_clickhouse_spark.streaming import runtime

    stage = runtime.stage_event_chunks(
        spark, sf_dir, str(tmp_path / "stage"), n_chunks=4
    )
    stream = runtime.read_event_stream(spark, stage)
    mt = manifest_stream_sink(
        spark, stream, str(tmp_path / "t.mfst"), str(tmp_path / "ckpt")
    )
    n_source = load_table(spark, sf_dir, "events").count()
    assert mt.read(spark).count() == n_source
    assert mt.head_version() == 4  # one commit per micro-batch

    # foreachBatch re-delivery: the handler skips an already-published
    # batch_id (no new version, no duplicate rows), accepts a fresh one
    from mkpipe_extractor_clickhouse_spark.sources.manifest import (
        ManifestStreamSink,
    )

    sink = ManifestStreamSink(str(tmp_path / "t.mfst"))
    head = sink.table.head_version()
    last_batch = sink.last_batch_id()
    redelivered = mt.read(spark).limit(5)
    assert sink.handle(redelivered, last_batch) is False
    assert sink.table.head_version() == head
    assert mt.read(spark).count() == n_source
    assert sink.handle(redelivered, last_batch + 1) is True
    assert mt.read(spark).count() == n_source + 5


def test_compact_content_identical_and_conflict_safe(spark, mt):
    for i in range(4):
        mt.commit_append(spark.range(i * 10, i * 10 + 10))
    before = {r.id for r in mt.read(spark).collect()}
    v = mt.compact(spark)
    assert mt.manifest(v)["op"] == "compact"
    assert len(mt.manifest(v)["dirs"]) == 1
    assert {r.id for r in mt.read(spark).collect()} == before

    # concurrent append between read and publish → compact must abort
    # rather than drop the late rows
    base = mt.head_version()
    orig_publish = mt._publish

    def racing_publish(dirs, op, meta, parent=None, stats=None, bloom=None):
        if op == "compact":
            orig_publish(
                mt.manifest()["dirs"]
                + [mt.stage_batch(spark.range(1000, 1005))],
                "append",
                {},
            )
        return orig_publish(dirs, op, meta, parent)

    mt._publish = racing_publish
    try:
        mt.compact(spark)
    finally:
        mt._publish = orig_publish
    assert {r.id for r in mt.read(spark).collect()} == before | set(
        range(1000, 1005)
    )


def test_publish_is_atomic_exclusive_cas(spark, mt):
    """Two writers that both read the same head and publish the same
    target version: exactly one wins, the loser gets CommitConflict —
    the os.link CAS, not a racy exists()+rename."""
    from mkpipe_extractor_clickhouse_spark.sources.manifest import (
        CommitConflict,
    )

    a = mt.stage_batch(spark.range(1))
    b = mt.stage_batch(spark.range(2))
    head = mt.head_version()
    v = mt._publish([a], "append", {}, parent=head)
    assert v == head + 1
    with pytest.raises(CommitConflict):
        mt._publish([b], "append", {}, parent=head)
    # the loser's commit did NOT silently replace the winner's manifest
    assert mt.manifest()["dirs"] == [a]
    # and no temp manifest litter survives either path
    mdir = os.path.join(mt.table_dir, "_manifests")
    assert not [n for n in os.listdir(mdir) if n.startswith(".tmp-")]


def test_concurrent_appends_lose_no_commit(spark, mt):
    """Threaded writers hammering commit_append: every commit must land
    (the failure mode of rename-over-existing is a silently lost
    manifest)."""
    import threading

    errs = []

    def writer():
        for _ in range(5):
            # the manifest protocol retries CommitConflict internally;
            # retry here only the TRANSIENT Spark/py4j hiccups a loaded
            # shared host can inject into the write job itself — the
            # no-lost-commit assertions below stay exact
            for attempt in range(3):
                try:
                    mt.commit_append(spark.range(1))
                    break
                except Exception as e:  # pragma: no cover
                    if attempt == 2:
                        errs.append(e)

    threads = [threading.Thread(target=writer) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert mt.head_version() == 20
    assert mt.read(spark).count() == 20


def test_loader_append_keeps_commit_landing_after_head_read(
    spark, tmp_path, monkeypatch
):
    """Deterministic lost-update check for ManifestLoader.load: another
    writer's commit_append lands right after the loader's first head
    read.  The loader must re-merge against the new head, so both
    batches stay listed and the newest watermark is the loader's."""
    from mkpipe_extractor_clickhouse_spark.sources.extract import ExtractResult

    table = TableConfig(name="t", replication_method="incremental")
    loader = ManifestLoader(str(tmp_path))
    other = loader.table(table)  # the other writer's handle
    real = ManifestedTable.manifest
    fired = []

    def manifest(self, version=None):
        head = real(self, version)
        if version is None and not fired:
            fired.append(head["version"])
            other.commit_append(spark.range(100, 103), meta={"writer": "other"})
        return head

    monkeypatch.setattr(ManifestedTable, "manifest", manifest)
    v = loader.load(
        spark,
        table,
        ExtractResult(
            df=spark.range(3), write_mode="append", last_point_value="2"
        ),
    )
    monkeypatch.undo()
    assert fired == [0]
    head = other.manifest()
    assert v == head["version"] == 2
    assert len(head["dirs"]) == 2
    assert sorted(r.id for r in other.read(spark).collect()) == [
        0, 1, 2, 100, 101, 102
    ]
    assert loader.last_point(table) == "2"


def test_vacuum_retention_spares_fresh_inflight_dirs(spark, mt):
    """An in-flight writer's staged dir (young mtime) survives vacuum;
    only dirs older than the retention window are swept."""
    mt.commit_append(spark.range(5))
    mt.commit_overwrite(spark.range(2))
    staged = mt.stage_batch(spark.range(7))  # "in-flight" stage→publish
    removed = mt.vacuum(keep_versions=1)  # default retention: 1 h
    assert removed == []  # everything is seconds old — nothing swept
    # the in-flight writer's staged dir is still there to publish
    assert os.path.isdir(os.path.join(mt.table_dir, staged))


def test_read_with_commit_seq_stamps_manifest_versions(spark, mt):
    """Merge-on-read sequence comes from the manifest chain: rows read
    back stamped with the version that introduced their batch dir."""
    mt.commit_append(spark.range(3).withColumn("v", F.lit("old")))
    mt.commit_append(spark.range(3).withColumn("v", F.lit("new")))
    df = mt.read_with_commit_seq(spark)
    seqs = {r.v: r._commit_seq for r in df.collect()}
    assert seqs == {"old": 1, "new": 2}


# ---- round-3 continuation: zone maps + MERGE ------------------------------


def test_zone_map_stats_recorded_and_pruned(spark, sf_dir, tmp_path):
    from datetime import datetime

    from mkpipe_extractor_clickhouse_spark.catalog import load_table
    from mkpipe_extractor_clickhouse_spark.sources.manifest import (
        ManifestedTable,
    )
    from pyspark.sql import functions as F

    t = ManifestedTable(str(tmp_path / "events"), stats_cols=("ts", "event_id"))
    ev = load_table(spark, sf_dir, "events")
    bounds = [None, "2024-01-08", "2024-01-15", "2024-01-22", None]
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        chunk = ev
        if lo is not None:
            chunk = chunk.filter(F.col("ts") >= F.lit(lo).cast("timestamp_ntz"))
        if hi is not None:
            chunk = chunk.filter(F.col("ts") < F.lit(hi).cast("timestamp_ntz"))
        t.commit_append(chunk)

    m = t.manifest()
    assert len(m["dirs"]) == 4
    # every batch carries min/max for both stats columns
    for d in m["dirs"]:
        assert set(m["stats"][d]) == {"ts", "event_id"}

    kept, skipped = t.prune_dirs(
        "ts", lo=datetime(2024, 1, 16), hi=datetime(2024, 1, 18)
    )
    # a 3-day window inside batch 3 must skip at least the other three
    assert len(skipped) >= 3 and len(kept) >= 1

    # pruned read returns exactly the filtered rows
    got = t.read_pruned(
        spark, "ts", lo=datetime(2024, 1, 16), hi=datetime(2024, 1, 18)
    ).count()
    want = ev.filter(
        (F.col("ts") >= F.lit("2024-01-16").cast("timestamp_ntz"))
        & (F.col("ts") <= F.lit("2024-01-18").cast("timestamp_ntz"))
    ).count()
    assert got == want

    # dirs without stats are always kept (skip is an optimization)
    kept2, skipped2 = t.prune_dirs("value", lo=0, hi=1)
    assert kept2 == m["dirs"] and not skipped2


def test_merge_updates_inserts_and_time_travel(spark, tmp_path):
    from mkpipe_extractor_clickhouse_spark.sources.manifest import (
        ManifestedTable,
    )

    t = ManifestedTable(str(tmp_path / "dim"))
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k INT, name STRING, v DOUBLE",
    )
    v1 = t.commit_overwrite(base)
    src = spark.createDataFrame(
        [(2, "b2", 99.0), (4, "d", 40.0)], "k INT, name STRING, v DOUBLE"
    )
    v2 = t.merge(spark, src, keys=("k",))
    assert v2 == v1 + 1

    rows = {r.k: (r.name, r.v) for r in t.read(spark).collect()}
    assert rows == {
        1: ("a", 10.0),
        2: ("b2", 99.0),  # matched → updated
        3: ("c", 30.0),
        4: ("d", 40.0),  # not matched → inserted
    }
    # time travel to the pre-merge snapshot still works
    old = {r.k: r.v for r in t.read(spark, version=v1).collect()}
    assert old == {1: 10.0, 2: 20.0, 3: 30.0}
    assert t.manifest()["op"] == "merge"


def test_merge_retries_on_concurrent_append(spark, tmp_path):
    """A commit published between merge's read and publish must not be
    lost: the merge retries against the new head."""
    from mkpipe_extractor_clickhouse_spark.sources.manifest import (
        ManifestedTable,
    )

    t = ManifestedTable(str(tmp_path / "dim"))
    t.commit_overwrite(
        spark.createDataFrame([(1, 10.0)], "k INT, v DOUBLE")
    )

    # interleave: after merge reads the head, another writer appends
    real_publish = t._publish
    raced = {"done": False}

    def racing_publish(dirs, op, meta, parent=None, stats=None, bloom=None):
        if op == "merge" and not raced["done"]:
            raced["done"] = True
            t.commit_append(
                spark.createDataFrame([(7, 70.0)], "k INT, v DOUBLE")
            )
        return real_publish(dirs, op, meta, parent=parent, stats=stats)

    t._publish = racing_publish
    try:
        t.merge(
            spark,
            spark.createDataFrame([(1, 11.0)], "k INT, v DOUBLE"),
            keys=("k",),
        )
    finally:
        t._publish = real_publish

    rows = {r.k: r.v for r in t.read(spark).collect()}
    # both the racing append (k=7) and the merge update (k=1) survive
    assert rows == {1: 11.0, 7: 70.0}


def test_loader_records_zone_maps_per_tick(spark, sf_dir, tmp_path):
    """An incremental pipeline with stats_columns configured gets zone
    maps on every tick's batch for free (footer metadata, no extra
    scan) — the seam a time-bounded backfill later prunes on."""
    from mkpipe_extractor_clickhouse_spark.sources.manifest import ManifestLoader
    from pyspark.sql import functions as F

    table = TableConfig(
        name="events",
        replication_method="incremental",
        iterate_column="ts",
        iterate_column_type="datetime",
        dedup_keys=("event_id",),
        stats_columns=("ts",),
    )
    loader = ManifestLoader(str(tmp_path))
    runner = IncrementalRunner(
        extractor=ParquetExtractor(sf_dir), loader=loader
    )
    for cutoff in ("2024-01-10", "2024-01-20", None):
        sf = (
            F.col("ts") < F.lit(cutoff).cast("timestamp_ntz")
            if cutoff
            else None
        )
        runner.run_once(spark, table, source_filter=sf)

    t = loader.table(table)
    m = t.manifest()
    with_stats = [d for d in m["dirs"] if m.get("stats", {}).get(d, {}).get("ts")]
    assert len(with_stats) == len(m["dirs"]) >= 3
    # and the zone map actually prunes an out-of-range read
    from datetime import datetime

    kept, skipped = t.prune_dirs(
        "ts", lo=datetime(2024, 1, 25), hi=datetime(2024, 1, 31)
    )
    assert skipped  # the early ticks' batches cannot match


def _spy_read_dirs(monkeypatch) -> list[list[str]]:
    """The batch dirs of every ``ManifestedTable._read_dirs`` call."""
    opened: list[list[str]] = []
    real = ManifestedTable._read_dirs

    def read_dirs(self, spark, dirs, schema=None):
        opened.append(list(dirs))
        return real(self, spark, dirs, schema)

    monkeypatch.setattr(ManifestedTable, "_read_dirs", read_dirs)
    return opened


def test_boundary_read_opens_only_overlapping_batches(
    spark, sf_dir, tmp_path, monkeypatch
):
    """An append's anti-join reads only the batch dirs whose
    iterate-column zone map meets the window ``event_id >= last_point``
    (the loader records that zone map without ``stats_columns``): after
    each of four appends, the newest batch, plus a dir committed without
    stats (a table written before zone maps), which is always kept."""
    table = TableConfig(
        name="events",
        replication_method="incremental",
        iterate_column="event_id",
        iterate_column_type="int",
        dedup_keys=("event_id",),
    )
    loader = ManifestLoader(str(tmp_path))
    runner = IncrementalRunner(extractor=ParquetExtractor(sf_dir), loader=loader)
    ev_id = F.col("event_id")
    runner.run_once(spark, table, source_filter=ev_id < 100)
    mt = loader.table(table)
    ManifestedTable(mt.table_dir).commit_append(
        load_table(spark, sf_dir, "events").filter(ev_id < 5)
    )
    opened = _spy_read_dirs(monkeypatch)
    for cut in (200, 300, 400, 500):
        runner.run_once(spark, table, source_filter=ev_id < cut)
    monkeypatch.undo()

    m = mt.manifest()
    first, legacy, *appends = m["dirs"]
    assert len(appends) == 4 and legacy not in m["stats"]
    assert m["stats"][appends[-1]]["event_id"] == [400, 499]
    assert opened == [
        [first, legacy],
        [legacy, appends[0]],
        [legacy, appends[1]],
        [legacy, appends[2]],
    ]
    got = mt.read(spark)
    assert got.count() == 505  # the legacy dir's 5 rows stay as written
    assert got.select("event_id").distinct().count() == 500
    assert loader.last_point(table) == "499"


def test_boundary_read_skipped_when_no_batch_meets_window(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A static-bounds window above every batch's zone map opens no
    batch dir, so the append runs no anti-join."""
    loader = ManifestLoader(str(tmp_path))
    runner = IncrementalRunner(extractor=ParquetExtractor(sf_dir), loader=loader)

    def table(lo, hi):
        return TableConfig(
            name="events",
            replication_method="incremental",
            iterate_column="event_id",
            iterate_column_type="int",
            dedup_keys=("event_id",),
            filter_lower_bound=lo,
            filter_upper_bound=hi,
        )

    runner.run_once(spark, table(0, 100))
    opened = _spy_read_dirs(monkeypatch)
    res = runner.run_once(spark, table(100, 200))
    monkeypatch.undo()
    assert opened == [[]]
    assert res.rows == 100
    assert loader.table(table(0, 100)).read(spark).count() == 200


def test_datetime_zone_maps_keep_straddling_dir(spark, tmp_path):
    """Timestamp zone maps are stored as ISO strings
    (``2024-01-10T05:00:00``).  A string bound in ``str(datetime)`` form
    (``2024-01-10 06:00:00``) sorted below every same-day stored value,
    so as an upper bound it skipped the dir that straddles it.  Bounds
    are now compared as instants, in either string form or as
    datetimes."""
    from datetime import datetime

    t = ManifestedTable(str(tmp_path / "ts.mfst"), stats_cols=("ts",))
    for hours in ((0, 4), (5, 7), (8, 9)):
        t.commit_append(
            spark.createDataFrame(
                [(datetime(2024, 1, 10, h),) for h in hours], "ts timestamp_ntz"
            )
        )
    early, straddling, late = t.manifest()["dirs"]
    assert t.manifest()["stats"][straddling]["ts"] == [
        "2024-01-10T05:00:00",
        "2024-01-10T07:00:00",
    ]
    for bound in (
        "2024-01-10 06:00:00",
        "2024-01-10T06:00:00",
        datetime(2024, 1, 10, 6),
    ):
        assert t.prune_dirs("ts", hi=bound) == ([early, straddling], [late])
        assert t.prune_dirs("ts", lo=bound) == ([straddling, late], [early])
    got = t.read_pruned(
        spark, "ts", lo="2024-01-10 06:00:00", hi="2024-01-10 08:00:00"
    )
    assert got.count() == 2  # 07:00 and 08:00


def test_datetime_window_prunes_manifest_boundary_read(
    spark, sf_dir, tmp_path, monkeypatch
):
    """With a datetime iterate column the window's ``last_point`` is the
    ``str(datetime)`` form; the loader compares it as an instant, so the
    boundary read keeps exactly the batch holding the watermark row."""
    ts = F.col("ts")
    table = TableConfig(
        name="events",
        replication_method="incremental",
        iterate_column="ts",
        iterate_column_type="datetime",
        dedup_keys=("event_id",),
    )
    loader = ManifestLoader(str(tmp_path))
    runner = IncrementalRunner(extractor=ParquetExtractor(sf_dir), loader=loader)
    for cutoff in ("2024-01-10", "2024-01-20"):
        runner.run_once(
            spark, table, source_filter=ts < F.lit(cutoff).cast("timestamp_ntz")
        )
    opened = _spy_read_dirs(monkeypatch)
    runner.run_once(spark, table)
    monkeypatch.undo()
    mt = loader.table(table)
    first, second, _ = mt.manifest()["dirs"]
    assert opened == [[second]]
    n_src = load_table(spark, sf_dir, "events").count()
    assert mt.read(spark).count() == n_src


def test_zone_maps_skip_values_json_cannot_order(spark, tmp_path):
    """A decimal or binary column gets no zone map (its footer stats are
    ``Decimal``/``bytes``, which the manifest cannot store in order), so
    the commit succeeds and its dir is always kept."""
    from decimal import Decimal

    t = ManifestedTable(str(tmp_path / "d.mfst"), stats_cols=("d", "b", "n"))
    t.commit_append(
        spark.createDataFrame(
            [(Decimal(1), bytearray(b"a"), 1), (Decimal(5), bytearray(b"z"), 5)],
            "d decimal(38,0), b binary, n long",
        )
    )
    (d,) = t.manifest()["dirs"]
    assert t.manifest()["stats"][d] == {"n": [1, 5]}
    assert t.prune_dirs("d", lo=10) == ([d], [])


def test_manifest_commit_records_observed_rows(spark, sf_dir, tmp_path):
    """The commit's ``meta`` carries the extract's observed row count
    beside the watermark: the boundary row the append re-delivers is
    counted, although the anti-join drops it from the batch."""
    table = TableConfig(
        name="events",
        replication_method="incremental",
        iterate_column="event_id",
        iterate_column_type="int",
        dedup_keys=("event_id",),
    )
    loader = ManifestLoader(str(tmp_path))
    runner = IncrementalRunner(extractor=ParquetExtractor(sf_dir), loader=loader)
    ev_id = F.col("event_id")
    runner.run_once(spark, table, source_filter=ev_id < 100)
    runner.run_once(spark, table, source_filter=ev_id < 250)
    mt = loader.table(table)
    assert [mt.manifest(v)["meta"] for v in mt.versions()] == [
        {"last_point": "99", "rows": 100},
        {"last_point": "249", "rows": 151},
    ]
    assert mt.read(spark).count() == 250


# ---- catalog-level multi-table transactions -------------------------------


def test_catalog_multi_table_commit_atomic_view(spark, tmp_path):
    from mkpipe_extractor_clickhouse_spark.sources.manifest import (
        ManifestCatalog,
    )

    cat = ManifestCatalog(str(tmp_path))
    ev1 = spark.createDataFrame([(1, 10)], "k INT, v INT")
    ro1 = spark.createDataFrame([(1, 100)], "k INT, total INT")
    c1 = cat.commit_multi(
        {"events": (ev1, "overwrite"), "rollup": (ro1, "overwrite")}
    )

    # a second tick advances BOTH tables in one catalog flip
    ev2 = spark.createDataFrame([(2, 20)], "k INT, v INT")
    ro2 = spark.createDataFrame([(1, 100), (2, 200)], "k INT, total INT")
    c2 = cat.commit_multi(
        {"events": (ev2, "append"), "rollup": (ro2, "overwrite")}
    )
    assert c2 == c1 + 1

    # head snapshot: consistent pair
    assert cat.read(spark, "events").count() == 2
    assert cat.read(spark, "rollup").count() == 2
    # time travel to the FIRST catalog version: the OLD pair together
    assert cat.read(spark, "events", version=c1).count() == 1
    assert cat.read(spark, "rollup", version=c1).count() == 1


def test_catalog_readers_never_see_torn_tuple(spark, tmp_path):
    """A table version published WITHOUT its catalog commit (the crash
    window) stays invisible to catalog readers — the old consistent
    tuple remains."""
    from mkpipe_extractor_clickhouse_spark.sources.manifest import (
        ManifestCatalog,
    )

    cat = ManifestCatalog(str(tmp_path))
    cat.commit_multi(
        {
            "a": (spark.createDataFrame([(1,)], "x INT"), "overwrite"),
            "b": (spark.createDataFrame([(1,)], "x INT"), "overwrite"),
        }
    )
    # simulate a crash mid-transaction: table 'a' advanced, catalog not
    cat.table("a").commit_append(spark.createDataFrame([(2,)], "x INT"))
    assert cat.read(spark, "a").count() == 1  # catalog still pins v1
    assert cat.read(spark, "b").count() == 1
    # direct (non-catalog) read sees the newer data — time travel intact
    assert cat.table("a").read(spark).count() == 2


def test_catalog_concurrent_publish_retries(spark, tmp_path):
    """Two ticks publishing catalog versions concurrently both land,
    on distinct versions."""
    from mkpipe_extractor_clickhouse_spark.sources.manifest import (
        ManifestCatalog,
    )

    cat = ManifestCatalog(str(tmp_path))
    df = spark.createDataFrame([(1,)], "x INT")
    v1 = cat.commit_multi({"t": (df, "overwrite")})
    # steal the next catalog version to force the retry path
    stolen = cat.head_version() + 1
    import json as _json

    snap = cat.snapshot()  # before creating the file (head moves then)
    with open(cat._path(stolen), "w") as f:
        _json.dump({"version": stolen, "tables": snap, "meta": {}}, f)
    v2 = cat.commit_multi({"t": (df, "append")})
    assert v2 == stolen + 1
    assert cat.read(spark, "t").count() == 2


def test_streaming_multi_table_exactly_once(spark, sf_dir, tmp_path):
    """foreachBatch → ManifestCatalog.commit_multi: every micro-batch
    lands raw events AND the batch rollup in ONE catalog flip, with
    batch_id re-delivery dedup — exactly-once across BOTH tables."""
    from pyspark.sql import functions as F

    from mkpipe_extractor_clickhouse_spark.catalog import load_table
    from mkpipe_extractor_clickhouse_spark.sources.manifest import (
        ManifestCatalog,
    )
    from mkpipe_extractor_clickhouse_spark.streaming import runtime

    cat = ManifestCatalog(str(tmp_path / "cat"))

    def handle(batch_df, batch_id):
        head = cat.snapshot()
        meta_batch = None
        if head:
            import json as _json

            with open(cat._path(cat.head_version())) as f:
                meta_batch = _json.load(f)["meta"].get("batch_id")
        if meta_batch is not None and batch_id <= meta_batch:
            return  # re-delivered batch: skip BOTH tables
        rollup = batch_df.groupBy("event_type").agg(
            F.count("*").alias("n")
        )
        cat.commit_multi(
            {"events": (batch_df, "append"), "rollup": (rollup, "append")},
            meta={"batch_id": batch_id},
        )

    stage = runtime.stage_event_chunks(
        spark, sf_dir, str(tmp_path / "stage"), n_chunks=3
    )
    stream = runtime.read_event_stream(spark, stage)
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    n_source = load_table(spark, sf_dir, "events").count()
    assert cat.read(spark, "events").count() == n_source
    rolled = cat.read(spark, "rollup").groupBy("event_type").agg(
        F.sum("n").alias("n")
    )
    want = load_table(spark, sf_dir, "events").groupBy("event_type").count()
    got = {(r.event_type, r.n) for r in rolled.collect()}
    assert got == {(r.event_type, r["count"]) for r in want.collect()}

    # re-delivery: replaying the last batch_id advances NOTHING
    head = cat.head_version()
    handle(cat.read(spark, "events").limit(5), 0)
    assert cat.head_version() == head


def test_delete_rows_touches_only_matching_batches(spark, sf_dir, tmp_path):
    """delete_rows must rewrite ONLY zone-map-matching batches: the
    other batch dirs carry over by NAME (same files, never opened for
    write), and the erased snapshot excludes exactly the subject."""
    import os

    from pyspark.sql import functions as F

    from mkpipe_extractor_clickhouse_spark.catalog import load_table
    from mkpipe_extractor_clickhouse_spark.sources.manifest import (
        ManifestedTable,
    )

    t = ManifestedTable(str(tmp_path / "ev"), stats_cols=("user_id",))
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    mx = ev.agg(F.max("user_id")).first()[0]
    step = max(mx // 4, 1)
    bounds = [0, step, 2 * step, 3 * step, mx + 1]
    for lo, hi in zip(bounds, bounds[1:]):
        t.commit_append(
            ev.filter((F.col("user_id") >= lo) & (F.col("user_id") < hi))
        )
    before = t.manifest()
    target_user = 3  # inside the first bucket at every fixture scale
    mtimes_before = {
        d: os.path.getmtime(str(tmp_path / "ev" / d)) for d in before["dirs"]
    }
    v = t.delete_rows(spark, "user_id", target_user)
    after = t.manifest(v)
    carried = [d for d in after["dirs"] if d in before["dirs"]]
    rewritten = [d for d in before["dirs"] if d not in after["dirs"]]
    # only the one bucket covering user 42 is rewritten
    assert len(rewritten) == 1
    assert len(carried) == len(before["dirs"]) - 1
    for d in carried:  # carried dirs untouched on disk
        assert os.path.getmtime(str(tmp_path / "ev" / d)) == mtimes_before[d]
    got = t.read(spark)
    assert got.filter(F.col("user_id") == target_user).count() == 0
    assert (
        got.count()
        == ev.count() - ev.filter(F.col("user_id") == target_user).count()
    )
    # value provably absent → no-op, same head
    assert t.delete_rows(spark, "user_id", 10**8) == v


def test_clone_at_is_zero_copy_and_independent(spark, sf_dir, tmp_path):
    """clone_at hardlinks the snapshot's files (same inodes, no data
    copy), reads identically, and mutating the clone leaves the source
    untouched — including after the source vacuums."""
    import os

    from pyspark.sql import functions as F

    from mkpipe_extractor_clickhouse_spark.catalog import load_table
    from mkpipe_extractor_clickhouse_spark.sources.manifest import (
        ManifestedTable,
    )

    src = ManifestedTable(str(tmp_path / "src"), stats_cols=("user_id",))
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    src.commit_append(ev.filter(F.col("event_id") % 2 == 0))
    src.commit_append(ev.filter(F.col("event_id") % 2 != 0))
    n_src = src.read(spark).count()

    clone = src.clone_at(str(tmp_path / "fork"))
    assert clone.read(spark).count() == n_src
    # same inodes — zero copy
    d0 = src.manifest()["dirs"][0]
    f0 = sorted(os.listdir(tmp_path / "src" / d0))[0]
    assert os.path.samefile(
        tmp_path / "src" / d0 / f0, tmp_path / "fork" / d0 / f0
    )
    # fork mutates independently
    clone.delete_rows(spark, "user_id", 3)
    assert src.read(spark).count() == n_src
    assert (
        clone.read(spark).filter(F.col("user_id") == 3).count() == 0
    )


def test_clone_at_hive_partitioned_batch(spark, tmp_path):
    """clone_at recreates a hive-partitioned batch's p=<v>/ tree and
    links the files inside it: the clone reads the same rows, with the
    partition column, as the source."""
    src = ManifestedTable(str(tmp_path / "src"), stats_cols=("k",))
    df = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("p")
    )
    src.commit_append(df.filter("k < 10"), partition_by=("p",))
    src.commit_append(df.filter("k >= 10"))
    clone = src.clone_at(str(tmp_path / "fork"))

    def rows(t):
        return sorted(tuple(r) for r in t.read(spark).select("k", "p").collect())

    assert rows(clone) == rows(src) == [(k, k % 3) for k in range(20)]
    d0 = src.manifest()["dirs"][0]
    part = sorted(
        n for n in os.listdir(tmp_path / "src" / d0) if n.startswith("p=")
    )[0]
    f0 = sorted(
        n for n in os.listdir(tmp_path / "src" / d0 / part)
        if n.endswith(".parquet")
    )[0]
    assert os.path.samefile(
        tmp_path / "src" / d0 / part / f0, tmp_path / "fork" / d0 / part / f0
    )


def test_clustered_compaction_tightens_zone_maps(spark, sf_dir, tmp_path):
    """compact(sort_by=col) must produce range-disjoint files whose
    zone maps make read_pruned skip most of the table; unclustered
    appends (random user order per batch) cannot be pruned."""
    from pyspark.sql import functions as F

    from mkpipe_extractor_clickhouse_spark.catalog import load_table
    from mkpipe_extractor_clickhouse_spark.sources.manifest import (
        ManifestedTable,
    )

    t = ManifestedTable(str(tmp_path / "ev"), stats_cols=("user_id",))
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    # interleaved appends: every batch covers the FULL user range, so
    # zone maps cannot skip anything
    for k in range(4):
        t.commit_append(ev.filter(F.col("event_id") % 4 == k))
    kept, skipped = t.prune_dirs("user_id", 3, 3)
    assert not skipped  # every batch might contain user 3

    v = t.compact(spark, target_files=4, sort_by="user_id")
    kept2, skipped2 = t.prune_dirs("user_id", 3, 3, version=v)
    # after clustering the single compacted dir is all that remains —
    # file-level stats inside it are now disjoint; dir-level pruning
    # still sees one dir, so assert VALUE correctness + file ranges
    got = t.read_pruned(spark, "user_id", 3, 3, version=v)
    want = ev.filter(F.col("user_id") == 3).count()
    assert got.count() == want
    # range-disjoint files: parquet footers of the compacted dir must
    # not all overlap user 3
    import pyarrow.parquet as pq
    import os

    d = [x for x in t.manifest(v)["dirs"]][0]
    covering = 0
    for fn in os.listdir(tmp_path / "ev" / d):
        if not fn.endswith(".parquet"):
            continue
        md = pq.read_metadata(str(tmp_path / "ev" / d / fn))
        col_idx = [
            md.row_group(0).column(i).path_in_schema
            for i in range(md.row_group(0).num_columns)
        ].index("user_id")
        st = md.row_group(0).column(col_idx).statistics
        if st.min <= 3 <= st.max:
            covering += 1
    assert covering <= 1, "clustered files should be range-disjoint"


def test_concurrent_multi_table_ticks_keep_all_pins(spark, sf_dir, tmp_path):
    """Two catalogs ticks writing DIFFERENT tables concurrently: the
    final catalog head must carry BOTH tables' newest versions — the
    lost-update mode is one tick's stale carry-forward pin rolling the
    other table's pointer back."""
    import threading

    from mkpipe_extractor_clickhouse_spark.sources.manifest import (
        ManifestCatalog,
    )

    cat = ManifestCatalog(str(tmp_path / "cat"))
    errs = []

    def tick(table_name: str):
        try:
            for _ in range(5):
                cat.commit_multi({table_name: (spark.range(2), "append")})
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [
        threading.Thread(target=tick, args=("alpha",)),
        threading.Thread(target=tick, args=("beta",)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    snap = cat.snapshot()
    # each table committed 5 appends → its own head version is 5, and
    # the catalog must pin BOTH at 5 (a lost update pins one lower)
    assert snap == {"alpha": 5, "beta": 5}, snap
    assert cat.read(spark, "alpha").count() == 10
    assert cat.read(spark, "beta").count() == 10


def test_clone_at_cross_device_fallback(spark, sf_dir, tmp_path, monkeypatch):
    """When the destination is on a different filesystem (os.link →
    EXDEV), clone_at falls back to a real copy and still produces an
    identical, independent table; any other link failure cleans up the
    half-created dest tree instead of leaving it behind."""
    import errno
    import os

    from pyspark.sql import functions as F

    from mkpipe_extractor_clickhouse_spark.catalog import load_table
    from mkpipe_extractor_clickhouse_spark.sources import manifest as mmod
    from mkpipe_extractor_clickhouse_spark.sources.manifest import (
        ManifestedTable,
    )

    src = ManifestedTable(str(tmp_path / "src2"), stats_cols=("user_id",))
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    src.commit_append(ev.filter(F.col("event_id") <= 200))

    real_link = os.link

    def exdev_link(a, b):
        # only batch-file links "cross devices"; the manifest publish
        # protocol's same-dir link stays real
        if "_manifests" in b:
            return real_link(a, b)
        raise OSError(errno.EXDEV, "Invalid cross-device link", b)

    monkeypatch.setattr(mmod.os, "link", exdev_link)
    clone = src.clone_at(str(tmp_path / "fork2"))
    assert clone.read(spark).count() == src.read(spark).count()
    d0 = src.manifest()["dirs"][0]
    f0 = sorted(os.listdir(tmp_path / "src2" / d0))[0]
    # copied, NOT linked
    assert not os.path.samefile(
        tmp_path / "src2" / d0 / f0, tmp_path / "fork2" / d0 / f0
    )

    def eperm_link(a, b):
        if "_manifests" in b:
            return real_link(a, b)
        raise OSError(errno.EPERM, "Operation not permitted", b)

    monkeypatch.setattr(mmod.os, "link", eperm_link)
    import pytest as _pytest

    with _pytest.raises(OSError):
        src.clone_at(str(tmp_path / "fork3"))
    assert not os.path.exists(tmp_path / "fork3")
    monkeypatch.setattr(mmod.os, "link", real_link)


def test_zorder_compaction_prunes_both_columns(spark, sf_dir, tmp_path):
    """compact(zorder_by=(a, b), split_dirs=True) must publish range
    partitions of the Morton key as separate dirs whose manifest zone
    maps prune on EITHER column; a single-column sort serves only its
    leading column.  Value parity vs a plain filter on every path."""
    from pyspark.sql import functions as F

    from mkpipe_extractor_clickhouse_spark.catalog import load_table
    from mkpipe_extractor_clickhouse_spark.sources.manifest import (
        ManifestedTable,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("value").cast("double").alias("value")
    )

    t = ManifestedTable(
        str(tmp_path / "zev"), stats_cols=("user_id", "value")
    )
    for k in range(4):
        t.commit_append(ev.filter(F.col("event_id") % 4 == k))
    # interleaved appends: nothing prunes on either column
    assert not t.prune_dirs("user_id", 10, 12)[1]
    assert not t.prune_dirs("value", 100.0, 120.0)[1]

    v = t.compact(
        spark, target_files=8, zorder_by=("user_id", "value"),
        split_dirs=True,
    )
    assert len(t.manifest(v)["dirs"]) > 1  # split into range dirs
    kept_u, skip_u = t.prune_dirs("user_id", 10, 12, version=v)
    kept_v, skip_v = t.prune_dirs("value", 100.0, 120.0, version=v)
    assert skip_u, "z-order must prune dirs on the first column"
    assert skip_v, "z-order must prune dirs on the SECOND column too"

    # single-column clustering for contrast: trailing column unpruned
    t2 = ManifestedTable(
        str(tmp_path / "sev"), stats_cols=("user_id", "value")
    )
    for k in range(4):
        t2.commit_append(ev.filter(F.col("event_id") % 4 == k))
    v2 = t2.compact(
        spark, target_files=8, sort_by="user_id", split_dirs=True
    )
    assert t2.prune_dirs("user_id", 10, 12, version=v2)[1]
    assert len(t2.prune_dirs("value", 100.0, 120.0, version=v2)[1]) <= len(
        skip_v
    )

    # correctness: pruned read == plain filter, on both columns
    for col, lo, hi in (("user_id", 10, 12), ("value", 100.0, 120.0)):
        got = t.read_pruned(spark, col, lo=lo, hi=hi, version=v).count()
        want = ev.filter(F.col(col).between(lo, hi)).count()
        assert got == want, col


def test_loader_auto_compaction_bounds_dir_count(spark, sf_dir):
    """auto_compact_max_dirs: incremental ticks accrete one dir each;
    once the head exceeds the bound, the loader runs a compaction tick
    after its own commit — dir count stays bounded, content and the
    in-manifest watermark are untouched."""
    import tempfile

    from mkpipe_extractor_clickhouse_spark.catalog import load_table
    from mkpipe_extractor_clickhouse_spark.sources.manifest import ManifestLoader

    with tempfile.TemporaryDirectory() as tmp:
        table = TableConfig(
            name="events",
            replication_method="incremental",
            iterate_column="event_id",
            iterate_column_type="int",
            dedup_keys=("event_id",),
        )
        loader = ManifestLoader(tmp, auto_compact_max_dirs=3)
        runner = IncrementalRunner(
            extractor=ParquetExtractor(sf_dir), loader=loader
        )
        n_source = load_table(spark, sf_dir, "events").count()
        cuts = [n_source // 5 * k for k in range(1, 5)] + [n_source]
        for cut in cuts:
            runner.run_once(
                spark, table, source_filter=F.col("event_id") < cut
            )
        mt = loader.table(table)
        assert len(mt.manifest()["dirs"]) <= 3 + 1  # bound + this tick
        assert mt.read(spark).count() == n_source
        assert loader.last_point(table) == str(n_source - 1)
        # maintenance never eats a tick: one more idle tick is a no-op
        head = mt.head_version()
        runner.run_once(spark, table)
        assert mt.read(spark).count() == n_source
        assert mt.head_version() == head


# ---- round-5: deterministic compact-vs-commit interleavings ---------
#
# The threaded stress tests above catch the lost-update class only when
# the scheduler happens to interleave badly; these drive the EXACT
# interleavings by hand (monkeypatched injection points), so the race
# reproduces on every run.


def _compact_with_append_injected(spark, mt, when: str):
    """Run mt.compact() with a concurrent append from a SECOND handle
    injected at a precise point inside the compaction: either before
    the rewrite is staged or after staging, just before publish. Both
    land after compact captured its base snapshot, so the parent pin
    must make the compact publish collide and abort."""
    from mkpipe_extractor_clickhouse_spark.sources.manifest import (
        ManifestedTable,
    )

    writer = ManifestedTable(mt.table_dir)  # independent handle
    orig_stage = mt.stage_batch
    injected = {}

    def staging_hook(df):
        if when == "before_stage" and not injected:
            injected["v"] = writer.commit_append(spark.range(900, 905))
        name = orig_stage(df)
        if when == "after_stage" and not injected:
            injected["v"] = writer.commit_append(spark.range(900, 905))
        return name

    mt.stage_batch = staging_hook
    try:
        mt.compact(spark, target_files=1)
    finally:
        mt.stage_batch = orig_stage
    assert injected, "injection point never fired"


@pytest.mark.parametrize("when", ["before_stage", "after_stage"])
def test_compact_vs_append_interleaving_deterministic(spark, mt, when):
    """Compaction racing an append at each handoff point, repeated:
    the append must NEVER be lost, and the abandoned rewrite must not
    leak into the dirs list."""
    expect = set()
    for i in range(3):
        mt.commit_append(spark.range(i * 10, i * 10 + 10))
        expect |= set(range(i * 10, i * 10 + 10))
    for round_ in range(4):
        _compact_with_append_injected(spark, mt, when)
        expect |= set(range(900, 905))
        got = {r.id for r in mt.read(spark).collect()}
        assert got == expect, f"round {round_}: lost rows {expect - got}"
        # the aborted rewrite is not referenced by ANY live manifest
        head = mt.manifest()
        assert head["op"] == "append"
        # a clean compact right after converges (no lingering conflict)
        v = mt.compact(spark, target_files=1)
        assert mt.manifest(v)["op"] == "compact"
        assert {r.id for r in mt.read(spark).collect()} == expect
        # next iteration: fresh dirs so compaction has work to do
        mt.commit_append(spark.range(1000 + round_, 1001 + round_))
        expect.add(1000 + round_)


def test_compact_crash_between_stage_and_publish(spark, mt):
    """Kill the compactor after the rewritten dir is staged but before
    the manifest swap-in: readers never see the torn state, the orphan
    is vacuumable, and a rerun converges."""
    for i in range(3):
        mt.commit_append(spark.range(i * 10, i * 10 + 10))
    before_rows = {r.id for r in mt.read(spark).collect()}
    head_before = mt.head_version()
    orig_publish = mt._publish

    def crashing_publish(dirs, op, meta, parent=None, stats=None, bloom=None):
        if op == "compact":
            raise RuntimeError("simulated crash before swap-in")
        return orig_publish(
            dirs, op, meta, parent=parent, stats=stats, bloom=bloom
        )

    mt._publish = crashing_publish
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            mt.compact(spark, target_files=1)
    finally:
        mt._publish = orig_publish
    # head untouched, data intact, orphan staged dir present
    assert mt.head_version() == head_before
    assert {r.id for r in mt.read(spark).collect()} == before_rows
    live = set(mt.manifest()["dirs"])
    on_disk = {
        n for n in os.listdir(mt.table_dir)
        if n.startswith("batch-")
        and os.path.isdir(os.path.join(mt.table_dir, n))
    }
    orphans = on_disk - live
    assert len(orphans) == 1
    # recovery: vacuum sweeps the orphan (exclusive access → age 0)...
    removed = mt.vacuum(keep_versions=mt.head_version(), min_age_seconds=0)
    assert orphans == set(removed)
    # ...and the rerun compacts cleanly
    v = mt.compact(spark, target_files=1)
    assert mt.manifest(v)["op"] == "compact"
    assert {r.id for r in mt.read(spark).collect()} == before_rows


def test_compact_split_dirs_crash_mid_rename(spark, mt, monkeypatch):
    """Crash in the middle of split_dirs' per-partition renames: some
    -pNNNN dirs exist, the partially-drained staging dir exists, none
    are referenced — the table reads exactly as before and vacuum
    reclaims every fragment."""
    import mkpipe_extractor_clickhouse_spark.sources.manifest as mm

    big = spark.range(0, 400).withColumn("k", F.col("id") % 7)
    mt2 = ManifestedTable(str(mt.table_dir), stats_cols=("id",))
    mt2.commit_append(big)
    before_rows = mt2.read(spark).count()
    head_before = mt2.head_version()

    real_makedirs = os.makedirs
    calls = {"n": 0}

    def failing_makedirs(path, *a, **kw):
        if "-p" in os.path.basename(path):
            calls["n"] += 1
            if calls["n"] == 3:  # die on the 3rd range partition
                raise RuntimeError("simulated crash mid-split")
        return real_makedirs(path, *a, **kw)

    monkeypatch.setattr(mm.os, "makedirs", failing_makedirs)
    with pytest.raises(RuntimeError, match="mid-split"):
        mt2.compact(spark, target_files=4, sort_by="id", split_dirs=True)
    monkeypatch.undo()

    assert calls["n"] == 3
    assert mt2.head_version() == head_before
    assert mt2.read(spark).count() == before_rows
    live = set(mt2.manifest()["dirs"])
    on_disk = {
        n for n in os.listdir(mt2.table_dir)
        if n.startswith("batch-")
        and os.path.isdir(os.path.join(mt2.table_dir, n))
    }
    # fragments exist (partial split) and are all unreferenced
    assert on_disk - live
    mt2.vacuum(keep_versions=mt2.head_version(), min_age_seconds=0)
    assert mt2.read(spark).count() == before_rows
    v = mt2.compact(spark, target_files=4, sort_by="id", split_dirs=True)
    assert mt2.manifest(v)["op"] == "compact"
    assert mt2.read(spark).count() == before_rows


def test_loader_auto_compact_races_append_tick(spark, sf_dir):
    """The r4 auto-compaction surface: a foreign append landing between
    the loader tick's commit and its maintenance compaction. The
    compact must abort (parent pin), the foreign rows must survive,
    and the NEXT tick's compaction folds everything in."""
    import tempfile

    from mkpipe_extractor_clickhouse_spark.sources.manifest import (
        ManifestedTable,
        ManifestLoader,
    )

    with tempfile.TemporaryDirectory() as tmp:
        table = TableConfig(
            name="events",
            replication_method="incremental",
            iterate_column="event_id",
            iterate_column_type="int",
            dedup_keys=("event_id",),
        )
        loader = ManifestLoader(tmp, auto_compact_max_dirs=1)
        runner = IncrementalRunner(
            extractor=ParquetExtractor(sf_dir), loader=loader
        )
        runner.run_once(spark, table, source_filter=F.col("event_id") < 50)
        runner.run_once(spark, table, source_filter=F.col("event_id") < 100)

        # third tick: inject a foreign append between the tick's publish
        # and the auto-compact that follows it (the compact stages via
        # stage_batch — second staging call of the tick)
        orig_stage = ManifestedTable.stage_batch
        state = {"stages": 0, "injected": False}
        foreign = ManifestedTable(os.path.join(tmp, "events.mfst"))
        foreign_df = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("event_id") >= 200)
            .limit(7)
        )

        def hooked_stage(self, df, partition_by=None):
            state["stages"] += 1
            name = orig_stage(self, df, partition_by=partition_by)
            if state["stages"] == 2 and not state["injected"]:
                # this is the compaction's staging write → race it
                state["injected"] = True
                foreign.commit_append(foreign_df)
            return name

        ManifestedTable.stage_batch = hooked_stage
        try:
            runner.run_once(
                spark, table, source_filter=F.col("event_id") < 150
            )
        finally:
            ManifestedTable.stage_batch = orig_stage
        assert state["injected"], "compaction tick never staged"

        mt = loader.table(table)
        n = mt.read(spark).count()
        assert n == 150 + 7  # tick rows AND the foreign append survive
        assert mt.manifest()["op"] == "append"  # compact aborted
        # watermark untouched by the aborted maintenance
        assert loader.last_point(table) == "149"
        # next tick: compaction succeeds on the quiet table
        runner.run_once(spark, table, source_filter=F.col("event_id") < 160)
        mt = loader.table(table)
        assert mt.manifest()["op"] == "compact"
        assert len(mt.manifest()["dirs"]) == 1
        assert mt.read(spark).count() == 160 + 7


def test_bloom_skip_index_point_lookup(spark, tmp_path):
    """Bloom skip index: no false negatives for any committed value,
    real dir skipping for absent/other-batch values, and dirs without
    a bloom are always kept."""
    from mkpipe_extractor_clickhouse_spark.sources.manifest import (
        ManifestedTable,
    )

    mt = ManifestedTable(str(tmp_path / "t"), bloom_cols=("k",))
    # three batches with disjoint key ranges
    for lo in (0, 100, 200):
        mt.commit_append(
            spark.range(lo, lo + 50).selectExpr("id AS k", "id * 2 AS v")
        )
    # every committed value must be found (no false negatives)
    for probe in (0, 49, 100, 149, 200, 249):
        kept, _ = mt.prune_dirs_point("k", probe)
        df = mt.read_point(spark, "k", probe)
        assert df is not None and df.count() == 1
    # a value in exactly one batch skips the other two (false positives
    # could reduce this, but at 4096 bits / 50 keys they are ~absent)
    kept, skipped = mt.prune_dirs_point("k", 120)
    assert len(kept) == 1 and len(skipped) == 2
    # absent value: every dir is skipped → read_point returns None
    kept_a, _ = mt.prune_dirs_point("k", 99999)
    assert kept_a == [] and mt.read_point(spark, "k", 99999) is None
    # a reader without bloom metadata keeps every dir (optimization,
    # never a filter): simulate by probing a column with no bloom
    kept_n, skipped_n = mt.prune_dirs_point("v", 4)
    assert skipped_n == [] and len(kept_n) == 3


def test_bloom_geometry_survives_reader_config(spark, tmp_path):
    """The bloom geometry (bit count + hash count) is persisted WITH
    the bitset: a reader constructed with different bloom_bits/
    bloom_hashes than the writer must still find every committed value
    (no false negatives) — probing with the reader's own geometry
    would compute positions mod the wrong size and silently skip dirs
    that contain the probe."""
    from mkpipe_extractor_clickhouse_spark.sources.manifest import (
        ManifestedTable,
    )

    writer = ManifestedTable(
        str(tmp_path / "t"), bloom_cols=("k",), bloom_bits=4096,
        bloom_hashes=5,
    )
    for lo in (0, 100):
        writer.commit_append(
            spark.range(lo, lo + 50).selectExpr("id AS k", "id * 2 AS v")
        )
    reader = ManifestedTable(
        str(tmp_path / "t"), bloom_cols=("k",), bloom_bits=512,
        bloom_hashes=2,
    )
    for probe in range(0, 150, 7):
        if probe >= 50 and probe < 100:
            continue
        kept, _ = reader.prune_dirs_point("k", probe)
        df = reader.read_point(spark, "k", probe)
        assert df is not None and df.count() == 1, probe
    # pruning still WORKS through the persisted geometry (not just
    # degraded to keep-everything)
    kept, skipped = reader.prune_dirs_point("k", 120)
    assert len(kept) == 1 and len(skipped) == 1
    # malformed persisted entries are kept, never skipped
    assert reader.bloom_might_contain({"bits": "zz", "k": 5}, 1)
    assert reader.bloom_might_contain({"bits": "", "k": 5}, 1)
    assert reader.bloom_might_contain(None, 1)


def test_bloom_bits_round_to_whole_bytes(spark, tmp_path):
    """A bloom_bits that isn't a multiple of 8 rounds UP to whole
    bytes at construction: positions are computed mod bloom_bits and
    the reader derives geometry as len(bits)*8, so a ragged size
    would IndexError at commit (writer) or probe with the wrong
    modulus (reader). Write + probe must work end-to-end."""
    import pytest

    from mkpipe_extractor_clickhouse_spark.sources.manifest import (
        ManifestedTable,
    )

    mt = ManifestedTable(
        str(tmp_path / "t"), bloom_cols=("k",), bloom_bits=4097,
    )
    assert mt.bloom_bits == 4104  # next multiple of 8
    mt.commit_append(spark.range(0, 50).selectExpr("id AS k", "id AS v"))
    mt.commit_append(spark.range(100, 150).selectExpr("id AS k", "id AS v"))
    for probe in (0, 49, 100, 149):
        df = mt.read_point(spark, "k", probe)
        assert df is not None and df.count() == 1
    kept, skipped = mt.prune_dirs_point("k", 120)
    assert len(kept) == 1 and len(skipped) == 1
    with pytest.raises(ValueError, match="bloom_bits"):
        ManifestedTable(str(tmp_path / "t2"), bloom_bits=0)


# ---- named refs: branches and tags ---------------------------------


def test_branch_isolation_and_fast_forward(spark, mt):
    from mkpipe_extractor_clickhouse_spark.sources.manifest import (
        CommitConflict,
    )

    mt.commit_append(spark.range(5))
    v2 = mt.commit_append(spark.range(3))
    mt.branch_create("main")          # ref at head (v2)
    mt.branch_create("dev")           # forked at the same snapshot
    mt.commit_append_on("dev", spark.range(10))
    mt.commit_append_on("dev", spark.range(100, 102))
    # isolation: dev sees its chain, main still sees only v2
    assert mt.read_ref(spark, "dev").count() == 5 + 3 + 10 + 2
    assert mt.read_ref(spark, "main").count() == 8
    assert mt.read(spark, version=v2).count() == 8  # time travel intact
    # fast-forward: main's tip is an ancestor of dev's chain
    tip = mt.fast_forward("main", "dev")
    assert mt.branch_head("main") == tip == mt.branch_head("dev")
    assert mt.read_ref(spark, "main").count() == 20
    # idempotent when equal
    assert mt.fast_forward("main", "dev") == tip
    # divergence: both advance independently → FF must refuse
    mt.commit_append_on("main", spark.range(1))
    mt.commit_append_on("dev", spark.range(1))
    with pytest.raises(CommitConflict):
        mt.fast_forward("main", "dev")


def test_tag_immutable_and_ref_cas(spark, mt):
    from mkpipe_extractor_clickhouse_spark.sources.manifest import (
        CommitConflict,
    )

    v1 = mt.commit_append(spark.range(4))
    mt.branch_create("release-1", version=v1, kind="tag")
    assert mt.refs() == {"release-1": v1}
    with pytest.raises(CommitConflict):
        mt.commit_append_on("release-1", spark.range(1))
    mt.branch_create("b")
    with pytest.raises(CommitConflict):
        mt.fast_forward("release-1", "b")
    # exclusive creation
    with pytest.raises(CommitConflict):
        mt.branch_create("b")
    # a tag pins its snapshot through later overwrites of the head
    mt.commit_overwrite(spark.range(99))
    assert mt.read_ref(spark, "release-1").count() == 4


def test_branch_concurrent_appends_lose_no_commit(spark, mt):
    """Two writers race on ONE branch: the generation-file CAS makes
    the loser re-merge against the winner's tip — both batches land,
    like the linear-log equivalent test."""
    import threading

    mt.commit_append(spark.range(2))
    mt.branch_create("dev")
    errs = []

    def w(lo):
        try:
            mt.commit_append_on("dev", spark.range(lo, lo + 5))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=w, args=(lo,)) for lo in (10, 20)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert mt.read_ref(spark, "dev").count() == 2 + 5 + 5
    # versionless read() is the LOG TAIL (audit view): the newest
    # snapshot is the winning branch commit, so it sees both batches
    # too — governed readers address a ref, never the bare head
    assert mt.read(spark).count() == 12


def test_ttl_three_way_classification(spark, tmp_path):
    """apply_ttl: whole-expired dirs drop metadata-only, straddlers
    rewrite keeping only surviving rows, later dirs carry over
    untouched (same dir name), empty-after-filter straddlers vanish,
    and the pre-TTL snapshot stays time-travel readable."""
    t = ManifestedTable(str(tmp_path / "ev"), stats_cols=("event_id",))
    t.commit_overwrite(spark.range(0, 10).withColumnRenamed("id", "event_id"))
    t.commit_append(spark.range(10, 20).withColumnRenamed("id", "event_id"))
    t.commit_append(spark.range(20, 30).withColumnRenamed("id", "event_id"))
    pre = t.head_version()
    s = t.apply_ttl(spark, "event_id", 15)
    assert len(s["dropped_metadata_only"]) == 1
    assert len(s["rewritten"]) == 1
    assert len(s["kept"]) == 1
    got = sorted(r.event_id for r in t.read(spark).collect())
    assert got == list(range(15, 30))
    # untouched dir is carried by NAME (no copy)
    assert set(s["kept"]) <= set(t.manifest()["dirs"])
    # the fully-expiring TTL leaves an empty table, not an error
    assert t.read(spark, version=pre).count() == 30
    s2 = t.apply_ttl(spark, "event_id", 1000)
    assert t.read(spark) is None or t.read(spark).count() == 0
    assert not s2["kept"] and not s2["rewritten"]


def test_ttl_rollup_collapses_and_preserves_sums(spark, tmp_path):
    """apply_ttl_rollup: expired rows collapse through the caller's
    aggregate while survivors (including the straddler's recent half)
    keep row granularity; group sums are preserved exactly."""
    t = ManifestedTable(str(tmp_path / "ev"), stats_cols=("k",))
    df = spark.range(0, 30).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g"),
        F.lit(1).cast("long").alias("v"),
    )
    t.commit_overwrite(df.filter("k < 10"))
    t.commit_append(df.filter("k >= 10 AND k < 20"))
    t.commit_append(df.filter("k >= 20"))

    def roll(old):
        return old.groupBy("g").agg(
            F.min("k").alias("k"), F.sum("v").alias("v")
        )

    s = t.apply_ttl_rollup(spark, "k", 15, roll)
    assert len(s["kept"]) == 1 and s["rolled_dir"]
    post = t.read(spark)
    # 3 collapsed rows (one per g) + 15 surviving raw rows
    assert post.count() == 3 + 15
    # total v preserved: every original row contributed exactly once
    assert post.agg(F.sum("v")).first()[0] == 30
    collapsed = post.filter("k < 15")
    assert collapsed.count() == 3
    assert {r.g for r in collapsed.collect()} == {0, 1, 2}


def test_check_constraints_reject_and_sweep(spark, tmp_path):
    """CHECK constraints: violating batches are refused at staging on
    EVERY write path (append, overwrite, branch append), the staged
    dir is deleted, NULL predicate results violate, and valid commits
    flow through unchanged."""
    from mkpipe_extractor_clickhouse_spark.sources.manifest import (
        ConstraintViolation,
    )

    t = ManifestedTable(
        str(tmp_path / "ev"),
        check_constraints=("v > 0", "k IS NOT NULL"),
    )
    good = spark.range(1, 6).select(
        F.col("id").alias("k"), F.col("id").cast("long").alias("v")
    )
    t.commit_append(good)
    assert t.read(spark).count() == 5

    bad_value = spark.createDataFrame([(9, 0)], "k long, v long")
    with pytest.raises(ConstraintViolation):
        t.commit_append(bad_value)
    bad_null = spark.createDataFrame([(None, 3)], "k long, v long")
    with pytest.raises(ConstraintViolation):
        t.commit_overwrite(bad_null)
    # NULL constraint result is a violation, not a pass
    null_pred = spark.createDataFrame([(1, None)], "k long, v long")
    with pytest.raises(ConstraintViolation):
        t.commit_append(null_pred)
    t.branch_create("dev")
    with pytest.raises(ConstraintViolation):
        t.commit_append_on("dev", bad_value)
    # nothing changed, nothing leaked
    assert t.read(spark).count() == 5
    on_disk = {d for d in os.listdir(t.table_dir) if d.startswith("batch-")}
    assert on_disk == set(t.manifest()["dirs"])


def test_partition_evolution_reads_and_prunes(spark, tmp_path):
    """Three partition specs coexist: flat, day-partitioned, and
    (day, type)-partitioned batches read as one table; a spec change
    rewrites nothing; day filters reach the partitioned batches as
    PartitionFilters."""
    t = ManifestedTable(str(tmp_path / "ev"))
    df = spark.range(0, 90).select(
        F.col("id").alias("k"),
        F.to_date(
            F.concat(F.lit("2024-01-0"), (F.col("id") % 3 + 1))
        ).alias("day"),
        (F.col("id") % 2).cast("string").alias("typ"),
        (F.col("id") * 2).alias("val"),
    )
    t.commit_overwrite(df.filter(F.col("k") < 30))
    flat_dir = t.manifest()["dirs"][0]
    t.commit_append(
        df.filter(F.col("k").between(30, 59)), partition_by=("day",)
    )
    # fingerprint the older batches before the next spec change
    def snap(d):
        base = tmp_path / "ev" / d
        return sorted(
            (str(p.relative_to(base)), p.stat().st_size, p.stat().st_mtime_ns)
            for p in base.rglob("*") if p.is_file()
        )
    before = {d: snap(d) for d in t.manifest()["dirs"]}
    t.commit_append(
        df.filter(F.col("k") >= 60), partition_by=("day", "typ")
    )
    assert {d: snap(d) for d in before} == before  # nothing rewritten
    specs = sorted(t.batch_spec(d) for d in t.manifest()["dirs"])
    assert specs == [(), ("day",), ("day", "typ")]
    assert t.batch_spec(flat_dir) == ()
    out = t.read(spark)
    assert out.count() == 90
    got = sorted(tuple(r) for r in out.select("k", "val").collect())
    assert got == [(i, 2 * i) for i in range(90)]
    # day filter: correct rows AND partition pruning in the plan
    day2 = out.filter(F.col("day") == "2024-01-02")
    assert day2.count() == 30
    plan = day2._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan or "day#" in plan


def test_declared_schema_read_spans_evolved_specs(spark, tmp_path):
    """The boundary read of an append declares its schema; over a
    snapshot whose batches have different partition specs it goes
    through the per-spec read too, and runs no footer-inference job."""
    from pyspark.sql import types as T

    t = ManifestedTable(str(tmp_path / "ev"))
    df = spark.range(0, 60).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("day")
    )
    t.commit_overwrite(df.filter(F.col("k") < 30))
    t.commit_append(df.filter(F.col("k") >= 30), partition_by=("day",))
    sc = spark.sparkContext
    group = f"declared-read-{tmp_path.name}"
    sc.setJobGroup(group, "declared-schema snapshot read")
    try:
        out = t.read(spark, schema=T.StructType([T.StructField("k", T.LongType())]))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert sorted(r.k for r in out.select("k").collect()) == list(range(60))


# ---- one commit path: metadata invariant, TTL classifier, evolved specs ----


@pytest.mark.parametrize("cutoff", ["2024-01-10 06:00:00", "datetime"])
@pytest.mark.parametrize("op", ["apply_ttl", "apply_ttl_rollup"])
def test_ttl_cutoff_compares_as_instant(spark, tmp_path, op, cutoff):
    """A TTL cutoff in ``str(datetime)`` form expires the same rows as
    the datetime: three same-day rows, each hours before the cutoff, all
    expire.  Compared as raw strings, ``'2024-01-10 06:00:00'`` sorted
    below the stored ``'2024-01-10T…'`` zone map, so the dir was kept
    whole."""
    from datetime import datetime

    if cutoff == "datetime":
        cutoff = datetime(2024, 1, 10, 6)
    t = ManifestedTable(str(tmp_path / "ts.mfst"), stats_cols=("ts",))
    t.commit_append(
        spark.createDataFrame(
            [(datetime(2024, 1, 10, h), 1) for h in (1, 3, 5)],
            "ts timestamp_ntz, v long",
        )
    )
    if op == "apply_ttl":
        s = t.apply_ttl(spark, "ts", cutoff)
        assert len(s["dropped_metadata_only"]) == 1 and not s["kept"]
        assert t.read(spark) is None
    else:
        s = t.apply_ttl_rollup(
            spark,
            "ts",
            cutoff,
            lambda old: old.agg(F.max("ts").alias("ts"), F.sum("v").alias("v")),
        )
        assert not s["kept"] and s["rolled_dir"]
        got = [tuple(r) for r in t.read(spark).collect()]
        assert got == [(datetime(2024, 1, 10, 5), 3)]


def _bloomed_loader_table(spark, sf_dir, tmp_path):
    """Two loader ticks into a destination whose table also declares a
    bloom column."""

    class BloomedLoader(ManifestLoader):
        def table(self, table):
            mt = super().table(table)
            return ManifestedTable(
                mt.table_dir, stats_cols=mt.stats_cols, bloom_cols=("user_id",)
            )

    table = TableConfig(
        name="events",
        replication_method="incremental",
        iterate_column="event_id",
        iterate_column_type="int",
        dedup_keys=("event_id",),
    )
    loader = BloomedLoader(str(tmp_path / "dest"))
    runner = IncrementalRunner(extractor=ParquetExtractor(sf_dir), loader=loader)
    for cut in (100, 200):
        runner.run_once(spark, table, source_filter=F.col("event_id") < cut)
    return loader.table(table)


def _roll_by_u(old):
    return old.groupBy("u").agg(F.min("k").alias("k"))


# op name → op(table, spark, df, tmp_path), run on a table with zone maps
# on k and blooms on u
_WRITE_OPS = {
    "append": lambda t, spark, df, tmp: t.commit_append(df.filter("k < 5")),
    "overwrite": lambda t, spark, df, tmp: t.commit_overwrite(df.filter("k < 5")),
    "rollback": lambda t, spark, df, tmp: (
        t.commit_overwrite(df.filter("k < 5")),
        t.rollback(t.head_version() - 1),
    ),
    "merge": lambda t, spark, df, tmp: t.merge(
        spark, df.filter("k < 3").withColumn("u", F.lit(99).cast("long")), keys=("k",)
    ),
    "delete_rows": lambda t, spark, df, tmp: t.delete_rows(spark, "k", 15),
    "compact": lambda t, spark, df, tmp: t.compact(spark),
    "compact_sort_by": lambda t, spark, df, tmp: t.compact(spark, target_files=2, sort_by="k"),
    "compact_split_dirs": lambda t, spark, df, tmp: t.compact(
        spark, target_files=3, sort_by="k", split_dirs=True
    ),
    "apply_ttl": lambda t, spark, df, tmp: t.apply_ttl(spark, "k", 15),
    "apply_ttl_rollup": lambda t, spark, df, tmp: t.apply_ttl_rollup(spark, "k", 15, _roll_by_u),
    "clone_at": lambda t, spark, df, tmp: t.clone_at(str(tmp / "clone")),
    "commit_append_on": lambda t, spark, df, tmp: (
        t.branch_create("dev"),
        t.commit_append_on("dev", df.filter("k < 5")),
    ),
}


@pytest.mark.parametrize("op", [*_WRITE_OPS, "ManifestLoader.load"])
def test_every_write_op_records_zone_maps_and_blooms(spark, sf_dir, tmp_path, op):
    """Whatever op publishes it, a manifest carries the zone map and the
    bloom of every dir it lists: dirs the op carries over keep theirs,
    dirs it writes or re-exposes get theirs."""
    if op == "ManifestLoader.load":
        t = published = _bloomed_loader_table(spark, sf_dir, tmp_path)
    else:
        t = ManifestedTable(
            str(tmp_path / "t.mfst"), stats_cols=("k",), bloom_cols=("u",)
        )
        df = spark.range(0, 30).select(
            F.col("id").alias("k"), (F.col("id") * 7 % 11).alias("u")
        )
        for lo in (0, 10, 20):
            t.commit_append(df.filter(F.col("k").between(lo, lo + 9)))
        out = _WRITE_OPS[op](t, spark, df, tmp_path)
        published = out if op == "clone_at" else t
    m = published.manifest()
    assert m["dirs"]
    for d in m["dirs"]:
        assert set(m["stats"].get(d, {})) == set(t.stats_cols), d
        assert set(m.get("bloom", {}).get(d, {})) == set(t.bloom_cols), d


@pytest.mark.parametrize("op", ["delete_rows", "apply_ttl", "apply_ttl_rollup"])
def test_rewrites_keep_each_dirs_partition_spec(spark, tmp_path, op):
    """A table with a hive-partitioned batch (``partition_by=("p",)``)
    and a flat one: ops that rewrite dirs read each through its own
    spec and restage it with that spec, so the rows are right and ``p``
    reads with the type it had."""
    t = ManifestedTable(str(tmp_path / "pe.mfst"), stats_cols=("k",))
    df = spark.range(0, 20).select(F.col("id").alias("k"), (F.col("id") % 2).alias("p"))
    t.commit_append(df.filter("k < 10"), partition_by=("p",))
    t.commit_append(df.filter("k >= 10"))
    p_type = t.read(spark).schema["p"].dataType
    if op == "delete_rows":
        t.delete_rows(spark, "p", 1)  # no zone map for p: both dirs rewritten
        expect = [(k, 0) for k in range(0, 20, 2)]
    elif op == "apply_ttl":
        s = t.apply_ttl(spark, "k", 5)
        assert len(s["rewritten"]) == 1 and len(s["kept"]) == 1
        expect = [(k, k % 2) for k in range(5, 20)]
    else:
        s = t.apply_ttl_rollup(
            spark, "k", 5, lambda old: old.groupBy("p").agg(F.min("k").alias("k"))
        )
        assert len(s["kept"]) == 1 and s["rolled_dir"]
        expect = [(0, 0), (1, 1)] + [(k, k % 2) for k in range(5, 20)]
    out = t.read(spark)
    assert out.schema["p"].dataType == p_type
    assert sorted(tuple(r) for r in out.select("k", "p").collect()) == expect
