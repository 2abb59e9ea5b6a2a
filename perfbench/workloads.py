"""The three workloads.  Each runs the engine through its public functions
(``session.get_spark``, ``registry.all_specs()[name].builder``,
``pipeline.run_pipelines``) and checks every operation's output.

A pass is one complete unit of user work: the query set once, or one full
arrival sequence of the incremental pipeline.  An operation is one query
(rebuild + execute into the ``noop`` sink) or one pipeline tick.

Everything here runs in the engine's process.  Input generation, the
DuckDB oracles and the output checks run in the helper process
(``helper.py``).
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

import checks
import procstat
from tracing import Tracer, pinned_bytes

CUSTOM_QUERIES = (
    "t2_tumbling_window",
    "l3_topk_cosine",
    "l5_wordcount",
    "q3_shipping_priority",
    "q10_returned_items",
    "s1_full_scan",
    "j1_inner_equi",
    "j11_multiway_star",
    "q1_pricing_summary",
    "a2_group_agg",
    "o3_topk",
)
# One operation per layer the workload stresses: the l2 near-duplicate
# join with its eager pins plus connected-components rounds (l18, whose
# build runs l2's), the mapInArrow top-k kernel (l4c), and Lloyd k-means
# with driver collects (l20).
LLM_QUERIES = (
    "l18_dedup_clusters",
    "l4c_packed_topk",
    "l20_kmeans_ivf",
)


@dataclasses.dataclass
class OpRecord:
    pass_no: int
    name: str
    seconds: float
    ok: bool
    cpu_s: float = 0.0
    jit_cpu_s: float = 0.0
    duck_s: float | None = None
    source_rows: int = 0
    error: str | None = None


class Workload:
    name = ""
    tables: tuple[str, ...] = ()

    def __init__(self, seed: int, sf: float, data_dir: str, tracer: Tracer, helper,
                 inject: str | None):
        self.seed = seed
        self.sf = sf
        self.data_dir = data_dir
        self.sf_dir = os.path.join(data_dir, "catalog")
        self.tracer = tracer
        self.helper = helper
        self.inject = inject
        self.jvm_pid: int | None = None  # set once the session is up
        self.layer: dict[int, dict[str, float]] = {}  # pass -> per-layer values

    def note(self, pass_no: int, key: str, value: float) -> None:
        acc = self.layer.setdefault(pass_no, {})
        acc[key] = acc.get(key, 0.0) + value

    def cpu_snapshot(self):
        return procstat.cpu_snapshot(procstat.engine_pids(self.jvm_pid))


def first_touch(spark, sf_dir: str, tables: tuple[str, ...]) -> None:
    from mkpipe_extractor_clickhouse_spark.catalog import load_table

    for t in tables:
        load_table(spark, sf_dir, t).count()


class QueryWorkload(Workload):
    """Registry queries, each run one-shot: rebuild plus execute into the
    ``noop`` sink, in a seeded order each pass.  Outputs are checked once
    per run, in the warm-up pass (pass 0), against the DuckDB oracle; in
    the timed passes the oracle runs right after each query, timed."""

    queries: tuple[str, ...] = ()
    inputs: tuple[str, ...] | None = None  # the tables to generate; None: all

    def prepare(self) -> None:
        self.file_rows = self.helper.call(
            "prepare_queries", self.seed, self.sf, self.inputs, self.sf_dir
        )

    def setup(self, spark, registry) -> None:
        self.spark = spark
        self.specs = registry.all_specs()
        self.oracles = registry.oracle_sql()
        self.source_rows: dict[str, int] = {}

    def run_pass(self, pass_no: int) -> list[OpRecord]:
        rng = np.random.default_rng([self.seed, pass_no])
        order = [self.queries[i] for i in rng.permutation(len(self.queries))]
        return [self._run_op(name, pass_no) for name in order]

    def _run_op(self, name: str, pass_no: int) -> OpRecord:
        tr, sc = self.tracer, self.spark.sparkContext
        tr.op = f"{self.name}/{name}#{pass_no}"
        rec = OpRecord(pass_no, name, 0.0, True)
        try:
            pins_before = pinned_bytes(sc) if tr.enabled else {}
            c0, t0 = self.cpu_snapshot(), time.perf_counter()
            with tr.span("op", f"op:{tr.op}"):
                with tr.span("operators.build", f"operators.build@{pass_no}", f"build:{tr.op}"):
                    df = self.specs[name].builder(self.spark, self.sf_dir)
                if tr.enabled:
                    pins = pinned_bytes(sc)
                    self.note(pass_no, "operators.pin_bytes",
                              sum(v for k, v in pins.items() if k not in pins_before))
                with tr.span("exec", f"exec@{pass_no}"):
                    df.write.format("noop").mode("overwrite").save()
            rec.seconds = time.perf_counter() - t0
            rec.cpu_s, rec.jit_cpu_s = procstat.cpu_between(c0, self.cpu_snapshot())
            if name not in self.source_rows:
                files = (f.removeprefix("file:") for f in df.inputFiles())
                self.source_rows[name] = sum(self.file_rows.get(os.path.abspath(f), 0) for f in files)
            rec.source_rows = self.source_rows[name]
            if pass_no == 0:
                rec.error = self._check(name, df)
                rec.ok = rec.error is None
            else:
                rec.duck_s = self.helper.call("time_oracle", self.oracles[name])
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            rec.ok, rec.error = False, f"{type(e).__name__}: {e}"[:500]
        return rec

    def _check(self, name: str, df) -> str | None:
        result = df.toArrow()
        if self.inject == "wrong_query_result" and name == self.queries[0]:
            result = result.slice(1)
        return self.helper.call("check_query", self.oracles[name], result)


class CustomQueryOneshot(QueryWorkload):
    name = "custom_query_oneshot"
    queries = CUSTOM_QUERIES
    tables = ("events", "embeddings", "documents", "lineitem", "orders", "customer", "nation")


class LlmDedupSearch(QueryWorkload):
    name = "llm_dedup_search"
    queries = LLM_QUERIES
    tables = inputs = ("documents", "embeddings")


# ---- incremental pipeline tick ----------------------------------------

@dataclasses.dataclass
class TickTable:
    name: str
    dest: str  # "lake" (parquet) or "mfst" (manifest)
    column: str
    column_type: str
    keys: tuple[str, ...]
    custom_query: str | None = None
    duck_projection: str | None = None  # the custom query's columns, in DuckDB


TICK_TABLES = (
    TickTable("lineitem", "lake", "l_orderkey", "int", ("l_orderkey", "l_linenumber")),
    TickTable("events", "lake", "ts", "datetime", ("event_id",)),
    TickTable(
        "orders", "mfst", "o_orderkey", "int", ("o_orderkey",),
        custom_query=(
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
            "o_orderdate, toYear(o_orderdate) AS o_year, o_orderpriority "
            "FROM orders {query_filter}"
        ),
        duck_projection=(
            "o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
            "o_orderdate, year(o_orderdate) AS o_year, o_orderpriority"
        ),
    ),
)
INITIAL_SHARE = 0.4
ARRIVALS = 3
IDLE_TICKS = 1
REDELIVERY_SHARE = 0.5


class IncrementalTick(Workload):
    """``run_pipelines`` over a config of the reference's YAML shape, one
    call per tick: an initial full load, ``ARRIVALS`` arrival ticks, then
    ``IDLE_TICKS`` ticks with no new data.  Before each tick the next
    seeded arrival slice lands as a new file in each source table's
    directory; each slice also re-delivers a share of the rows at the
    previous slice's boundary value.  Every destination is checked after
    every tick."""

    name = "incremental_tick"
    tables = tuple(t.name for t in TICK_TABLES)

    def prepare(self) -> None:
        self.slices = self.helper.call(
            "prepare_tick", self.seed, self.sf, self.sf_dir, os.path.join(self.data_dir, "slices")
        )

    def setup(self, spark, registry) -> None:
        from mkpipe_extractor_clickhouse_spark.pipeline import run_pipelines

        self.spark = spark
        self.run_pipelines = run_pipelines
        if self.tracer.enabled:
            _wrap_tick_layers(self.tracer, self)

    def _config(self, root: str) -> dict:
        pipelines = []
        for dest in ("lake", "mfst"):
            tables = []
            for t in TICK_TABLES:
                if t.dest != dest:
                    continue
                d = {
                    "name": t.name,
                    "replication_method": "incremental",
                    "iterate_column": t.column,
                    "iterate_column_type": t.column_type,
                    "dedup_keys": list(t.keys),
                }
                if t.custom_query:
                    d["custom_query"] = t.custom_query
                    d["custom_query_dialect"] = "clickhouse"
                tables.append(d)
            pipelines.append({"name": f"to_{dest}", "source": "src", "destination": dest, "tables": tables})
        return {
            "connections": {
                "src": {"variant": "parquet", "path": f"{root}/src"},
                "lake": {"variant": "parquet", "path": f"{root}/lake"},
                "mfst": {"variant": "manifest", "path": f"{root}/mfst"},
            },
            "pipelines": pipelines,
        }

    def run_pass(self, pass_no: int) -> list[OpRecord]:
        root = os.path.join(self.data_dir, f"pass{pass_no}")
        config = self._config(root)
        duck_state: dict = {}
        records = []
        n_ticks = 1 + ARRIVALS + IDLE_TICKS
        try:
            for tick in range(n_ticks):
                src_bytes = 0
                for t in TICK_TABLES:
                    if tick < len(self.slices[t.name]):
                        path = os.path.join(root, "src", f"{t.name}.parquet", f"part-{tick:05d}.parquet")
                        os.makedirs(os.path.dirname(path), exist_ok=True)
                        shutil.copyfile(self.slices[t.name][tick], path)
                        src_bytes += os.path.getsize(path)
                dest_before = self._dest_files(root)
                self.tracer.op = f"{self.name}/tick{tick}#{pass_no}"
                rec = OpRecord(pass_no, f"tick{tick}", 0.0, True)
                try:
                    c0, t0 = self.cpu_snapshot(), time.perf_counter()
                    with self.tracer.span("op", f"op:{self.tracer.op}", f"tick@{pass_no}"):
                        out = self.run_pipelines(config, self.spark)
                    rec.seconds = time.perf_counter() - t0
                    rec.cpu_s, rec.jit_cpu_s = procstat.cpu_between(c0, self.cpu_snapshot())
                    errors = [r.error for rs in out.values() for r in rs if r.status == "error"]
                    if errors:
                        raise RuntimeError(errors[0])
                    if pass_no:  # the warm-up pass is not timed
                        rec.duck_s, duck_state = self.helper.call("duck_tick", root, duck_state)
                    rec.source_rows = self._account(pass_no, root, dest_before, src_bytes)
                    if self.inject == "drop_destination_row" and tick == 1:
                        _drop_one_row(os.path.join(root, "lake", "lineitem.parquet"))
                    rec.error = self.helper.call("check_tick", root)
                    rec.ok = rec.error is None
                except Exception as e:  # noqa: BLE001 — a failed tick is counted, not fatal
                    rec.ok, rec.error = False, f"{type(e).__name__}: {e}"[:500]
                records.append(rec)
        finally:
            shutil.rmtree(root, ignore_errors=True)
        return records

    def _dest_files(self, root: str) -> dict[str, int]:
        files = {}
        for sub in ("lake", "mfst"):
            d = os.path.join(root, sub)
            if os.path.isdir(d):
                for f in checks.parquet_files(d):
                    files[f] = os.path.getsize(f)
        return files

    def _account(self, pass_no, root, before, src_bytes) -> int:
        """Record the tick's load counters; returns the rows it landed."""
        new = {f: s for f, s in self._dest_files(root).items() if f not in before}
        written = sum(pq.read_metadata(f).num_rows for f in new)
        self.note(pass_no, "load.rows_written", written)
        self.note(pass_no, "load.files_written", len(new))
        self.note(pass_no, "load.dest_bytes", sum(new.values()))
        self.note(pass_no, "load.src_bytes", src_bytes)
        return written


def _drop_one_row(table_dir: str) -> None:
    """Fault injection for the self-tests: delete one destination row."""
    f = checks.parquet_files(table_dir)[0]
    tbl = pq.read_table(f)
    pq.write_table(tbl.slice(1), f)


def _wrap_tick_layers(tracer: Tracer, wl: IncrementalTick) -> None:
    """Traced run only: spans (and job tags) around the engine's extract,
    load and state-commit calls, installed on the classes that
    ``run_pipelines`` instantiates, so the traced tick runs the same code
    path as the untraced one.  ``extract.rows`` counts the rows of the
    batch the extractor hands to the loader, through an observed metric
    that rides the loader's write (no extra Spark job)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from mkpipe_extractor_clickhouse_spark.sources import ch_dialect, extract, manifest, state

    def wrap(owner, attr: str, layer: str, tagged: bool = True):
        fn = getattr(owner, attr)

        def wrapper(*a, **kw):
            tags = (f"{layer}@{tracer.pass_no}",) if tagged else ()
            with tracer.span(layer, *tags):
                return fn(*a, **kw)

        setattr(owner, attr, wrapper)

    def observe_rows(result):
        if result.df is not None:
            obs = Observation()
            result.df = result.df.observe(obs, F.count(F.lit(1)).alias("n"))
            result._pb_rows = obs
        return result

    def count_rows(result) -> None:
        obs = getattr(result, "_pb_rows", None)
        if obs is not None:
            # Non-blocking: a batch the loader never materialized has no rows.
            row = obs._jo.getRowOrEmpty()
            if row.isDefined():
                wl.note(tracer.pass_no, "extract.rows", obs.get["n"])

    wrap(extract.ParquetExtractor, "extract", "extract")
    traced_extract = extract.ParquetExtractor.extract
    extract.ParquetExtractor.extract = lambda *a, **kw: observe_rows(traced_extract(*a, **kw))

    for loader in (extract.ParquetLoader, manifest.ManifestLoader):
        wrap(loader, "load", "load")

        def load(self, spark, table, result, _traced=loader.load):
            try:
                return _traced(self, spark, table, result)
            finally:
                count_rows(result)

        loader.load = load
    wrap(state.WatermarkStore, "set", "state.commit")
    wrap(ch_dialect, "translate", "ch_dialect.translate", tagged=False)

    # Manifest destination: the commit is the interval from the end of
    # staging the batch to the end of the atomic publish.
    stage, publish = manifest.ManifestedTable.stage_batch, manifest.ManifestedTable._publish
    staged_at: list[float] = [0.0]

    def stage_batch(*a, **kw):
        out = stage(*a, **kw)
        staged_at[0] = time.perf_counter()
        return out

    def _publish(*a, **kw):
        try:
            return publish(*a, **kw)
        finally:
            tracer.add_span("state.commit", staged_at[0], time.perf_counter())

    manifest.ManifestedTable.stage_batch = stage_batch
    manifest.ManifestedTable._publish = _publish
