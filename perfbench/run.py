"""Benchmark of the engine's three user-facing surfaces.

Usage (from the repository root):

    python3 perfbench/run.py --workload custom_query_oneshot --seed 1 --seconds 10 --trace 0

Workloads: ``custom_query_oneshot``, ``incremental_tick``,
``llm_dedup_search`` (see ``perfbench/README.md``).  One process, one
closed-loop client, the engine's default session (``get_spark()`` with no
extra confs).  Inputs are generated from ``--seed`` into a scratch
directory ``.perfbench_tmp/`` at the repository root, deleted at exit,
by a helper process that also runs the DuckDB oracles and the checks.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``.  The line before it carries provenance and
per-operation detail.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# Status-API settings the traced run needs for its counters; nothing else
# is added to the engine's session.
TRACE_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.port": "0",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}

# Every end-to-end metric with its unit; the detail line carries all of
# them, the result line the ones BENCHMARK.json bounds.  On a shared
# 4-core host the load other tenants put on it drifts over minutes and
# moved wall_s, op_s.* and rows_per_s of one workload by 20-30% between
# runs, so those are reported, not bounded.  duckdb_ratio times Spark
# against DuckDB doing the same work right after it, on the same host at
# the same moment, so it tracks Spark latency with that drift divided out;
# cpu_s is what a pass costs, and stolen time does not count in it (nor
# does the JVM's JIT compiler, whose leftover warm-up work in the timed
# pass varied by seconds from run to run).
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_s.p50": "s",
    "op_s.tail": "s",
    "cpu_s": "s",
    "rows_per_s": "1/s",
    "duckdb_ratio": "ratio",
    "peak_rss_mb": "MB",
}
BOUNDED = ("setup_s", "cpu_s", "duckdb_ratio", "peak_rss_mb")
# Set-up is measured this many times per run, each in a fresh process and
# JVM, and the median is reported: one set-up moved by up to 40% with the
# host's momentary load.  Each costs ~10 s on a 4-core host, and a full
# measurement (4 + 22 runs per workload) must fit in 3420 s.
SETUPS = 2
PER_LAYER = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "catalog.first_touch_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.pin_bytes": "bytes",
    "exec.exec_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "spark.floor_s": "s",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.scan_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.result_bytes": "bytes",
    "arrow.bytes_to_python": "bytes",
    "arrow.bytes_from_python": "bytes",
    "extract.extract_s": "s",
    "extract.jobs": "count",
    "extract.rows": "count",
    "ch_dialect.translate_s": "s",
    "load.load_s": "s",
    "load.rows_written": "count",
    "load.boundary_rows_absorbed": "count",
    "load.useful_ratio": "ratio",
    "load.files_written": "count",
    "load.write_amplification": "ratio",
    "state.commit_s": "s",
    "trace.wall_s": "s",
    "trace.unattributed_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["custom_query_oneshot", "incremental_tick", "llm_dedup_search"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measure whole passes until this many seconds have passed (at least one)")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--sf", type=float, default=0.1, help="input scale factor (0.1 ≈ 600k lineitem rows)")
    p.add_argument("--inject", choices=["wrong_query_result", "drop_destination_row"],
                   help="self-test only: corrupt one output to prove the checks catch it")
    p.add_argument("--spans", help="traced run: write the spans as JSON to this path")
    p.add_argument("--setups", type=int, default=SETUPS,
                   help="set-ups per run, each in a fresh JVM; setup_s is their median")
    p.add_argument("--setup-probe", metavar="SF_DIR", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples above it (nearest rank).  Below 100 samples that percentile
    is under p90 and says nothing about the tail, so the slowest sample
    (p100) is reported instead."""
    xs = sorted(samples)
    n = len(xs)
    if n < 100:
        return 100.0, xs[-1]
    q = (n - 10) / n
    return round(100 * q, 1), xs[max(0, math.ceil(q * n) - 1)]


def provenance(spark, args) -> dict:
    from importlib.metadata import version

    from mkpipe_extractor_clickhouse_spark import session

    heap = spark.conf.get("spark.driver.memory")
    heap_gib = float(heap[:-1]) if heap.endswith("g") else float("nan")
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or "unknown"
    except OSError:
        sha = "unknown"
    return {
        "workload": args.workload,
        "seed": args.seed,
        "sf": args.sf,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "host_ram_gib": round(os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / (1 << 30), 1),
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_heap": heap,
        "heap_below_validated_floor": heap_gib < session._VALIDATED_FLOOR_GIB,
        "validated_floor_gib": session._VALIDATED_FLOOR_GIB,
        "pyspark": version("pyspark"),
        "duckdb": version("duckdb"),
        "python": platform.python_version(),
        "git_sha": sha,
    }


def contain_scratch(tmp: Path) -> None:
    """Keep Spark's, the JVM's and Python's scratch files inside ``tmp``."""
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def adopt_orphans() -> None:
    """Make this process the parent of any descendant whose own parent
    exits first, such as the Python workers the JVM forks, which can
    outlive the JVM for a moment; ``reap`` then waits for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap(grace: float = 30.0) -> None:
    """Wait until every child of this process, adopted ones too, has
    exited: after ``grace`` seconds send SIGTERM, after twice that
    SIGKILL."""
    from multiprocessing import resource_tracker

    import procstat

    # A SIGTERM from here on would cut the wait short; the wait ends
    # within 2 * grace seconds anyway.
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    # The tracker the helper's spawn started exits only when its pipe
    # closes; this closes it and waits.
    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + grace
    sig = signal.SIGTERM
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for c in procstat.children(os.getpid()):
                try:
                    os.kill(c, sig)
                except OSError:
                    pass
            deadline += grace
            sig = signal.SIGKILL
        time.sleep(0.05)


WORKLOADS = {
    "custom_query_oneshot": "CustomQueryOneshot",
    "incremental_tick": "IncrementalTick",
    "llm_dedup_search": "LlmDedupSearch",
}


def set_up(args, sf_dir: str):
    """``get_spark``, the registry import, first touch of the workload's
    inputs: the session and each part's seconds."""
    import workloads

    tables = getattr(workloads, WORKLOADS[args.workload]).tables
    t0 = time.perf_counter()
    from mkpipe_extractor_clickhouse_spark.session import get_spark

    spark = get_spark(extra_conf=TRACE_CONF if args.trace else None)
    t1 = time.perf_counter()
    from mkpipe_extractor_clickhouse_spark import registry

    registry.all_specs()
    t2 = time.perf_counter()
    try:
        workloads.first_touch(spark, sf_dir, tables)
    except BaseException:
        stop_spark(spark)
        raise
    t3 = time.perf_counter()
    return spark, {
        "session.start_s": t1 - t0,
        "registry.load_s": t2 - t1,
        "catalog.first_touch_s": t3 - t2,
    }


def setup_probe(args, sf_dir: str) -> dict[str, float]:
    """One more set-up in a fresh process and JVM, like the run's own."""
    cmd = [sys.executable, str(Path(__file__).resolve()), "--setup-probe", sf_dir,
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", "0",
           "--trace", str(args.trace)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    try:
        out, err = proc.communicate(timeout=150)
    except BaseException:
        # SIGTERM lets the probe stop its JVM; SIGKILL would orphan it.
        proc.terminate()
        try:
            proc.communicate(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
        raise
    if proc.returncode != 0:
        raise RuntimeError(f"set-up probe failed: {err[-2000:]}")
    return json.loads(out.splitlines()[-1])


def run(args, tmp: Path) -> tuple[dict, dict]:
    import workloads
    from helper import Helper
    from tracing import Tracer

    cls = getattr(workloads, WORKLOADS[args.workload])
    tracer = Tracer(bool(args.trace))
    helper = Helper()
    try:
        wl = cls(args.seed, args.sf, str(tmp / "data"), tracer, helper, args.inject)
        t_start = time.perf_counter()
        wl.prepare()
        t0 = time.perf_counter()
        setups = [setup_probe(args, wl.sf_dir) for _ in range(args.setups - 1)]
        t1 = time.perf_counter()
        spark, own = set_up(args, wl.sf_dir)
        setups.append(own)
        t_setup = time.perf_counter()
        try:
            detail, final = measure(args, spark, wl, tracer, setups)
        finally:
            t5 = time.perf_counter()
            stop_spark(spark)
    finally:
        helper.close()
    detail["phases"] = {
        "prepare_s": t0 - t_start,
        "setup_probes_s": t1 - t0,
        "setup_s": t_setup - t1,
        **detail["phases"],
        "stop_s": time.perf_counter() - t5,
    }
    return detail, final


def measure(args, spark, wl, tracer, setups) -> tuple[dict, dict]:
    """Warm-up pass, timed passes, and the metrics of the run."""
    import procstat
    from pyspark import SparkContext
    from tracing import StatusCounters

    from mkpipe_extractor_clickhouse_spark import registry

    layer = {k: statistics.median(s[k] for s in setups) for k in setups[0]}
    tracer.sc = spark.sparkContext
    wl.jvm_pid = SparkContext._gateway.proc.pid
    wl.setup(spark, registry)
    if args.trace:
        floor = []
        for _ in range(6):
            s = time.perf_counter()
            spark.range(1).write.format("noop").mode("overwrite").save()
            floor.append(time.perf_counter() - s)
        layer["spark.floor_s"] = statistics.median(floor[1:])

    # Pass 0 warms the JVM and the Python workers and checks every
    # operation's output; it is not timed into the metrics.  The peak
    # memory is then re-based, so that it is the timed passes' peak and
    # the warm-up's result collects for the checks do not count.
    t4 = time.perf_counter()
    tracer.pass_no = 0
    warmup = wl.run_pass(0)
    procstat.reset_peak(procstat.engine_pids(wl.jvm_pid))
    records = []
    passes = []
    start = time.perf_counter()
    while not passes or time.perf_counter() - start < args.seconds:
        p = len(passes) + 1
        tracer.pass_no = p
        records += wl.run_pass(p)
        passes.append(p)
    rss = procstat.peak_rss_mb(procstat.engine_pids(wl.jvm_pid))
    counters = StatusCounters(spark.sparkContext).collect() if args.trace else {}
    prov = provenance(spark, args)
    phases = {"warmup_s": start - t4, "measure_s": time.perf_counter() - start}

    ok_times = [r.seconds for r in records if r.ok]
    pass_walls = [sum(r.seconds for r in records if r.pass_no == p) for p in passes]
    tail_pct, tail_s = tail(ok_times) if ok_times else (100.0, float("nan"))
    spark_by_op, duck_by_op = defaultdict(list), defaultdict(list)
    for r in records:
        if r.ok:
            spark_by_op[r.name].append(r.seconds)
        if r.duck_s is not None:
            duck_by_op[r.name].append(r.duck_s)
    both = [n for n in spark_by_op if duck_by_op.get(n)]
    duck_total = sum(statistics.median(duck_by_op[n]) for n in both)
    e2e = {
        "setup_s": statistics.median(sum(s.values()) for s in setups),
        "wall_s": statistics.median(pass_walls),
        "op_s.p50": statistics.median(ok_times) if ok_times else float("nan"),
        "op_s.tail": tail_s,
        "cpu_s": statistics.median(
            sum(r.cpu_s for r in records if r.pass_no == p) for p in passes
        ),
        "rows_per_s": sum(r.source_rows for r in records if r.ok) / max(sum(ok_times), 1e-9),
        "duckdb_ratio": (sum(statistics.median(spark_by_op[n]) for n in both) / duck_total
                         if duck_total else float("nan")),
        "peak_rss_mb": rss,
    }
    failed = [r for r in warmup + records if not r.ok]
    detail = {
        "provenance": prov,
        "attempted": len(warmup) + len(records),
        "failed": len(failed),
        "ops_failed_ratio": len(failed) / (len(warmup) + len(records)),
        "errors": [f"{r.name}#{r.pass_no}: {r.error}" for r in failed][:10],
        "phases": phases,
        "setups_s": [sum(s.values()) for s in setups],
        "jit_cpu_s": statistics.median(
            sum(r.jit_cpu_s for r in records if r.pass_no == p) for p in passes
        ),
        "passes": len(passes),
        "op_samples": len(ok_times),
        "tail_percentile": tail_pct,
        "op_median_s": {n: statistics.median(v) for n, v in sorted(spark_by_op.items())},
        "duckdb_median_s": {n: statistics.median(v) for n, v in sorted(duck_by_op.items())},
    }
    # A run whose operations all failed has no latency to report.
    e2e = {k: v if math.isfinite(v) else None for k, v in e2e.items()}
    detail["end_to_end"] = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    metrics = {k: detail["end_to_end"][k] for k in BOUNDED}
    if args.trace:
        layer.update(per_layer(tracer, wl, counters, passes, pass_walls))
        detail["per_layer"] = layer
        detail["self_s"] = tracer.self_times()
        detail["op_counters"] = {t: c for t, c in counters.items() if t.startswith("op:")}
        # Spark jobs run while building each query: pins, driver collects
        # and, for l18, two per connected-components round.
        detail["build_jobs_by_op"] = {t[len("build:"):]: c["jobs"] for t, c in counters.items()
                                      if t.startswith("build:")}
        if args.spans:
            tracer.dump(args.spans)
        metrics = {k: {"value": layer.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
    final = {
        "correct": not failed,
        "attempted": len(warmup) + len(records),
        "failed": len(failed),
        "metrics": metrics,
    }
    return detail, final


def per_layer(tracer, wl, counters, passes, pass_walls) -> dict[str, float]:
    """Per-pass layer values, median over the passes."""
    def pass_of(span) -> int:
        return int((span["op"] or "#-1").rsplit("#", 1)[1])

    span_s: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in tracer.spans:
        span_s[pass_of(s)][s["name"]] += s["end"] - s["start"]
    self_s = tracer.self_times(by=pass_of)

    exec_tag = "tick" if wl.name == "incremental_tick" else "exec"
    rows = []
    for p, wall in zip(passes, pass_walls):
        c = lambda tag, key: counters.get(f"{tag}@{p}", {}).get(key, 0.0)  # noqa: E731
        notes = wl.layer.get(p, {})
        extracted = notes.get("extract.rows", 0.0)
        written = notes.get("load.rows_written", 0.0)
        v = {
            "operators.build_s": span_s[p]["operators.build"],
            "operators.build_jobs": c("operators.build", "jobs"),
            "operators.pin_bytes": notes.get("operators.pin_bytes", 0.0),
            "exec.exec_s": span_s[p]["exec"],
            "arrow.bytes_to_python": c(exec_tag, "bytes_to_python") + c("operators.build", "bytes_to_python"),
            "arrow.bytes_from_python": c(exec_tag, "bytes_from_python") + c("operators.build", "bytes_from_python"),
            "extract.extract_s": span_s[p]["extract"],
            "extract.jobs": c("extract", "jobs"),
            "extract.rows": extracted,
            "ch_dialect.translate_s": span_s[p]["ch_dialect.translate"],
            "load.load_s": span_s[p]["load"],
            "load.rows_written": written,
            "load.boundary_rows_absorbed": extracted - written,
            "load.useful_ratio": written / extracted if extracted else 0.0,
            "load.files_written": notes.get("load.files_written", 0.0),
            "load.write_amplification": (notes["load.dest_bytes"] / notes["load.src_bytes"]
                                         if notes.get("load.src_bytes") else 0.0),
            "state.commit_s": span_s[p]["state.commit"],
            "trace.wall_s": wall,
            "trace.unattributed_s": self_s.get(p, {}).get("op", 0.0),
        }
        for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                    "scan_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                    "result_bytes"):
            v[f"exec.{key}"] = c(exec_tag, key)
        rows.append(v)
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    try:
        import mkpipe_extractor_clickhouse_spark as engine
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not Path(engine.__file__).resolve().is_relative_to(ROOT):
        print(f"perfbench: the engine was imported from {engine.__file__}, not from {ROOT}",
              file=sys.stderr)
        return 2
    # A terminated run still stops its JVM and removes its scratch.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    adopt_orphans()
    try:
        return _main(args)
    finally:
        reap()


def _main(args) -> int:
    if args.setup_probe:
        spark, times = set_up(args, args.setup_probe)
        try:
            print(json.dumps(times))
        finally:
            stop_spark(spark)
        return 0
    tmp = ROOT / ".perfbench_tmp" / f"{args.workload}-{args.seed}-{os.getpid()}"
    tmp.mkdir(parents=True)
    contain_scratch(tmp)
    try:
        detail, final = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            tmp.parent.rmdir()  # only when no concurrent run still uses it
        except OSError:
            pass
    for e in detail["errors"]:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    print(json.dumps(detail, default=str))
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
