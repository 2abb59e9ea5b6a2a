"""Benchmark-side tracing: spans around calls into the engine's layers and
Spark status-API counters attributed per operation through job tags.

Nothing here reaches inside the engine.  Spans are opened by the
benchmark around the public calls it makes (or around engine methods it
wraps for the traced run); Spark jobs are attributed to an operation and a
phase by tags the benchmark sets on the submitting thread
(``SparkContext.addJobTag``), and read back from the status REST API once,
at the end of the run.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
import urllib.request
from collections import defaultdict

TAG_PREFIX = "pb:"


class Tracer:
    """In-memory span recorder.  Disabled tracers cost one attribute test
    per span and record nothing."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self.pass_no = 0

    @contextlib.contextmanager
    def span(self, name: str, *tags: str):
        """Record ``name`` around the block; the Spark jobs submitted
        inside it carry ``pb:<tag>`` for each of ``tags``."""
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append({})
        parent = self._stack[-1] if self._stack else None
        self._stack.append(idx)
        for tag in tags:
            self.sc.addJobTag(TAG_PREFIX + tag)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            for tag in tags:
                self.sc.removeJobTag(TAG_PREFIX + tag)
            self._stack.pop()
            self.spans[idx] = {
                "name": name,
                "start": start,
                "end": end,
                "parent": parent,
                "op": self.op,
            }

    def add_span(self, name: str, start: float, end: float) -> None:
        """Record an interval measured by the caller, as a child of the
        innermost open span."""
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            self.spans.append(
                {"name": name, "start": start, "end": end, "parent": parent, "op": self.op}
            )

    def self_times(self, by=None) -> dict:
        """Self time per span name: duration minus the part of it its
        child spans cover (overlapping children count once).  With
        ``by``, grouped first by ``by(span)``: ``{group: {name: s}}``."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.get("parent") is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict = defaultdict(lambda: defaultdict(float))
        for i, s in enumerate(self.spans):
            covered, last = 0.0, s["start"]
            for a, b in sorted(children.get(i, ())):
                a = max(a, last)
                if b > a:
                    covered += b - a
                    last = b
            out[by(s) if by else None][s["name"]] += (s["end"] - s["start"]) - covered
        if by is None:
            return dict(out[None])
        return {k: dict(v) for k, v in out.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)


# ---- status REST API --------------------------------------------------

STAGE_FIELDS = {
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "inputBytes": ("scan_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "resultSize": ("result_bytes", 1),
    "numTasks": ("tasks", 1),
}
SQL_METRICS = {
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_size(value: str) -> float:
    """Bytes from a SQL-metric string: either a bare number or the
    ``total (min, med, max ...)\\n5.5 KiB (...)`` summary (one decimal of
    the unit: the status API does not expose the raw sum)."""
    line = value.split("\n", 1)[-1]
    m = re.match(r"\s*([\d.]+)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    return float(m.group(1)) * _UNITS.get(m.group(2) or "B", 1)


class StatusCounters:
    """Per-tag Spark counters read once from the status REST API."""

    def __init__(self, sc):
        self.sc = sc

    def _get(self, path: str):
        base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        with urllib.request.urlopen(base + path, timeout=60) as resp:
            return json.load(resp)

    def collect(self) -> dict[str, dict[str, float]]:
        """``{tag: {jobs, stages, tasks, executor_run_s, ...}}`` for every
        benchmark tag; a job counts toward each tag it carries."""
        # The status store is fed asynchronously by the listener bus.
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = self._get("/jobs")
        stages = {
            s["stageId"]: s
            for s in self._get("/stages")
            if s["status"] == "COMPLETE"
        }
        executions = self._get(
            "/sql?details=true&planDescription=false&offset=0&length=1000000"
        )
        sql_by_job: dict[int, dict[str, float]] = {}
        for e in executions:
            vals: dict[str, float] = defaultdict(float)
            for node in e.get("nodes", ()):
                for m in node.get("metrics", ()):
                    key = SQL_METRICS.get(m["name"])
                    if key:
                        vals[key] += parse_size(m["value"])
            job_ids = e.get("successJobIds", []) + e.get("failedJobIds", [])
            if job_ids:
                # attribute each execution once, to its first job
                sql_by_job[min(job_ids)] = vals
        tag_jobs: dict[str, set[int]] = defaultdict(set)
        tag_stages: dict[str, set[int]] = defaultdict(set)
        for job in jobs:
            for t in job.get("jobTags", ()):
                if t.startswith(TAG_PREFIX):
                    tag = t[len(TAG_PREFIX):]
                    tag_jobs[tag].add(job["jobId"])
                    # a stage reused by a later job is counted once
                    tag_stages[tag].update(i for i in job["stageIds"] if i in stages)
        out: dict[str, dict[str, float]] = {}
        for tag, job_ids in tag_jobs.items():
            acc: dict[str, float] = defaultdict(float)
            acc["jobs"] = len(job_ids)
            acc["stages"] = len(tag_stages[tag])
            for i in tag_stages[tag]:
                for field, (key, scale) in STAGE_FIELDS.items():
                    acc[key] += stages[i].get(field, 0) * scale
            for j in job_ids:
                for key, v in sql_by_job.get(j, {}).items():
                    acc[key] += v
            out[tag] = dict(acc)
        return out


def pinned_bytes(sc) -> dict[int, int]:
    """Storage bytes held per RDD id (checkpoint and cache blocks)."""
    return {
        info.id(): info.memSize() + info.diskSize()
        for info in sc._jsc.sc().getRDDStorageInfo()
    }
