"""SparkSession construction for the engine.

Local-mode defaults follow the 100 TB design posture scaled down: AQE on
(runtime re-plan, skew-join splitting, partition coalescing), shuffle
partitions sized to the core count rather than the 200 default, UTC
session timezone so timestamp semantics are independent of host TZ, and
Arrow enabled for the pandas-UDF slow path.

Under a ``local`` master, Python workers start from ``_pydaemon``
(``spark.python.daemon.module``), which takes Spark's ``pyspark.zip``,
py4j zip and spark-core jar off the worker's ``sys.path`` where pip
installed the same versions, so a task no longer re-reads those
archives (about 75 ms of CPU per Python task on a 4-core host).  The
package's parent directory is appended to
``spark.executorEnv.PYTHONPATH`` so the worker can import the module
from any working directory.  Only ``get_spark`` sets this: a session
the caller builds itself (the default-config session that runs
``__spark_entry__.py``, ``scripts/driver_sim.py``'s) keeps Spark's
default daemon and worker path.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

from . import _pydaemon

_log = logging.getLogger(__name__)

# Heap size the broadcast/sort-spill OOM fixes were validated at (16g on the
# 128 GiB build host).  Anything at or above this floor is known-good; below
# it we warn so mid-size hosts don't silently regress (ADVICE r10).
_VALIDATED_FLOOR_GIB = 4


def _default_driver_mem() -> str:
    """Driver heap sized from host RAM: ~1/8, clamped to [1, 16] GiB.

    Floor of 4 GiB when the host has >=16 GiB RAM: RAM/8 alone gives 2-4g
    on 16-32 GiB hosts, which can reintroduce the broadcast/sort-spill OOMs
    the sized heap exists to prevent (ADVICE r10).
    """
    try:
        pages = os.sysconf("SC_PHYS_PAGES")
        page_size = os.sysconf("SC_PAGE_SIZE")
        total_gib = pages * page_size / (1 << 30)
    except (ValueError, OSError, AttributeError):
        return "2g"
    floor = _VALIDATED_FLOOR_GIB if total_gib >= 16 else 1
    return f"{max(floor, min(16, int(total_gib / 8)))}g"


def _driver_mem() -> str:
    """Resolve the driver heap (env override > host-sized default) and log it.

    The choice is logged at session build (INFO), and escalated to WARNING
    when the computed heap lands below the validated floor with no explicit
    override — the silent-regression case ADVICE r10 called out.
    """
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    mem = override or _default_driver_mem()
    gib = float(mem[:-1]) if mem.endswith("g") else 0.0
    if not override and gib and gib < _VALIDATED_FLOOR_GIB:
        _log.warning(
            "spark.driver.memory=%s is below the %dg the broadcast/spill "
            "fixes were validated at; set SPARK_GRAFT_DRIVER_MEM to override",
            mem, _VALIDATED_FLOOR_GIB,
        )
    else:
        _log.info("spark.driver.memory=%s (%s)", mem,
                  "SPARK_GRAFT_DRIVER_MEM override" if override else "host-sized default")
    return mem


def get_spark(
    app_name: str = "mkpipe_spark_engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0)
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus if cpus else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet carries a TIMESTAMP(NANOS) column Spark cannot
        # map natively; read it as long and convert (catalog.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.maxResultSize", "4g")
        # local mode runs every executor thread inside the driver JVM;
        # the 1g default heap starves 32 concurrent tasks (observed:
        # broadcast builds and sort-spill reads OOMing a long session
        # at ~10k tasks). Sized from the HOST, not hard-coded (ADVICE
        # r9): ~1/8 of physical RAM, clamped to [1g, 16g] — 16g on the
        # 128 GiB build host, safe on small CI/dev machines where a
        # hard 16g -Xmx can fail JVM startup. Only effective when this
        # builder launches the JVM (not on getOrCreate reuse).
        .config("spark.driver.memory", _driver_mem())
        # 16 MB split targets: keeps small-corpus scans parallel across
        # local cores (the fixture files are 1-11 MB); at cluster scale
        # this is a common tuning point (16-64 MB) that trades task
        # count for scheduling overhead — AQE coalesces the excess.
        .config("spark.sql.files.maxPartitionBytes", "16m")
    )
    conf = dict(extra_conf or {})
    if master.startswith("local"):
        # A cluster's executors need not have this path; they keep
        # Spark's default daemon.
        pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        pythonpath = conf.pop("spark.executorEnv.PYTHONPATH", "")
        builder = builder.config("spark.python.daemon.module", _pydaemon.__name__).config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(p for p in (pythonpath, pkg_parent) if p),
        )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
