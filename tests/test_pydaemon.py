"""The engine's Python daemon (``_pydaemon``): workers import pyspark from
site-packages, not from Spark's archives, and still start from any
working directory."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

from mkpipe_extractor_clickhouse_spark._pydaemon import shed

REPO = Path(__file__).resolve().parent.parent

ZIP = "/spark/python/lib/pyspark.zip"
PY4J = "/spark/python/lib/py4j-0.10.9.9-src.zip"
JAR = "/spark/jars/spark-core_2.13-4.1.2.jar"
INSTALLED = {"pyspark": "4.1.2", "py4j": "0.10.9.9"}


ARCHIVES = {
    ZIP: (["pyspark/__init__.py", "pyspark/version.py"], "4.1.2"),
    PY4J: (["py4j/__init__.py", "py4j/version.py"], "0.10.9.9"),
    JAR: (["org/apache/spark/SparkContext.class", "META-INF/MANIFEST.MF"], None),
}


def test_shed_drops_redundant_archives_and_keeps_order():
    path = ["/work", ZIP, PY4J, JAR, "/usr/lib/python311.zip", "/site-packages"]
    assert shed(path, INSTALLED, ARCHIVES) == [
        "/work", "/usr/lib/python311.zip", "/site-packages",
    ]


def test_shed_keeps_pyspark_zip_on_version_mismatch():
    path = ["/work", ZIP, "/site-packages"]
    assert shed(path, {**INSTALLED, "pyspark": "4.0.0"}, ARCHIVES) == path
    unversioned = {**ARCHIVES, ZIP: (["pyspark/__init__.py"], None)}
    assert shed(path, INSTALLED, unversioned) == path


def test_shed_keeps_jar_holding_python():
    path = [JAR, "/site-packages"]
    for members in (["pyspark/__init__.py", "Foo.class"], ["pkg/mod.pyc"]):
        assert shed(path, INSTALLED, {**ARCHIVES, JAR: (members, None)}) == path


def test_shed_keeps_py4j_zip_when_py4j_not_installed():
    path = [ZIP, PY4J, "/site-packages"]
    assert shed(path, {"pyspark": "4.1.2"}, ARCHIVES) == [PY4J, "/site-packages"]


def test_shed_keeps_unread_and_non_archive_entries_in_order():
    path = ["/b", ZIP, "/a", "", "/c.egg", JAR, "/d"]
    assert shed(path, INSTALLED, {}) == path
    assert shed(path, INSTALLED, ARCHIVES) == ["/b", "/a", "", "/c.egg", "/d"]


def test_workers_import_pyspark_outside_archives(spark):
    """Locks the saving in: a task sees no zipimporter to re-read."""

    def probe(batches):
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark

        for _ in batches:
            pass
        zips = [
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
        ]
        yield pa.RecordBatch.from_pylist(
            [{"file": pyspark.__file__, "zips": "\n".join(zips)}]
        )

    rows = spark.range(2, numPartitions=2).mapInArrow(probe, "file string, zips string").collect()
    assert len(rows) == 2
    for r in rows:
        assert os.path.isfile(r.file), r.file
        assert not any(p.endswith((".zip", ".jar")) for p in Path(r.file).parts), r.file
        assert r.zips == ""


FOREIGN_CWD = """
import sys
sys.path.insert(0, {repo!r})
from mkpipe_extractor_clickhouse_spark.registry import all_specs
from mkpipe_extractor_clickhouse_spark.session import get_spark

spark = get_spark(app_name="foreign_cwd", master="local[2]", shuffle_partitions=2)
specs = all_specs()
for q in ("l4c_packed_topk", "l20_kmeans_ivf"):
    print(q, len(specs[q].builder(spark, {sf!r}).collect()))
spark.stop()
"""


def test_python_tasks_run_from_a_foreign_cwd(tmp_path, sf_dir):
    """The daemon module is found through ``spark.executorEnv.PYTHONPATH``,
    not through the driver's working directory."""
    small = Path(sf_dir).with_name("sf0.001")
    sf = str(small if small.is_dir() else sf_dir)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", FOREIGN_CWD.format(repo=str(REPO), sf=sf)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    counts = dict(line.split() for line in out.stdout.splitlines() if line.startswith(("l4c", "l20")))
    assert set(counts) == {"l4c_packed_topk", "l20_kmeans_ivf"}, out.stdout
    assert all(int(n) > 0 for n in counts.values()), counts
