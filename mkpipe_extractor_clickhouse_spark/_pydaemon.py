"""Spark's Python daemon, minus the archives site-packages already holds.

Spark's launcher puts ``pyspark.zip``, py4j's source zip and the
spark-core jar at the front of every Python worker's ``sys.path``.  On
Python 3.11 each ``zipimporter`` cached for them (one per imported
pyspark subpackage) re-reads its archive's central directory on every
``importlib.invalidate_caches()``, and the worker calls that once per
task (``pyspark.worker_util.setup_spark_files``): about 75 ms of CPU per
task on a 4-core host.  Run as ``spark.python.daemon.module``, this
module drops an archive from ``sys.path`` and ``sys.path_importer_cache``
only where the installed distribution is the same version (or, for a
jar, where it holds no Python), then runs ``pyspark.daemon.manager()``;
the workers it forks inherit the path.  Any other entry, or a version
mismatch, stays where Spark put it.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile

_VERSION = re.compile(r"""__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)['"]""")


def _kind(entry: str) -> str | None:
    """``pyspark``/``py4j`` for their source archives, ``jar`` for a jar."""
    name = os.path.basename(entry)
    if name == "pyspark.zip":
        return "pyspark"
    if name.startswith("py4j-") and name.endswith(".zip"):
        return "py4j"
    return "jar" if name.endswith(".jar") else None


def shed(path: list[str], installed: dict[str, str],
         archives: dict[str, tuple[list[str], str | None]]) -> list[str]:
    """``path`` without the archives site-packages makes redundant.

    ``installed`` maps a distribution (``pyspark``, ``py4j``) to its
    installed version and omits one that is not installed.  ``archives``
    maps a readable archive entry of ``path`` to its member names and
    the ``__version__`` its ``pyspark/version.py`` or ``py4j/version.py``
    declares (None without one); an entry it omits is kept.  Kept
    entries keep their order.
    """
    def redundant(entry: str) -> bool:
        kind = _kind(entry)
        if kind is None or entry not in archives:
            return False
        members, version = archives[entry]
        if kind == "jar":
            return not any(m.endswith((".py", ".pyc")) for m in members)
        return version is not None and installed.get(kind) == version

    return [e for e in path if not redundant(e)]


def _read(entry: str) -> tuple[list[str], str | None]:
    with zipfile.ZipFile(entry) as z:
        names = z.namelist()
        version = None
        for inner in ("pyspark/version.py", "py4j/version.py"):
            if inner in names:
                m = _VERSION.search(z.read(inner).decode("utf-8", "replace"))
                version = m.group(1) if m else None
    return names, version


def _installed() -> dict[str, str]:
    from importlib import metadata

    out = {}
    for dist in ("pyspark", "py4j"):
        try:
            out[dist] = metadata.version(dist)
        except metadata.PackageNotFoundError:
            pass
    return out


def main() -> None:
    archives = {}
    for entry in sys.path:
        if _kind(entry) and os.path.isfile(entry):
            try:
                archives[entry] = _read(entry)
            except (OSError, zipfile.BadZipFile):
                pass
    kept = shed(sys.path, _installed(), archives)
    dropped = [e for e in sys.path if e not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del sys.path_importer_cache[key]
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
