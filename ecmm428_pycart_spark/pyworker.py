"""Python worker daemon that imports pyspark from the installed package.

Spark starts each executor's Python worker daemon with ``PYTHONPATH``
led by ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip and
the spark-core jar, so the worker imports pyspark from those archives.
Every task then begins with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on CPython 3.11
``zipimporter.invalidate_caches()`` re-reads the archive's whole
central directory — once per zipimporter, and a reused worker holds one
per pyspark/py4j subpackage it imported (16 after a pandas UDF: 26,672
zip entries, 130-650 ms per task on a 4-vCPU VM).

``get_spark`` runs this module as ``spark.python.daemon.module``. Before
anything imports pyspark it drops the Spark archives from ``sys.path``
and their entries from ``sys.path_importer_cache``, then runs
``pyspark.daemon.manager()``. Workers therefore import the installed
pyspark, the same code the application process imports, and the
per-task cache invalidation has no zip left to re-read. Guards:

- only archives whose real path lies under ``realpath($SPARK_HOME)``
  are dropped, never a user ``--py-files`` archive;
- nothing changes unless pyspark and py4j are importable from the
  remaining path and the installed ``pyspark/version.py`` is
  byte-identical to the one inside the archive (read with ``zipfile``,
  no import).

Run only through ``python -m``; this module must not import pyspark at
module level.
"""

from __future__ import annotations

import os
import sys
import zipfile

_ARCHIVE_SUFFIXES = (".zip", ".jar")
_VERSION_FILE = "pyspark/version.py"


def _archive_of(entry: str) -> str | None:
    """The ``*.zip``/``*.jar`` file that path entry ``entry`` points
    into — itself, or a parent for sub-path keys such as
    ``…/pyspark.zip/pyspark/sql`` — or None."""
    p = entry
    while p:
        if p.endswith(_ARCHIVE_SUFFIXES) and os.path.isfile(p):
            return p
        parent = os.path.dirname(p)
        if parent == p:
            return None
        p = parent
    return None


def _under(path: str, root: str) -> bool:
    return os.path.realpath(path).startswith(root + os.sep)


def _installed(entries, rel: str) -> str | None:
    """First ``<entry>/<rel>`` that is a file (never inside an archive)."""
    for e in entries:
        f = os.path.join(e or os.curdir, rel)
        if os.path.isfile(f):
            return f
    return None


def _archive_version(archives) -> bytes | None:
    for a in archives:
        try:
            with zipfile.ZipFile(a) as z:
                return z.read(_VERSION_FILE)
        except (KeyError, OSError, zipfile.BadZipFile):
            continue
    return None


def select_path(path, cache_keys, spark_home: str):
    """Split the interpreter's import path for the daemon.

    Returns ``(kept_path, dropped_cache_keys)``: ``path`` without the
    Spark archives, and the ``sys.path_importer_cache`` keys that point
    into them. When the guards in the module docstring do not hold, the
    result is ``(list(path), [])`` — nothing changes."""
    path = list(path)
    root = os.path.realpath(spark_home)

    def spark_archive(entry):
        a = _archive_of(entry)
        return a if a is not None and _under(a, root) else None

    found = [spark_archive(e) for e in path]
    archives = [a for a in found if a is not None]
    if not archives:
        return path, []
    kept = [e for e, a in zip(path, found) if a is None]
    installed = _installed(kept, _VERSION_FILE)
    if (installed is None
            or _installed(kept, os.path.join("py4j", "__init__.py")) is None):
        return path, []
    with open(installed, "rb") as f:
        if f.read() != _archive_version(archives):
            return path, []
    dropped = [k for k in cache_keys
               if isinstance(k, str) and spark_archive(k) is not None]
    return kept, dropped


def main() -> None:
    spark_home = os.environ.get("SPARK_HOME")
    if spark_home:
        kept, dropped = select_path(sys.path, list(sys.path_importer_cache),
                                    spark_home)
        sys.path[:] = kept
        for k in dropped:
            sys.path_importer_cache.pop(k, None)
    from pyspark import daemon
    daemon.manager()


if __name__ == "__main__":
    main()
