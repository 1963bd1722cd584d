"""PySpark's worker daemon, started on a worker path without dead archives.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
Spark puts ``pyspark.zip``, the py4j zip and the spark-core jar at the
front of the workers' ``PYTHONPATH``.  Every Python task calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``),
and on CPython 3.11 that makes every zipimporter in
``sys.path_importer_cache`` re-read its whole archive directory: 160-260 ms
of worker CPU per task, whatever the task does (3.12 made the re-read lazy).

Before PySpark is imported, this module drops from ``sys.path``, and from
``sys.path_importer_cache`` (``python -m`` already made importers for them
while it located this module):

- ``pyspark.zip`` when the installed ``pyspark`` is the same release
  (byte-identical ``pyspark/version.py``), so the import falls through to
  the installed package;
- every ``.zip``/``.jar`` entry that holds no Python source or bytecode.

It then runs PySpark's own daemon; the forked workers inherit the path.
This module and the package ``__init__`` must not import PySpark.
"""

from __future__ import annotations

import os
import sys
import traceback
import zipfile
from importlib.machinery import PathFinder

_ARCHIVE_SUFFIXES = (".zip", ".jar")
_PY_SUFFIXES = (".py", ".pyc")
_VERSION_FILE = "pyspark/version.py"


def _archive_names(path: str) -> list[str] | None:
    """The member names of the archive at ``path``; ``None`` when ``path``
    is not a readable archive."""
    if not path.lower().endswith(_ARCHIVE_SUFFIXES) or not os.path.isfile(path):
        return None
    try:
        with zipfile.ZipFile(path) as zf:
            return zf.namelist()
    except (OSError, zipfile.BadZipFile):
        return None


def _installed_pyspark_version(path: list[str]) -> bytes | None:
    """``pyspark/version.py`` of the first ``pyspark`` package found in a
    plain directory on ``path``."""
    dirs = [p for p in path if not p.lower().endswith(_ARCHIVE_SUFFIXES)]
    spec = PathFinder.find_spec("pyspark", dirs)
    if spec is None or not spec.has_location:
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as f:
            return f.read()
    except OSError:
        return None


def droppable_archives(path: list[str]) -> list[str]:
    """The archive entries of ``path`` that workers import nothing from:
    archives without Python files, and a ``pyspark.zip`` shadowing the
    same installed PySpark release."""
    drop = []
    for entry in path:
        names = _archive_names(entry)
        if names is None:
            continue
        if not any(n.endswith(_PY_SUFFIXES) for n in names):
            drop.append(entry)
        elif os.path.basename(entry) == "pyspark.zip" and _VERSION_FILE in names:
            with zipfile.ZipFile(entry) as zf:
                if zf.read(_VERSION_FILE) == _installed_pyspark_version(path):
                    drop.append(entry)
    return drop


def drop_archives(path: list[str], importer_cache: dict) -> list[str]:
    """Remove :func:`droppable_archives` from ``path`` in place, and every
    importer cached for them or for a directory inside them.  Returns the
    dropped entries."""
    drop = droppable_archives(path)
    path[:] = [p for p in path if p not in drop]
    prefixes = tuple(d + os.sep for d in drop)
    for key in [*importer_cache]:
        if key in drop or key.startswith(prefixes):
            del importer_cache[key]
    return drop


def main() -> None:
    try:
        drop_archives(sys.path, sys.path_importer_cache)
    except Exception:  # workers then run on Spark's path, only slower
        traceback.print_exc()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
