"""Python worker bootstrap: start PySpark's daemon without Spark's own
archives on the import path.

Spark starts each executor's Python daemon as ``python -m <module>`` with
``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the ``spark-core``
jar at the front of ``PYTHONPATH``. Every task then runs
``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``; on Python 3.11 that makes every cached
``zipimporter`` re-read its archive's whole directory (1,328 entries for
pyspark.zip, 5,359 for the jar, which holds no Python at all). That is
~60 ms of worker CPU per task before any user code runs.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
When the same pyspark is installed as a directory (with py4j) on the path
— its ``pyspark/version.py`` byte-identical to the zip's — the archives are
dropped from ``sys.path`` and their cached importers from
``sys.path_importer_cache``, so pyspark and py4j load from the directory
install. Otherwise the path is left as it is, which is Spark's stock
behaviour. Archives added later (``addPyFile``, ``--py-files``) are put on
the path per task by pyspark and are not touched.

This module, and the package ``__init__`` that ``-m`` imports before it,
must not import pyspark: the swap has to happen before the first pyspark
import.
"""

from __future__ import annotations

import os
import sys
import zipfile

_SPARK_ARCHIVE_PREFIXES = ("pyspark", "py4j", "spark-")
_VERSION_FILE = ("pyspark", "version.py")


def _is_spark_archive(entry: str) -> bool:
    base = os.path.basename(entry)
    return base.endswith((".zip", ".jar")) and base.startswith(_SPARK_ARCHIVE_PREFIXES)


def _zip_version(archive: str) -> bytes | None:
    try:
        with zipfile.ZipFile(archive) as zf:
            return zf.read("/".join(_VERSION_FILE))
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _dir_version(path: list[str]) -> bytes | None:
    """``pyspark/version.py`` of the first directory install of pyspark on
    ``path`` — the one an import would load — provided py4j is importable
    from a directory on ``path`` too."""
    if not any(os.path.isfile(os.path.join(p, "py4j", "__init__.py")) for p in path):
        return None
    for p in path:
        if os.path.isfile(os.path.join(p, "pyspark", "__init__.py")):
            try:
                with open(os.path.join(p, *_VERSION_FILE), "rb") as f:
                    return f.read()
            except OSError:
                return None
    return None


def worker_path(path: list[str]) -> list[str]:
    """The import path a worker should use, given Spark's ``path``.

    Returns ``path`` without its ``pyspark*``/``py4j*``/``spark-*`` archives
    when a directory install of the same pyspark (and py4j) remains on it;
    otherwise a copy of ``path`` unchanged. Reads the files it names and
    changes nothing.
    """
    archives = [p for p in path if _is_spark_archive(p)]
    rest = [p for p in path if not _is_spark_archive(p)]
    zipped = [_zip_version(a) for a in archives if os.path.basename(a).startswith("pyspark")]
    zipped = [v for v in zipped if v is not None]
    if len(zipped) != 1 or _dir_version(rest) != zipped[0]:
        return list(path)
    return rest


def _bootstrap() -> None:
    keep = worker_path(sys.path)
    dropped = [p for p in sys.path if p not in keep]
    if not dropped:
        return
    sys.path[:] = keep
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in dropped):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    _bootstrap()
    import pyspark.daemon

    pyspark.daemon.manager()
