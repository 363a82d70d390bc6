"""Spark's Python daemon, started without Spark's own archives on ``sys.path``.

``session.build_session`` sets this module as ``spark.python.daemon.module``.
The JVM puts ``pyspark.zip``, the py4j zip and the spark-core jar first
on every Python worker's path, and ``pyspark.worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()`` at the start of every task.  On
CPython 3.11 each cached ``zipimporter`` then re-reads its archive's
whole central directory, about 6,700 entries over the three archives.

When the directories left on the path still provide the same pyspark
(a byte-identical ``pyspark/version.py``) and a py4j, this module drops
the archives and their importer-cache entries before it starts
``pyspark.daemon``, and the forked workers inherit the shorter path.
Otherwise the path stays as it is.  ``--py-files`` archives are added
per task, after this runs, so they always stay.
"""

from __future__ import annotations

import os
import sys
import zipfile
from collections.abc import Iterable, MutableMapping, Sequence


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return name.endswith(".jar") or (
        name.endswith(".zip") and name.startswith(("pyspark", "py4j"))
    )


def _first_file(path: Iterable[str], rel: str) -> str | None:
    return next((f for f in (os.path.join(p, rel) for p in path) if os.path.isfile(f)), None)


def spark_free_path(path: Sequence[str]) -> list[str]:
    """``path`` without Spark's archives, or ``path`` unchanged when the
    entries left would not import the archives' pyspark and a py4j."""
    kept = [p for p in path if not _is_spark_archive(p)]
    installed = _first_file(kept, "pyspark/version.py")
    if len(kept) == len(path) or installed is None or not _first_file(kept, "py4j/__init__.py"):
        return list(path)
    with open(installed, "rb") as f:
        version = f.read()
    try:
        for z in path:
            if z.endswith(".zip") and os.path.basename(z).startswith("pyspark"):
                with zipfile.ZipFile(z) as zf:
                    if zf.read("pyspark/version.py") != version:
                        return list(path)
    except (OSError, KeyError, zipfile.BadZipFile):
        return list(path)
    return kept


def evict(cache: MutableMapping, dropped: Iterable[str]) -> None:
    """Remove the importer-cache entries of ``dropped`` path entries,
    including sub-entries such as ``spark-core.jar/org``."""
    prefixes = tuple(d + os.sep for d in dropped)
    for key in [k for k in cache if isinstance(k, str) and (k + os.sep).startswith(prefixes)]:
        del cache[key]


def strip_spark_archives() -> None:
    """Apply :func:`spark_free_path` to this process's ``sys.path``."""
    kept = spark_free_path(sys.path)
    dropped = set(sys.path) - set(kept)
    sys.path[:] = kept
    evict(sys.path_importer_cache, dropped)


if __name__ == "__main__":
    strip_spark_archives()
    from pyspark.daemon import manager

    manager()
