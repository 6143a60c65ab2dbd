"""The Python worker daemon ``session.get_spark`` starts for a local
session: the stock ``pyspark.daemon.manager()``, after two fixes made
once, before it forks a worker per task.

- Spark puts ``pyspark.zip``, py4j's zip and the ``spark-core`` jar on
  the worker's PYTHONPATH, and every task's ``setup_spark_files`` calls
  ``importlib.invalidate_caches()``, which makes zipimport re-parse each
  archive's central directory in Python. When ``pyspark`` and ``py4j``
  both resolve from the path's directories, at the version Spark put on
  the path, the archive entries are dropped; otherwise the path is left
  as Spark set it.
- The modules a pandas-UDF task imports anyway are imported here and
  the heap is frozen, so the ``gc.collect()`` the daemon runs after each
  task skips it.

Forking after this preload is safe. The stock daemon already forks with
numpy's OpenBLAS pool alive; the preload adds only jemalloc's background
thread, started when pandas imports pyarrow. Both libraries register
``pthread_atfork`` handlers (OpenBLAS rebuilds its pool in the child;
jemalloc holds its locks across the fork and resets its background
thread state in the child), and Arrow's own thread pools re-create
themselves after a fork. No Python thread is running when the daemon
forks.
"""

from __future__ import annotations

import gc
import importlib.machinery
import os
import sys


def _version_file(name: str, path: list[str]) -> bytes | None:
    spec = importlib.machinery.PathFinder.find_spec(name, path)
    if spec is None or spec.origin is None:
        return None
    try:
        return spec.loader.get_data(
            os.path.join(os.path.dirname(spec.origin), "version.py")
        )
    except OSError:
        return None


def directory_path(path: list[str]) -> list[str]:
    """``path`` without its non-directory entries, when ``pyspark`` and
    ``py4j`` both resolve from what is left, with the same ``version.py``
    as from ``path``; otherwise ``path``."""
    dirs = [p for p in path if os.path.isdir(p or ".")]
    for name in ("pyspark", "py4j"):
        lean = _version_file(name, dirs)
        if lean is None or lean != _version_file(name, path):
            return list(path)
    return dirs


def main() -> None:
    kept = directory_path(sys.path)
    for p in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(p, None)
    sys.path[:] = kept

    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    from pyspark import daemon  # imports the worker module, pyspark.worker

    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
