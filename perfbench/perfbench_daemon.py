"""Python worker daemon for the benchmark's Spark session: PySpark's own
daemon, with the archives taken off the workers' import path.

Spark puts ``pyspark.zip``, the py4j zip and its core jar on every Python
worker's ``PYTHONPATH``. PySpark 4.1's worker calls
``importlib.invalidate_caches()`` at the start of every task, and on Python
3.11 that makes ``zipimport`` re-read the central directory of every archive
on ``sys.path``: most of a Python task's cost on a 4-core host (see
README.md). When the interpreter has its own ``pyspark`` and ``py4j``
installed, as the benchmark process that starts Spark does, the workers
import those instead; otherwise the path is left as Spark set it.

Started by Spark as ``python -m perfbench_daemon`` (``spark.python.daemon.module``).
"""

import sys
from importlib.machinery import PathFinder


def _drop_archives() -> None:
    kept = [p for p in sys.path if not p.endswith((".zip", ".jar"))]
    if any(PathFinder.find_spec(m, kept) is None for m in ("pyspark", "py4j")):
        return
    for p in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(p, None)
    sys.path[:] = kept


_drop_archives()

from pyspark import daemon  # noqa: E402

if __name__ == "__main__":
    daemon.manager()
