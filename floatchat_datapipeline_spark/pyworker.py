"""Python worker daemon for sessions built by ``session.get_spark``.

PySpark starts every Python task with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.10+ that makes
each ``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's whole central directory. The workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip``, and a warm worker holds one
zipimporter per imported pyspark package directory, so each task re-read
that directory about 16 times: roughly 0.2 s of CPU per task.

This module wraps ``pyspark.daemon`` (Spark runs it as
``python -m <spark.python.daemon.module> <worker module>``). Each task
first drops the cached zipimporters, then runs the usual worker main.
Imports stay correct: a later import that needs an importer rebuilds it
from zipimport's in-memory directory cache, and the invalidation still
runs, so files added with ``addPyFile`` stay visible.
"""

from __future__ import annotations

import sys
import zipimport

from pyspark import daemon

_task_main = daemon.worker_main


def main(infile, outfile):
    """Per-task entry: drop the cached zipimporters, then run the task."""
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        del cache[path]
    return _task_main(infile, outfile)


if __name__ == "__main__":
    daemon.worker_main = main
    daemon.manager()
