"""PySpark daemon that stops each task from re-reading Spark's own archives.

Spark starts it as ``python -m graft_daemon`` when a session sets
``spark.python.daemon.module=graft_daemon`` and puts this directory on
the workers' ``PYTHONPATH`` (see ``flink_kmeans_spark.session.get_spark``).
It runs the stock ``pyspark.daemon`` with one change per task.

Every task starts with ``pyspark.worker_util.setup_spark_files``, which
calls ``importlib.invalidate_caches()``. On CPython 3.10-3.12 every
``zipimporter`` in ``sys.path_importer_cache`` then re-reads the whole
directory of its archive: one importer per imported sub-package of
``pyspark.zip``, plus py4j and the spark-core jar. Those archives are
Spark's own and do not change while the daemon runs, so before each
task this module drops their importers from the cache. The
invalidation then has nothing to re-read, and an import that needs one
of them again rebuilds it from zipimport's directory cache. Archives
that tasks add later (``addPyFile``, ``pyFiles``) are not recorded and
keep their per-task refresh.

This directory holds nothing else: the engine package must stay
unimportable on workers, so that a function pickled by reference fails
in every test instead of only outside the repository.
"""

from __future__ import annotations

import sys
import zipimport


def spark_archives(cache: dict) -> frozenset:
    """The archives behind the zipimporters already in ``cache``."""
    return frozenset(
        finder.archive
        for finder in cache.values()
        if isinstance(finder, zipimport.zipimporter)
    )


def prune(cache: dict, archives: frozenset) -> None:
    """Drop the ``cache`` entries whose zipimporter reads one of
    ``archives``; entries over any other archive or directory stay."""
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter) and finder.archive in archives:
            del cache[path]


def main() -> None:
    import pyspark.daemon as daemon

    # Recorded before the daemon forks any worker, so only the archives
    # on the daemon's own start-up path count as Spark's.
    archives = spark_archives(sys.path_importer_cache)
    run_task = daemon.worker_main

    def worker_main(infile, outfile):
        prune(sys.path_importer_cache, archives)
        return run_task(infile, outfile)

    daemon.worker_main = worker_main
    daemon.manager()


if __name__ == "__main__":
    main()
