"""Executor-side per-task hygiene for the functions the engine ships to
Python workers.

A reused PySpark worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark/worker_util.setup_spark_files``). On
CPython 3.11 that re-reads the central directory of every
``zipimporter`` held in ``sys.path_importer_cache``: the spark-core jar,
``pyspark.zip`` and the py4j zip, about 26k records per task, which
costs more than a small BM25 kernel task itself (PLANS.md §14).

:func:`forget_archive_importers` drops those entries. The cache is only
a memo: the path hooks rebuild an entry the next time an import has to
search that archive, and modules already imported are untouched. Every
function the engine ships to executors calls it first, on every call: a
one-time prune at import is undone by the workers' own optional-dependency
probe imports (pandas, pyarrow), which re-create the top-level archive
entries.
"""

from __future__ import annotations

import sys
import zipimport


def forget_archive_importers() -> None:
    """Delete every ``zipimporter`` from ``sys.path_importer_cache`` so
    the next task's ``invalidate_caches()`` has no archive to re-read."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)
