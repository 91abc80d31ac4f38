"""Python task entry: the one hook every Python task body in the library
runs when Spark calls it on a worker.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark/worker_util.py``, ``setup_spark_files``).  Before Python 3.12,
that makes each ``zipimporter`` cached in ``sys.path_importer_cache`` re-read
its whole archive directory.  A warm worker caches one finder per archive
on ``sys.path``, and one per package directory inside it, that an import
has walked past: the 14 ``pyspark.zip`` finders alone cost 100-200 ms of
CPU per task on a 4-core host, before the body does any work.  The same
holds for every other zip on the worker's path,
including the engine itself when it ships as a ``--py-files`` archive
(``scripts/make_pyfiles.py``).

``task_start`` evicts those finders together with their
``zipimport._zip_directory_cache`` entries, so the next task on the same
worker finds nothing to re-read.  Modules already imported keep their
loaders; a finder the import system rebuilds on demand (a module imported
for the first time on this worker) reads its archive once and never
serves a stale directory.  The walk over the cache costs microseconds.

``task_entry`` wraps a task body so the hook runs whenever Spark calls it:
once per partition for ``mapInPandas``/``mapInArrow`` bodies, once per
group for ``applyInPandas*`` bodies, once per batch for a ``pandas_udf``.
The wrapper carries the body's signature, so ``pandas_udf`` infers the same
eval type from its type hints.  ``tests/test_worker_entry.py`` checks that
every body in the library is wrapped.
"""

from __future__ import annotations

import functools
import inspect
import sys
import zipimport


def task_start() -> None:
    """Evict cached zip-archive import finders (see the module docstring)."""
    for key, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[key]
            zipimport._zip_directory_cache.pop(finder.archive, None)  # noqa: SLF001


def task_entry(fn):
    """Wrap a Python task body so ``task_start`` runs each time Spark calls
    it; the body itself stays a plain function (``__wrapped__``)."""

    @functools.wraps(fn)
    def body(*args, **kwargs):
        task_start()
        return fn(*args, **kwargs)

    # pandas_udf's eval-type inference and the worker's applyInPandas
    # key-argument check read the signature without following __wrapped__.
    body.__signature__ = inspect.signature(fn)
    return body
