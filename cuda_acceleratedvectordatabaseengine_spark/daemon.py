"""Python worker daemon that imports pyspark from its installed directory.

Spark starts its Python daemon with ``PYTHONPATH`` led by its own
archives: ``pyspark.zip``, py4j's source zip and the spark-core jar. Every
task then calls ``importlib.invalidate_caches()`` (``pyspark.worker_util``),
which on CPython 3.11 re-reads the zip directory of each archive importer
in ``sys.path_importer_cache``: 0.2-0.27 s per task on a 4-vCPU host,
against 2-25 ms of numpy work in an online search task (PERF.md, "Python
worker set-up").

``session.get_spark`` sets this module as ``spark.python.daemon.module``,
so the JVM runs ``python -m <this module> pyspark.worker``. Before pyspark
is imported, it drops from ``sys.path`` (and from the importer cache) each
archive that adds nothing the rest of the path lacks, then runs
``pyspark.daemon.manager()`` unchanged; the forked workers inherit the
shorter path. Any other archive, and any archive it cannot read, stays
where Spark put it.

Before ``manager()`` starts forking, the daemon also imports the modules
a worker imports on this package's tasks beyond what ``pyspark.daemon``
and ``pyspark.worker`` already import (``WORKER_IMPORTS``, read from a
worker's ``sys.modules`` after Arrow and Python-RDD tasks), then runs
``gc.collect(); gc.freeze()``. Each forked worker shares those pages
copy-on-write and skips the imports on its first task, and the full
``gc.collect()`` that ``pyspark.daemon`` runs in a reused worker after
every task no longer walks them: 44-53 ms per task on a 4-vCPU host
before, 0.10-0.15 ms after (PERF.md, "Python worker transport").
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipfile
from importlib.machinery import PathFinder, all_suffixes

_MODULE_SUFFIXES = tuple(all_suffixes())

# What a worker imports on this package's tasks beyond pyspark.worker's own
# imports, read from a worker's sys.modules: pyarrow for every Arrow batch,
# pandas and pyarrow.pandas_compat for pyarrow's conversions of numpy arrays
# and Python objects. numpy, which the kernels use, comes first; an
# installed pyspark.worker imports it already.
WORKER_IMPORTS = ("numpy", "pyarrow", "pandas", "pyarrow.pandas_compat")


def redundant_archive(archive: str, rest: list[str]) -> bool:
    """True when ``archive`` holds no Python file (a jar), or when each of
    its top-level packages resolves over the ``rest`` path to a directory
    package whose ``version.py`` is byte-identical to the archive's copy.
    A top-level module, a package ``rest`` lacks or resolves elsewhere than
    a directory, a differing or missing ``version.py`` and any read error
    all keep the archive."""
    try:
        with zipfile.ZipFile(archive) as zf:
            names = zf.namelist()
            if not any(n.endswith(_MODULE_SUFFIXES) for n in names):
                return True
            if any("/" not in n and n.endswith(_MODULE_SUFFIXES) for n in names):
                return False
            for top in {n.split("/")[0] for n in names if "/" in n}:
                spec = PathFinder.find_spec(top, rest)
                if (
                    spec is None
                    or spec.submodule_search_locations is None
                    or not spec.has_location
                ):
                    return False
                installed = os.path.join(os.path.dirname(spec.origin), "version.py")
                with open(installed, "rb") as f:
                    if f.read() != zf.read(f"{top}/version.py"):
                        return False
            return True
    except Exception:  # unreadable in any way: leave the path as Spark set it
        return False


def prune_archives(path: list[str], importer_cache: dict) -> list[str]:
    """Remove the redundant archives from ``path`` in place, and their
    cached importers from ``importer_cache``; return the removed entries.
    Redundancy is judged against the path's non-archive entries only."""
    archives = [p for p in path if os.path.isfile(p)]
    rest = [p for p in path if p not in archives]
    dropped = [a for a in archives if redundant_archive(a, rest)]
    path[:] = [p for p in path if p not in dropped]
    for a in dropped:
        importer_cache.pop(a, None)
    return dropped


def preload() -> None:
    """Import ``WORKER_IMPORTS``, skipping any that is not installed, then
    collect and freeze the heap."""
    for name in WORKER_IMPORTS:
        try:
            importlib.import_module(name)
        except ImportError:
            pass  # a task that needs it raises there, as without the preload
    gc.collect()
    gc.freeze()


if __name__ == "__main__":
    prune_archives(sys.path, sys.path_importer_cache)
    from pyspark.daemon import manager  # imports the worker module too

    preload()
    manager()
